package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.model._

/** Engine write jobs carry their shape in their own plans: they leave the
  * session's confs alone, and they keep one file per touched bucket under
  * whatever AQE and shuffle width the session runs with. A merge shuffles
  * its batch and nothing else; a maintenance rewrite reads its buckets in
  * place, so it runs no shuffle, and a rebucket one, of the winners. */
class EngineJobShapeSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val aqeKey = "spark.sql.adaptive.enabled"
  private val widthKey = "spark.sql.shuffle.partitions"

  /** Run `f` with session confs set, restoring the previous values after. */
  private def withConfs[T](confs: (String, String)*)(f: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Upsert events for paths `ids`, LSNs from `lsn0`, in the RepoRow shape. */
  private def events(ids: Seq[Long], lsn0: Long): DataFrame = {
    import spark.implicits._
    ids.map(i => (lsn0 + i, "U", s"r${i % 7}", s"p$i", s"c$lsn0-$i", "scala", s"x$lsn0-$i"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content")
  }

  /** Run `op`: per query it runs, whether the query writes files and its
    * shuffle exchanges, AQE query stages included; and the shuffle records
    * the stages of its writes wrote, from the task metrics on the listener
    * bus. */
  private def shuffles[T](op: => T): (T, Seq[(Boolean, Int)], Long) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val writes = ConcurrentHashMap.newKeySet[String]()
    val executionOf = new ConcurrentHashMap[Int, String]()
    val recordsOf = new ConcurrentHashMap[Int, Long]()
    val stages = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes.add(s.executionId.toString); ()
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => j.stageIds.foreach(executionOf.put(_, id)))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        recordsOf.put(s.stageInfo.stageId, s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten); ()
      }
    }
    spark.listenerManager.register(queries)
    spark.sparkContext.addSparkListener(stages)
    val out = try { val o = op; awaitStable(plans.size + recordsOf.size); o }
    finally {
      spark.listenerManager.unregister(queries)
      spark.sparkContext.removeSparkListener(stages)
    }
    val perQuery = plans.asScala.toSeq.map(p => (collect(p) { case w: DataWritingCommandExec => w }.nonEmpty,
      collect(p) { case e: ShuffleExchangeExec => e }.size))
    val records = recordsOf.asScala.collect {
      case (stage, n) if Option(executionOf.get(stage)).exists(writes.contains) => n
    }.sum
    (out, perQuery, records)
  }

  /** Run `op` and assert that the queries it runs plan exactly `want`
    * shuffle exchanges between them. */
  private def exchanges[T](what: String, want: Int)(op: => T): T = {
    val (out, perQuery, _) = shuffles(op)
    assert(perQuery.map(_._2).sum == want, s"$what: shuffle exchanges per query ${perQuery.map(_._2)}, want $want in all")
    out
  }

  private def bucketsOf(t: LakeTable, df: DataFrame): Set[Int] =
    df.select(t.bucketExpr(t.snapshot)).distinct().collect().map(_.getInt(0)).toSet

  test("a merge leaves the session alone: a concurrent user query keeps its AQE and shuffle width") {
    withConfs(aqeKey -> "true", widthKey -> "6") {
      // 4096 buckets and ~1.5k touched keys: a merge long enough for the
      // user thread to plan many queries while the engine's jobs run
      val table = LakeTable.createIfNotExists(spark, tmpDir("iso"), "t",
        RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4096)
      val batch = gen.changeEvents(spark, gen.GenConfig(n = 3000, nKeys = 2000, numPartitions = 4))
      @volatile var result: Either[Throwable, CommitResult] = null
      val merger = new Thread(() =>
        result = try Right(table.merge(batch, epochId = 0)) catch { case e: Throwable => Left(e) })
      merger.start()
      def exchangeWidth(p: SparkPlan): Option[Int] =
        p.collectFirst { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
      val seen = Seq.newBuilder[(String, String, Boolean, Option[Int])]
      while (merger.isAlive) {
        val plan = spark.range(1000).groupBy(col("id") % 10).count().queryExecution.executedPlan
        val width = plan match {
          case a: AdaptiveSparkPlanExec => exchangeWidth(a.executedPlan) // the initial plan
          case p => exchangeWidth(p)
        }
        seen += ((spark.conf.get(aqeKey), spark.conf.get(widthKey),
          plan.isInstanceOf[AdaptiveSparkPlanExec], width))
      }
      merger.join()
      result.left.foreach(e => throw e)
      assert(result.toOption.get.committed)
      val samples = seen.result()
      assert(samples.nonEmpty, "the user thread must plan at least once while the merge runs")
      info(s"${samples.size} user-query plans during the merge")
      val off = samples.filterNot(_ == (("true", "6", true, Some(6))))
      assert(off.size == 0, s"of ${samples.size} user-query samples, these saw engine confs: " +
        off.distinct.take(3).mkString(", "))
    }
  }

  for (nb <- Seq(32, 256)) {
    test(s"$nb buckets under AQE and shuffle width 200: every write leaves one new file per touched bucket") {
      withConfs(aqeKey -> "true", widthKey -> "200") {
        val t = LakeTable.createIfNotExists(spark, tmpDir(s"layout$nb"), "t",
          RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = nb)
        /** Run `write`, then assert its new files are one per bucket of `expected`. */
        def oneFilePerBucket(what: String, expected: => Set[Int])(write: => Unit): Unit = {
          val before = t.filesOf(t.snapshot).map(_.path).toSet
          write
          val added = t.filesOf(t.snapshot).filterNot(f => before(f.path))
          val perBucket = added.groupBy(_.bucket).map { case (b, fs) => b -> fs.size }
          assert(perBucket.values.forall(_ == 1),
            s"$what: buckets with several new files: ${perBucket.filter(_._2 > 1)}")
          assert(perBucket.keySet == expected,
            s"$what: wrote buckets ${perBucket.keySet.size}, touched ${expected.size}")
        }
        val all = (0L until 12L * nb).toSeq
        val appended = events(all, 0).drop("lsn", "op")
        val everyBucket = bucketsOf(t, appended)
        assert(everyBucket.size == nb, "the seed rows must cover every bucket")
        oneFilePerBucket("append", everyBucket)(assert(t.append(appended).committed))

        // the merge's write shuffles the batch's 20 rows and no stored row
        val sparse = events(all.filter(_ % 19 == 0).take(20), 1000000)
        oneFilePerBucket("sparse merge", bucketsOf(t, sparse)) {
          val (r, perQuery, records) = shuffles(t.merge(sparse, epochId = 1))
          assert(r.committed)
          assert(perQuery.collect { case (true, n) => n } == Seq(1), s"sparse merge: (writes, exchanges) $perQuery")
          assert(records == 20, s"sparse merge: its write shuffled $records records, want the batch's 20")
        }

        val dense = events(all, 2000000)
        oneFilePerBucket("dense merge", everyBucket)(
          assert(t.merge(dense, epochId = 2).committed))

        val content = scala.collection.mutable.Map(all.map(i => i -> s"x2000000-$i"): _*)
        /** MoR-append upserts for `ids` as epoch `epoch`; returns their buckets. */
        def deltaAppend(ids: Seq[Long], epoch: Long): Set[Int] = {
          val deltas = events(ids, epoch * 1000000)
          val buckets = bucketsOf(t, deltas)
          oneFilePerBucket(s"deltaAppend $epoch", buckets)(
            assert(t.deltaAppend(deltas, epochId = epoch).committed))
          ids.foreach(i => content(i) = s"x${epoch * 1000000}-$i")
          buckets
        }
        val deltaBuckets = deltaAppend(all.filter(_ % 13 == 5).take(30), 3)
        // the maintenance rewrites over delta-bearing buckets fold each
        // bucket in place: no shuffle, and under a new bucket count one,
        // of the winners
        oneFilePerBucket("compactDeltas", deltaBuckets)(
          assert(exchanges("compactDeltas", 0)(t.compactDeltas()) == deltaBuckets.size))
        val smallFiles = deltaAppend(all.filter(_ % 17 == 3).take(30), 4)
        oneFilePerBucket("compact", smallFiles)(
          assert(exchanges("compact", 0)(t.compact()) == smallFiles.size))
        deltaAppend(all.filter(_ % 11 == 7).take(30), 5)
        oneFilePerBucket("cluster", everyBucket)(exchanges("cluster", 0)(t.cluster(Seq("content"))))
        deltaAppend(all.filter(_ % 23 == 1).take(30), 6)
        oneFilePerBucket("rebucket", bucketsOf(t, appended))(exchanges("rebucket", 1)(t.rebucket(2 * nb)))
        assert(t.snapshot.numBuckets == 2 * nb)

        // the layout checks say nothing if the rows are wrong
        val rows = t.read().select("path", "content").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(rows.size == all.size, s"${rows.size} rows, want ${all.size}")
        val wrong = all.filterNot(i => rows.get(s"p$i").contains(content(i)))
        assert(wrong.isEmpty, s"${wrong.size} paths hold the wrong content, e.g. p${wrong.headOption}")
      }
    }
  }
}
