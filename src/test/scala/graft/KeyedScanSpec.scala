package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._

/** The one SQL table scan (graft.sql.GraftKeyedScan) over every snapshot:
  * MoR deltas folded per bucket, old-schema files conformed per file, and
  * the pruning reported as the scan's own plan metrics. Each answer is
  * checked against `LakeTable.read()` (the DataFrame API's read) or the
  * generator's oracle; the engine's max-LSN fold behind both is also driven
  * directly, with a merge's and a delta append's input. */
class KeyedScanSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def freshCatalog(tag: String): String = {
    val cat = s"ks$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir(s"wh-ks-$tag"))
    spark.sql(s"CREATE NAMESPACE $cat.db")
    cat
  }

  private def lakeOf(cat: String, name: String): LakeTable =
    LakeTable.load(spark, s"${spark.conf.get(s"spark.sql.catalog.$cat.warehouse")}/db/$name", name)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def scanOf(df: DataFrame): BatchScanExec =
    collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }.head

  private def metricsOf(df: DataFrame): Map[String, Long] =
    scanOf(df).customMetrics.map { case (n, m) => n -> m.value }

  private def withSpj[A](body: => A): A = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "true")
    spark.conf.set(keys(1), "-1")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a mixed CoW/MoR replay across a schema evolution reads as LakeTable.read and the oracle") {
    val cat = freshCatalog("rep")
    spark.sql(s"""CREATE TABLE $cat.db.t (repo STRING NOT NULL, path STRING NOT NULL, commit STRING,
                 |lang STRING, content STRING) TBLPROPERTIES ('primary_key'='repo,path', 'buckets'='4')""".stripMargin)
    val t = lakeOf(cat, "t")
    val cfg = gen.GenConfig(n = 6000, nKeys = 800, numPartitions = 4, evolveAtLsn = 4000)
    val events = gen.changeEvents(spark, cfg).cache()
    val v1 = events.drop("size_bytes", "stars")
    new ReplayEngine(t, t.snapshot.registry).applyEpoch(v1.filter(col("lsn") < 2000), 0)
    new ReplayEngine(t, t.snapshot.registry, mode = MergeMode.MoR)
      .applyEpoch(v1.filter(col("lsn") >= 2000 && col("lsn") < 4000), 1)
    t.evolveSchema(StructType(t.snapshot.schema.fields ++ Seq(
      StructField("size_bytes", LongType), StructField("stars", LongType))))
    new ReplayEngine(t, t.snapshot.registry, mode = MergeMode.MoR)
      .applyEpoch(events.filter(col("lsn") >= 4000), 2)
    events.unpersist()
    // one bucket holds row-LSN base files on schema 1 beside deltas on
    // schema 1 and schema 2
    assert(t.filesOf(t.snapshot).groupBy(_.bucket).values.exists(fs =>
      fs.exists(f => f.kind == "base" && f.rowLsn && f.schemaVersion == 1) &&
        fs.exists(f => f.kind == "delta" && f.schemaVersion == 2)), "precondition: mixed bucket")

    val all = spark.sql(s"SELECT * FROM $cat.db.t")
    assert(scanOf(all).scan.description().startsWith("graft keyed scan"))
    val got = all.collect().map(r => (r.getString(0), r.getString(1)) ->
      (gen.sha256Hex(r.getString(4)), Option(r.get(5)), Option(r.get(6)))).toMap
    val exp = gen.oracleFinalState(cfg)
    assert(got.size == exp.size, s"got ${got.size} rows, oracle ${exp.size}")
    exp.foreach { case (k, e) =>
      assert(got.get(k).contains((gen.sha256Hex(e.content), e.sizeBytes, e.stars)), s"row $k")
    }
    // predicates on the key, on per-event columns, on the added columns
    val repo = exp.keys.head._1
    Seq(s"repo = '$repo'", "commit < '4'", "content LIKE '%@3%'", "stars > 2500",
        "size_bytes IS NULL", "lang = 'go' AND stars IS NOT NULL").foreach { p =>
      assert(rows(spark.sql(s"SELECT * FROM $cat.db.t WHERE $p")) == rows(t.read().where(p)), p)
    }
    assert(rows(spark.sql(s"SELECT path, stars FROM $cat.db.t WHERE stars < 100")) ==
      rows(t.read().where("stars < 100").select("path", "stars")))
  }

  test("a newer delta that fails a non-key predicate shadows the base row; tombstones stay dead") {
    val cat = freshCatalog("shadow")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) TBLPROPERTIES ('primary_key'='k','buckets'='2')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, 1 FROM range(0, 20)")
    val t = lakeOf(cat, "t")
    import spark.implicits._
    // k=3 moves to v=2; k=5 is deleted by a tombstone with a null payload
    // (its delta file's v bounds are all-null, so a pushed `v = 1` would
    // skip the tombstone's row group)
    assert(t.deltaAppend(Seq((3L, Some(2L), 1L, "U"), (5L, None, 2L, "D"))
      .toDF("k", "v", "lsn", "op"), epochId = 1).committed)
    assert(spark.sql(s"SELECT k FROM $cat.db.t WHERE v = 1 AND k IN (3, 5)").count() == 0)
    Seq("v = 1", "v <> 2", "v IS NOT NULL", "v = 1 AND k < 10", "v IS NULL", "k = 5", "v >= 2")
      .foreach { p =>
        assert(rows(spark.sql(s"SELECT * FROM $cat.db.t WHERE $p")) == rows(t.read().where(p)), p)
      }
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect()(0).getLong(0) == 19)
  }

  test("a base key appended twice: both rows until a newer delta names the key") {
    val cat = freshCatalog("dup")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='1')")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a')")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'b'), (2, 'c')")
    val t = lakeOf(cat, "t")
    // key k's values in SQL, once LakeTable.read gave the table SQL gives
    def vOf(k: Long) = {
      assert(rows(spark.sql(s"SELECT * FROM $cat.db.t")) == rows(t.read()))
      spark.sql(s"SELECT v FROM $cat.db.t WHERE k = $k").collect().map(_.getString(0)).toSeq.sorted
    }
    assert(vOf(1) == Seq("a", "b"))
    import spark.implicits._
    // a delta for ANOTHER key makes the bucket fold: the duplicates stay
    assert(t.deltaAppend(Seq((2L, "d", 5L, "U")).toDF("k", "v", "lsn", "op"), epochId = 1).committed)
    assert(vOf(1) == Seq("a", "b") && vOf(2) == Seq("d"))
    // and so they do through the compaction and a CoW merge of the other key
    assert(t.compactDeltas() == 1)
    assert(vOf(1) == Seq("a", "b") && vOf(2) == Seq("d"))
    // (a batch row with a null op is an upsert)
    assert(t.merge(Seq((2L, "x", 6L, "U"), (3L, "y", 7L, null)).toDF("k", "v", "lsn", "op"), epochId = 2).committed)
    assert(vOf(1) == Seq("a", "b") && vOf(2) == Seq("x") && vOf(3) == Seq("y"))
    // a newer delta for the key shadows both base rows
    assert(t.deltaAppend(Seq((1L, "e", 8L, "U")).toDF("k", "v", "lsn", "op"), epochId = 3).committed)
    assert(vOf(1) == Seq("e"))
  }

  test("a stale delta loses to a base row's stored LSN, in SQL as in LakeTable.read") {
    val cat = freshCatalog("stale")
    spark.sql(s"CREATE TABLE $cat.db.t (k STRING, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='1')")
    val t = lakeOf(cat, "t")
    import spark.implicits._
    def batch(rows: (Long, String, String, String)*) = rows.toDF("lsn", "op", "k", "v")
    // a CoW merge stores K@10 with its row LSN; a redelivery appends K@5
    assert(t.merge(batch((10L, "U", "K", "A")), 0).committed)
    assert(t.deltaAppend(batch((5L, "U", "K", "B"), (20L, "U", "L", "z")), 1).committed)
    def all = rows(spark.sql(s"SELECT * FROM $cat.db.t"))
    assert(spark.sql(s"SELECT v FROM $cat.db.t WHERE k = 'K'").collect().map(_.getString(0)).toSeq == Seq("A"))
    assert(all == rows(t.read()) && all == Seq("[K,A]", "[L,z]"))
    // K appended again (LSN -1): the delta at 5 shadows that row, and the
    // row at 10 still beats the delta, whichever base file reads first
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('K', 'dup')")
    assert(all == rows(t.read()) && all == Seq("[K,A]", "[L,z]"))
  }

  test("a bucket whose deltas the task's memory cannot hold is folded by sorting, to the same rows") {
    val cat = freshCatalog("sort")
    spark.sql(s"CREATE TABLE $cat.db.t (k STRING, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='1')")
    val t = lakeOf(cat, "t")
    import spark.implicits._
    def batch(rows: Seq[(Long, String, String, String)]) = rows.toDF("lsn", "op", "k", "v")
    def key(i: Int) = f"k$i%03d"
    // base rows with row LSNs (100 + i), appended ones (LSN -1) and one
    // appended duplicate of a row-LSN key
    assert(t.merge(batch((0 until 100).map(i => (100L + i, "U", key(i), s"m$i"))), 0).committed)
    spark.sql(s"INSERT INTO $cat.db.t SELECT format_string('k%03d', id), concat('a', id) FROM range(200, 300)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('k000', 'dup')")
    // newer updates, tombstones, stale redeliveries, new keys, and keys
    // whose second delta is older or newer than their first
    assert(t.deltaAppend(batch(Seq((50L, "U", key(0), "stale")) ++
      (1 to 20).map(i => (1000L + i, "U", key(i), s"u$i")) ++
      (21 to 30).map(i => (1000L, "D", key(i), null: String)) ++
      (31 to 40).map(i => (5L, "U", key(i), s"old$i")) ++
      (200 to 250).map(i => (1000L, "U", key(i), s"u$i")) ++
      (251 to 260).map(i => (1000L, "D", key(i), null: String)) ++
      (500 to 550).map(i => (1000L, "I", key(i), s"n$i"))), 1).committed)
    assert(t.deltaAppend(batch(Seq((999L, "U", key(201), "older"), (1001L, "U", key(500), "newer"))), 2).committed)
    val expected = rows(t.read())
    assert(expected.size == 90 + 90 + 51)
    val df = spark.sql(s"SELECT * FROM $cat.db.t")
    assert(rows(df) == expected)
    val batchScan = scanOf(df).scan.toBatch
    val Array(part) = batchScan.planInputPartitions()
    val factory = batchScan.createReaderFactory()
    val (hashed, held, _) = KeyedScanSpec.readInTask(spark, factory, part, starve = false)
    assert(hashed.sorted == expected && held > 0, s"the task's execution memory must count the map: $held")
    val (sorted, _, sorterAsked) = KeyedScanSpec.readInTask(spark, factory, part, starve = true)
    assert(sorterAsked && sorted.sorted == expected)

    // the merge's input: the stored rows plus batch rows, one of them stale
    // (below key 50's stored _lsn 150); then a delta append's winners, with
    // their tombstones. The hash path and the sort path fold them alike.
    val snap = t.snapshot
    val files = t.filesOf(snap)
    def foldOf(output: BucketFold.Output) = BucketFold(spark, t.root, snap,
      files.map(f => FileShape(f.schemaVersion, folds = true)), snap.schema, output = output)
    def bothPaths(fold: BucketFold, files: Seq[DataFile], changes: Seq[(Long, String, String, String)]) = {
      val (hashed, hashSorterAsked) = KeyedScanSpec.foldInTask(spark, fold, files, changes, starve = false)
      val (sorted, sorterAsked) = KeyedScanSpec.foldInTask(spark, fold, files, changes, starve = true)
      assert(!hashSorterAsked && sorterAsked)
      assert(hashed.sorted == sorted.sorted)
      hashed.toSet
    }
    val merged = bothPaths(foldOf(BucketFold.RowsWithLsn), files, Seq((60L, "U", key(50), "stale"),
      (2000L, "U", key(60), "new60"), (2000L, "D", key(70), null), (1500L, "U", key(900), "older900"),
      (2000L, "U", key(900), "n900"), (2000L, "D", key(901), null)))
    assert(merged.size == expected.size)
    assert(Set("150,k050,m50", "2000,k060,new60", "2000,k900,n900").subsetOf(merged))
    assert(!merged.exists(r => r.contains(",k070,") || r.contains(",k901,")))
    val appended = bothPaths(foldOf(BucketFold.Changes), Nil, Seq((5L, "U", "a", "1"), (7L, "U", "a", "2"),
      (6L, "D", "a", null), (3L, "D", "b", null), (9L, "I", "c", "3"), (8L, "U", "c", "x")))
    assert(appended == Set("7,U,a,2", "3,D,b,null", "9,I,c,3"))
  }

  test("a pushed LIMIT takes a prefix of delta-free buckets only") {
    val cat = freshCatalog("lim")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='8')")
    (0 until 4).foreach(i => spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(${i * 100}, ${(i + 1) * 100})"))
    val t = lakeOf(cat, "t")
    // delete every key of buckets 0 and 1; the next append lists them
    // first in manifest order, so a prefix that took their base files
    // without the fold would return deleted rows
    val gone = spark.range(0, 400).where("pmod(hash(id), 8) < 2")
    assert(t.deltaAppend(gone.select(col("id").as("k"), lit(null).cast("string").as("v"),
      lit(1L).as("lsn"), lit("D").as("op")), epochId = 1).committed)
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(400, 500)")
    assert(t.snapshot.manifests.head.deltaFiles > 0, "precondition: a delta bucket lists first")
    val deleted = gone.collect().map(_.longValue).toSet
    val live = rows(t.read())
    assert(live.size == 500 - deleted.size)
    Seq(1, 5, 150, 1000).foreach { n =>
      val df = spark.sql(s"SELECT * FROM $cat.db.t LIMIT $n")
      val got = df.collect()
      assert(got.length == math.min(n, live.size), s"LIMIT $n returned ${got.length}")
      assert(got.forall(r => !deleted(r.getLong(0))), s"LIMIT $n resurrected a deleted key")
      assert(got.map(_.toString).toSet.subsetOf(live.toSet))
      val m = metricsOf(df)
      if (n == 5) assert(m("filesPlanned") < m("filesTotal") && m("deltaFilesFolded") == 0, m.toString)
      if (n == 1000) assert(m("deltaFilesFolded") == 2, m.toString)
    }
  }

  test("a keyless table reports no partitioning and conforms its old-schema files") {
    val cat = freshCatalog("keyless")
    spark.sql(s"CREATE TABLE $cat.db.t (a BIGINT, b STRING)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id % 7, concat('b', id) FROM range(0, 100)")
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (c INT)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id % 7, concat('n', id), CAST(id AS INT) FROM range(0, 10)")
    val t = lakeOf(cat, "t")
    val df = spark.sql(s"SELECT * FROM $cat.db.t")
    assert(scanOf(df).scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportPartitioning]
      .outputPartitioning().isInstanceOf[UnknownPartitioning])
    assert(rows(df) == rows(t.read()) && rows(df).size == 110)
    assert(rows(spark.sql(s"SELECT a, count(*), count(c) FROM $cat.db.t GROUP BY a")) ==
      rows(t.read().groupBy("a").agg(count(lit(1)), count(col("c")))))
    assert(spark.sql(s"SELECT b FROM $cat.db.t WHERE c IS NULL").count() == 100)
  }

  test("a key join of two MoR tables plans no Exchange and matches LakeTable.read") {
    val cat = freshCatalog("join")
    Seq("a", "b").foreach { n =>
      spark.sql(s"CREATE TABLE $cat.db.$n (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='8')")
      spark.sql(s"INSERT INTO $cat.db.$n SELECT id, concat('$n', id) FROM range(0, 600)")
    }
    val (ta, tb) = (lakeOf(cat, "a"), lakeOf(cat, "b"))
    import spark.implicits._
    assert(ta.deltaAppend((0L until 600L by 4).map(i => (i, s"a'$i", 1L, if (i % 8 == 0) "D" else "U"))
      .toDF("k", "v", "lsn", "op"), epochId = 1).committed)
    assert(tb.deltaAppend((700L until 800L).map(i => (i, s"b'$i", 1L, "I")).toDF("k", "v", "lsn", "op"),
      epochId = 1).committed)
    withSpj {
      val join = spark.sql(s"SELECT a.k, a.v, b.v FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k")
      val plan = join.queryExecution.executedPlan.toString
      assert(plan.contains("graft keyed scan") && !plan.contains("Exchange"), s"MoR key join shuffles:\n$plan")
      val expected = ta.read().as("a").join(tb.read().as("b"), col("a.k") === col("b.k"))
        .select(col("a.k"), col("a.v"), col("b.v"))
      val got = rows(join)
      assert(got == rows(expected) && got.size == 600 - 75)
      // each side of the join reports its own plan (read after the first
      // run: Spark resets a plan's metrics when it runs again, and the
      // driver metrics are posted once per plan)
      assert(collect(join.queryExecution.executedPlan) { case s: BatchScanExec => s }
        .map(s => (s.customMetrics("bucketsPlanned").value, s.customMetrics("deltaFilesFolded").value)).sorted ==
        Seq(ta, tb).map(t => (8L, t.filesOf(t.snapshot).count(_.kind == "delta").toLong)).sorted)
      // key-pruned sides plan a partition per pruned bucket only
      val pruned = spark.sql(s"SELECT a.k, a.v, b.v FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k WHERE a.k IN (4, 5, 9)")
      val prunedPlan = pruned.queryExecution.executedPlan.toString
      assert(!prunedPlan.contains("Exchange"), s"pruned MoR key join shuffles:\n$prunedPlan")
      assert(rows(pruned) == rows(expected.where(col("a.k").isin(4, 5, 9))) && rows(pruned).size == 3)
      assert(scanOf(pruned).inputRDD.getNumPartitions <= 3)
    }
  }

  test("two pruned scans running at once each report their own pruning metrics") {
    val cat = freshCatalog("metrics")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='8')")
    spark.sql(s"INSERT INTO $cat.db.a SELECT id, concat('a', id) FROM range(0, 1000)")
    spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='16')")
    spark.sql(s"INSERT INTO $cat.db.b SELECT id, concat('b', id) FROM range(0, 1000)")
    val tb = lakeOf(cat, "b")
    import spark.implicits._
    assert(tb.deltaAppend((0L until 1000L).map(i => (i, s"b'$i", 1L, "U")).toDF("k", "v", "lsn", "op"),
      epochId = 1).committed)
    val (filesA, filesB) = (lakeOf(cat, "a").snapshot.numFiles, tb.snapshot.numFiles)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def run(q: String): Future[(Seq[String], Map[String, Long])] = Future {
      val df = spark.sql(q)
      (rows(df), metricsOf(df))
    }
    try (0 until 3).foreach { _ =>
      val fa = run(s"SELECT v FROM $cat.db.a WHERE k = 7")
      val fb = run(s"SELECT v FROM $cat.db.b WHERE k IN (3, 700)")
      val (ra, ma) = Await.result(fa, 2.minutes)
      val (rb, mb) = Await.result(fb, 2.minutes)
      assert(ra == Seq("[a7]") && rb == Seq("[b'3]", "[b'700]"))
      assert(ma == Map("bucketsPlanned" -> 1L, "bucketsTotal" -> 8L, "filesPlanned" -> 1L,
        "filesTotal" -> filesA.toLong, "deltaFilesFolded" -> 0L), ma.toString)
      assert(mb("bucketsTotal") == 16 && mb("filesTotal") == filesB &&
        (1L to 2L).contains(mb("bucketsPlanned")) && mb("deltaFilesFolded") == mb("bucketsPlanned") &&
        mb("filesPlanned") == 2 * mb("bucketsPlanned"), mb.toString)
    }
    finally pool.shutdown()
  }
}

object KeyedScanSpec {
  import org.apache.spark.memory.{MemoryConsumer, MemoryMode}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.graftbridge.Bridge
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.util.collection.unsafe.sort.UnsafeExternalSorter

  /** Holds all of its task's execution memory, and gives it up only when
    * a sorter asks. */
  final class Hog extends MemoryConsumer(Bridge.taskMemoryManager(), MemoryMode.ON_HEAP) {
    @volatile var sorterAsked = false
    acquireMemory(Runtime.getRuntime.maxMemory)
    override def spill(size: Long, trigger: MemoryConsumer): Long =
      if (!trigger.isInstanceOf[UnsafeExternalSorter]) 0L
      else { sorterAsked = true; val u = getUsed; freeMemory(u); u }
  }

  /** Reads one partition of a `(k STRING, v STRING)` scan in a task, with
    * its execution memory held by a [[Hog]] when `starve`: the rows, the
    * task's execution memory once the reader is built (besides the hog's),
    * and whether a sorter asked the hog for memory. */
  /** Folds `files` and the `changes` (lsn, op, k, v) through `fold` in a
    * task, its execution memory held by a [[Hog]] when `starve`: the output
    * rows, comma-separated, and whether a sorter asked the hog for memory. */
  def foldInTask(spark: SparkSession, fold: BucketFold, files: Seq[DataFile],
      changes: Seq[(Long, String, String, String)], starve: Boolean): (Seq[String], Boolean) =
    spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val hog = if (starve) Some(new Hog) else None
      val in = changes.iterator.map { case (l, o, k, v) =>
        InternalRow(l, UTF8String.fromString(o), UTF8String.fromString(k), UTF8String.fromString(v))
      }
      val out = fold(files, in).map(_.toSeq(fold.schema).mkString(",")).toList
      hog.foreach(h => h.freeMemory(h.getUsed))
      (out, hog.exists(_.sorterAsked))
    }.collect().head

  def readInTask(spark: SparkSession, factory: PartitionReaderFactory, part: InputPartition,
      starve: Boolean): (Seq[String], Long, Boolean) =
    spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val hog = if (starve) Some(new Hog) else None
      val reader = factory.createReader(part)
      val held = Bridge.taskMemoryManager().getMemoryConsumptionForThisTask - hog.fold(0L)(_.getUsed)
      val out = Iterator.continually(reader).takeWhile(_.next()).map { r =>
        s"[${r.get.getUTF8String(0)},${if (r.get.isNullAt(1)) null else r.get.getUTF8String(1)}]"
      }.toList
      reader.close()
      hog.foreach(h => h.freeMemory(h.getUsed))
      (out, held, hog.exists(_.sorterAsked))
    }.collect().head
}
