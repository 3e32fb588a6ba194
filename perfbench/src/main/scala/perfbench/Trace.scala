package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** A benchmark-side interval around one public engine call. Times are wall
  * clock milliseconds (the unit Spark's listener events carry), so spans and
  * job intervals can be intersected. */
final case class Span(name: String, startMs: Long, endMs: Long, attrs: Map[String, Double])

/** One Spark job as seen on the listener bus, with the task metrics of its
  * completed stages folded in and its layer attributed from the call site. */
final class JobRec(val id: Int, val startMs: Long, val callShort: String, val callLong: String,
    val batchId: Option[Long], val executionId: Option[Long], plans: Long => Option[String]) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  /** By call site; jobs of a streaming query all carry the query's start
    * call site (Spark sets it for the stream thread), so those fall back to
    * the layer read off their SQL execution's physical plan. */
  lazy val layer: String = Trace.layerOf(callLong) match {
    case l @ ("streaming" | "other") => executionId.flatMap(plans).getOrElse(l)
    case l => l
  }
  def ms: Double = (endMs - startMs).toDouble
}

/** Structured Streaming progress of one micro-batch. */
final case class Progress(batchId: Long, startMs: Long, inputRows: Long, durations: Map[String, Long])

/** In-memory trace of one run: spans recorded around the benchmark's calls
  * into the engine, plus what Spark's public listener buses report (jobs,
  * stages, SQL executions, streaming progress). Written out at exit. */
final class Trace(spark: SparkSession) {
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val planLayers = new ConcurrentHashMap[Long, String]()
  /** Direct count of job-start events per streaming batch id, independent
    * of the interval attribution (cross-check for jobs per epoch). */
  val jobsByBatch = new ConcurrentHashMap[Long, AtomicLong]()
  val jobStarts = new AtomicLong(0L)
  val jobEnds = new AtomicLong(0L)
  val sqlExecs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val batch = prop("streaming.sql.batchId").map(_.toLong)
      // every stage a job creates carries the job's call site: name = short
      // form, details = the long form (the stack from the first user frame)
      val result = e.stageInfos.maxByOption(_.stageId)
      val j = new JobRec(e.jobId, e.time, result.map(_.name).getOrElse(""),
        result.map(_.details).getOrElse(""), batch,
        prop("spark.sql.execution.id").map(_.toLong), id => Option(planLayers.get(id)))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      jobs.put(e.jobId, j)
      batch.foreach(b => jobsByBatch.computeIfAbsent(b, _ => new AtomicLong()).incrementAndGet())
      jobStarts.incrementAndGet(); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      jobEnds.incrementAndGet(); ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Trace.planLayer(x.physicalPlanDescription).foreach(planLayers.put(x.executionId, _))
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageToJob.get(si.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
        val m = si.taskMetrics
        j.synchronized {
          j.tasks += si.numTasks
          if (m != null) {
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      sqlExecs.add((funcName, System.currentTimeMillis(), durationNs / 1e6)); ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)); ()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** The listener bus is asynchronous: wait until every started job has
    * ended and no event arrived for a short while. */
  def quiesce(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.currentTimeMillis() + 10000L
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      val s = jobStarts.get()
      if (s == last && s == jobEnds.get()) stable += 1 else { stable = 0; last = s }
      Thread.sleep(20)
    }
  }

  def add(name: String, startMs: Long, endMs: Long, attrs: (String, Double)*): Unit = {
    spans.add(Span(name, startMs, endMs, attrs.toMap)); ()
  }

  /** Jobs that ran entirely inside [startMs, endMs] (1 ms slack for the
    * millisecond clocks on both sides). */
  def jobsIn(startMs: Long, endMs: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.endMs >= 0 && j.startMs >= startMs - 1 && j.endMs <= endMs + 1)
      .toSeq.sortBy(_.startMs)

  def jobsOfBatch(b: Long): Seq[JobRec] =
    jobs.values.asScala.filter(_.batchId.contains(b)).toSeq.sortBy(_.startMs)

  /** Write spans, jobs, SQL executions and streaming progress as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    def line(kind: String, fields: (String, Any)*) =
      Serialization.write(ListMap(("kind" -> kind) +: fields: _*))(Trace.formats) + "\n"
    val out = new StringBuilder
    spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      out ++= line("span", "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> ListMap(s.attrs.toSeq.sortBy(_._1): _*))
    }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      out ++= line("job", "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "layer" -> j.layer,
        "call_site" -> j.callShort, "batch_id" -> j.batchId.getOrElse(-1L), "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "gc_ms" -> j.gcMs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes, "records_read" -> j.recordsRead)
    }
    sqlExecs.asScala.foreach { case (f, t, d) =>
      out ++= line("sql", "func" -> f, "end_ms" -> t, "duration_ms" -> d)
    }
    progress.asScala.foreach { p =>
      out ++= line("progress", "batch_id" -> p.batchId, "start_ms" -> p.startMs, "input_rows" -> p.inputRows,
        "duration_ms" -> ListMap(p.durations.toSeq.sortBy(_._1): _*))
    }
    java.nio.file.Files.writeString(path, out.toString)
  }
}

object Trace {
  /** json4s formats for the result object and the span file, as the
    * engine writes its own metadata. */
  val formats: Formats = Serialization.formats(NoTypeHints)

  /** Attribute a job to an engine layer by the call site Spark records on
    * it: the stack from the first non-Spark frame outwards. A layer is named
    * by an engine method anywhere on that stack; the side appends and the
    * compaction write through the same method as a merge, so they are
    * matched first. */
  def layerOf(callLong: String): String = {
    def any(ms: String*) = ms.exists(callLong.contains)
    if (any("QualityGate.evaluate", "QualityGate.$anonfun$evaluate")) "quality.gate"
    else if (any("perBucketStats")) "lake.stats"
    else if (any("LakeTable.append", "LakeTable.$anonfun$append")) "ingest.side_append"
    else if (any("LakeTable.compactDeltas", "LakeTable.$anonfun$compactDeltas")) "lake.compact"
    else if (any("writeBucketed", "mergeDense", "LakeTable.merge", "LakeTable.deltaAppend",
      "LakeTable.$anonfun$deltaAppend")) "lake.merge"
    else if (any("streaming$")) "streaming"
    else "other"
  }

  /** Attribute an SQL execution by its physical plan: the table a write
    * lands in, or the aggregate a pre-pass computes. */
  def planLayer(plan: String): Option[String] = {
    val i = plan.indexOf("InsertIntoHadoopFsRelationCommand")
    if (i >= 0) {
      // the command's first argument is the output path
      val p = plan.indexOf("file:", i)
      val target = if (p < 0) "" else plan.substring(p).takeWhile(c => c != ',' && !c.isWhitespace)
      if (target.contains("/lineage/") || target.contains("/metrics/")) Some("ingest.side_append")
      else Some("lake.merge")
    } else if (plan.contains(" AS lmin")) Some("lake.stats")
    else if (plan.contains(" AS c0")) Some("quality.gate")
    else None
  }

  /** Milliseconds of [startMs, endMs] not covered by any of the intervals. */
  def uncoveredMs(startMs: Long, endMs: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var cur = startMs
    intervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { covered += e - math.max(s, cur); cur = e }
      }
    (endMs - startMs - covered).toDouble
  }
}

/** Sample statistics as the benchmark reports them. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** The highest whole percentile with at least ten samples beyond it, and
    * its value; None with fewer than 20 samples (it would sit below p50). */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else {
      val p = math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt
      Some(p -> quantile(xs, p / 100.0))
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
