package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc._
import graft.cdc.ingest._
import graft.cdc.lake._
import graft.cdc.model._

/** One reported number: name, unit, value, and how many samples it rests on. */
final case class Metric(name: String, unit: String, value: Double, n: Int, note: String = "")

/** Everything a run reports. End-to-end metrics come from the untraced phase,
  * per-layer metrics from the traced one. */
final class Results {
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val perLayer = mutable.LinkedHashMap.empty[String, Metric]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def e2e(m: Metric): Unit = endToEnd(m.name) = m
  def layer(m: Metric): Unit = perLayer(m.name) = m

  /** Count one operation; an exception fails it and is rethrown never. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** p50 and tail of a latency sample as `<name>.p50` / `<name>.tail`. */
  def latency(name: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      e2e(Metric(s"$name.p50", "ms", Stats.median(xs), xs.size))
      Stats.tail(xs) match {
        case Some((p, v)) => e2e(Metric(s"$name.tail", "ms", v, xs.size, s"p$p"))
        case None => e2e(Metric(s"$name.tail", "ms", xs.max, xs.size, "max; fewer than 20 samples"))
      }
    }
}

object Common {
  val keyColumns: Seq[String] = RepoRow.keyColumns

  /** Column definitions of the change-log target: the quality gate is
    * derived from them, as a deployment would. */
  val columnDefs: Seq[ColumnDef] = Seq(
    ColumnDef("repo", StringType, nullable = false, isPrimaryKey = true),
    ColumnDef("path", StringType, nullable = false, isPrimaryKey = true),
    ColumnDef("commit", StringType),
    ColumnDef("lang", StringType, qualityRule =
      Some(QualityRule(Criticality.Error, allowedValues = Some(Seq("scala", "py", "java", "go", "md"))))),
    ColumnDef("content", StringType))

  def gate: quality.QualityGate = new quality.QualityGate(quality.Check.fromColumns(columnDefs))

  val schemaV2: StructType = StructType(RepoRow.schemaV1.fields ++ Seq(
    StructField("size_bytes", LongType, nullable = true),
    StructField("stars", LongType, nullable = true)))

  private val lineageSchema = org.apache.spark.sql.Encoders.product[LineageEntry].schema
  private val metricsSchema = org.apache.spark.sql.Encoders.product[EpochMetrics].schema

  /** Lineage and epoch-metrics side tables next to a target table. */
  def sideTables(spark: SparkSession, dir: Path): (LakeTable, LakeTable) = (
    LakeTable.createIfNotExists(spark, dir.resolve("lineage").toString, "lineage",
      lineageSchema, Seq("table", "snapshot_version", "partition"), numBuckets = 4),
    LakeTable.createIfNotExists(spark, dir.resolve("metrics").toString, "metrics",
      metricsSchema, Seq("epoch"), numBuckets = 2))

  /** Key-space size from the seed: `gen` has no seed of its own, and a
    * different nKeys re-draws every event's key. */
  def keysFor(seed: Long, base: Long): Long = base + Math.floorMod(seed * 7919L, 10007L)

  /** Write events [0, cfg.n) as an epoch-partitioned log, `<dir>/_ep=<e>/`. */
  def writeLog(spark: SparkSession, cfg: gen.GenConfig, perEpoch: Long, dir: Path): StructType = {
    gen.changeEvents(spark, cfg)
      .withColumn("_ep", floor(col("lsn") / perEpoch))
      .repartition(col("_ep"))
      .write.partitionBy("_ep").mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.resolve("_ep=0").toString).schema
  }

  def readEpoch(spark: SparkSession, dir: Path, schema: StructType, e: Int): DataFrame =
    spark.read.schema(schema).parquet(dir.resolve(s"_ep=$e").toString)

  /** sha256(content) per (repo, path) of a table read. */
  def contentHashes(df: DataFrame): Map[(String, String), String] =
    df.select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  /** Compare a table's final state with the driver-side oracle. Returns the
    * number of mismatching keys (0 = correct). */
  def checkFinal(df: DataFrame, cfg: gen.GenConfig): Long = {
    val got = contentHashes(df)
    val want = gen.oracleFinalState(cfg)
    val missing = want.count { case (k, e) => !got.get(k).contains(gen.sha256Hex(e.content)) }
    missing + got.keySet.diff(want.keySet).size
  }

  def treeBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try {
        var files = 0L
        var bytes = 0L
        w.filter(Files.isRegularFile(_)).forEach { f => files += 1; bytes += Files.size(f) }
        (files, bytes)
      } finally w.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally w.close()
    }

  /** Peak resident set of this JVM, MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** Per-layer numbers over a set of epochs, each an interval with the jobs
  * attributed to it. Shared by every workload's traced phase. */
object EpochLayers {
  /** `ms` is the epoch's own latency; [startMs, endMs] the interval its
    * jobs and driver time are measured in. */
  final case class Epoch(startMs: Long, endMs: Long, ms: Double, events: Long, jobs: Seq[JobRec])

  def report(res: Results, epochs: Seq[Epoch], cores: Int): Unit = {
    if (epochs.isEmpty) return
    val n = epochs.size
    def perEpoch(f: Epoch => Double) = epochs.map(f)
    def layerMs(e: Epoch, l: String) = e.jobs.filter(_.layer == l).map(_.ms).sum
    val events = epochs.map(_.events).sum.toDouble
    res.layer(Metric("ingest.epoch_ms", "ms", Stats.median(perEpoch(_.ms)), n))
    res.layer(Metric("ingest.jobs_per_epoch", "count", Stats.mean(perEpoch(_.jobs.size.toDouble)), n))
    val driver = perEpoch(e => Trace.uncoveredMs(e.startMs, e.endMs, e.jobs.map(j => (j.startMs, j.endMs))))
    res.layer(Metric("ingest.driver_ms", "ms", Stats.median(driver), n))
    res.layer(Metric("ingest.driver_share", "ratio",
      driver.sum / math.max(1.0, epochs.map(e => (e.endMs - e.startMs).toDouble).sum), n))
    res.layer(Metric("ingest.side_append_ms", "ms", Stats.median(perEpoch(layerMs(_, "ingest.side_append"))), n))
    res.layer(Metric("quality.gate_ms", "ms", Stats.median(perEpoch(layerMs(_, "quality.gate"))), n))
    res.layer(Metric("lake.merge_job_ms", "ms", Stats.median(perEpoch(layerMs(_, "lake.merge"))), n))
    res.layer(Metric("lake.stats_job_ms", "ms", Stats.median(perEpoch(layerMs(_, "lake.stats"))), n))
    val all = epochs.flatMap(_.jobs)
    res.layer(Metric("lake.tasks_per_epoch", "count", all.map(_.tasks).sum.toDouble / n, n))
    val jobWall = all.map(_.ms).sum
    res.layer(Metric("lake.task_util", "ratio", all.map(_.runMs).sum / math.max(1.0, jobWall * cores), all.size))
    res.layer(Metric("lake.shuffle_bytes_per_event", "B", all.map(_.shuffleWriteBytes).sum / math.max(1.0, events), n))
    res.layer(Metric("lake.spill_bytes", "B", all.map(_.spillBytes).sum.toDouble / n, n, "per epoch"))
    res.layer(Metric("lake.gc_ms", "ms", all.map(_.gcMs).sum.toDouble / n, n, "task GC per epoch"))
    val byLayer = all.groupBy(_.layer).map { case (l, js) => f"$l=${js.size.toDouble / n}%.1f" }
    println(s"  jobs per epoch by layer: ${byLayer.toSeq.sorted.mkString(" ")}")
  }
}
