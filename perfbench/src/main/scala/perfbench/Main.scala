package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.json4s.jackson.Serialization

/** Benchmark JVM: runs one workload against the engine's public API and
  * writes the result object to `--result`. Normally started by `run.py`.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --result <json file>
  * }}}
  *
  * Spark runs at `local[k]`, k = min(4, available CPUs).
  *
  * Untraced (`--trace 0`): set up (the target creation several times, for a
  * median), then measure the workload for `seconds`; report end-to-end
  * metrics.
  * Traced (`--trace 1`): the same untraced phase, then a second phase with
  * the benchmark's listeners attached; report per-layer metrics and the
  * tracing overhead (traced vs untraced phase). */
object Main {
  val workloads = Seq("tail-trickle", "mor-read-mix", "replay-dense")
  val setupReps = 3

  /** End-to-end metrics every workload reports in its result object.
    * Printed but left out: `peak_rss_mb` (VmHWM follows the collector's
    * heap sizing and spread 9-18% between identical runs on a 4-core VM),
    * `failed_frac` (0 in every correct run), the tails (fewer than 20
    * samples) and `feed_read_ms.p50` (`changesSince` reads MoR deltas
    * only, so the CoW trickle table has no feed). */
  val endToEnd = Seq("setup_s", "apply_events_per_s", "commit_ms.p50", "latency_ms.p50", "scan_s")

  /** Per-layer metrics every workload reports in its traced result object. */
  val perLayer = Seq("ingest.epoch_ms", "ingest.jobs_per_epoch", "ingest.driver_ms", "ingest.driver_share",
    "ingest.side_append_ms", "lake.merge_job_ms", "lake.tasks_per_epoch", "lake.task_util",
    "lake.shuffle_bytes_per_event", "lake.bytes_written_per_event", "lake.files_per_epoch",
    "lake.meta_bytes_per_commit", "trace.overhead_frac")

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.catalog.g", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.g.warehouse", work.resolve("warehouse").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = args("workload")
    require(workloads.contains(name), s"unknown workload '$name' (one of ${workloads.mkString(", ")})")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Path.of(args("work")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val res = new Results
    val wl: Workload = name match {
      case "replay-dense" => new DenseReplay(spark, work, seed, res)
      case "tail-trickle" => new TailTrickle(spark, work, seed, res, phases = if (traced) 2 else 1, seconds)
      case "mor-read-mix" => new MorReadMix(spark, work, seed, res)
    }
    println(s"workload $name seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} local[$cores]")
    var correct = false
    try {
      def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      val prepareS = secs(wl.prepare())
      val setups = (1 to setupReps).map(i => secs(wl.setup(i)))
      val startS = secs(wl.start())
      res.e2e(Metric("setup_s", "s", sessionS + prepareS + Stats.median(setups) + startS, setupReps,
        f"session ${sessionS}%.2f + inputs ${prepareS}%.2f + median of target creations " +
          f"${setups.map(s => f"$s%.2f").mkString(", ")} + preload/warm-up ${startS}%.2f"))
      wl.measure(seconds, None)
      val e = res.endToEnd
      if (traced) {
        val tr = new Trace(spark)
        tr.attach()
        wl.measure(seconds, Some(tr))
        tr.detach()
        tr.write(work.resolve("spans.jsonl"))
        val over = e("traced.commit_ms.p50").value / e("commit_ms.p50").value - 1.0
        res.layer(Metric("trace.overhead_frac", "ratio", over, e("traced.commit_ms.p50").n,
          f"commit_ms.p50 traced/untraced - 1; events/s ${e("apply_events_per_s").value}%.0f untraced, " +
            f"${e("traced.apply_events_per_s").value}%.0f traced"))
      }
      correct = wl.check() && res.failures.isEmpty
      if (traced && wl.isInstanceOf[DenseReplay]) {
        // single-thread baseline of the same replay (diagnostic, DS2-style)
        wl.close()
        spark.stop()
        spark = session(1, work)
        val d = wl.asInstanceOf[DenseReplay]
        d.spark = spark
        val (eps1, epsK, n) = d.throughput(seconds)
        res.layer(Metric("ingest.events_per_s_local1", "events/s", eps1, n))
        res.layer(Metric("ingest.scaling_efficiency", "ratio", epsK / (cores * eps1), n,
          f"events/s local[$cores] ${epsK}%.0f / ($cores x local[1]) over the first $n epochs; " +
            f"driver_share ${res.perLayer("ingest.driver_share").value}%.3f"))
      }
    } catch {
      case t: Throwable =>
        res.failures += s"run aborted: $t"
        t.printStackTrace()
    } finally {
      wl.close()
    }
    res.e2e(Metric("peak_rss_mb", "MB", Common.peakRssMb(), 1))
    res.e2e(Metric("failed_frac", "ratio", res.failed.toDouble / math.max(1L, res.attempted), res.attempted.toInt))

    def show(title: String, ms: Iterable[Metric]): Unit = {
      println(title)
      ms.foreach { m =>
        println(f"  ${m.name}%-36s ${m.value}%14.4f ${m.unit}%-9s n=${m.n}" + (if (m.note.nonEmpty) s"  (${m.note})" else ""))
      }
    }
    show("end-to-end" + (if (traced) " (untraced phase)" else ""), res.endToEnd.values.filterNot(_.name.startsWith("traced.")))
    if (traced) show("per-layer (traced phase)", res.perLayer.values)
    res.failures.foreach(f => println(s"  FAILURE: $f"))

    val wanted = if (traced) perLayer else endToEnd
    val source = if (traced) res.perLayer else res.endToEnd
    val present = wanted.flatMap(k => source.get(k)).filterNot(_.value.isNaN)
    val missing = wanted.filterNot(present.map(_.name).contains)
    if (missing.nonEmpty) println(s"  MISSING metrics: ${missing.mkString(", ")}")
    val ok = correct && missing.isEmpty
    val out = ListMap("correct" -> ok, "attempted" -> math.max(1L, res.attempted), "failed" -> res.failed,
      "metrics" -> ListMap(present.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*))
    Files.writeString(Path.of(args("result")), Serialization.write(out)(Trace.formats) + "\n")
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
