package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc._
import graft.cdc.ingest._
import graft.cdc.lake._
import graft.cdc.model._

/** One benchmark workload. Set-up is `prepare` (inputs, once), `setup`
  * (create the target with its attachments; it runs several times so its
  * time has a median, and the last one is kept), then `start` (preload and
  * warm-up, once). `measure` runs for about `seconds` and reports into the
  * results: end-to-end metrics when untraced, per-layer metrics when a
  * trace is given. `check` compares the outputs with the oracle. */
trait Workload {
  def prepare(): Unit = ()
  def setup(rep: Int): Unit
  def start(): Unit = ()
  def measure(seconds: Double, trace: Option[Trace]): Unit
  def check(): Boolean
  def close(): Unit = ()
}

/** Timing of one epoch as the benchmark saw it from outside the engine. */
final case class EpochSample(startMs: Long, endMs: Long, ms: Double, events: Long)

object Workload {
  /** Time one call; returns its result (None if it threw, counted as a
    * failure), its interval in wall-clock ms and its duration in ms. */
  def timed[T](res: Results, what: String)(f: => T): (Option[T], Long, Long, Double) = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = res.attempt(what)(f)
    (r, t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e6)
  }

  /** What a table wrote: (data files, data bytes, snapshot commits, meta
    * bytes). Data files are immutable and nothing is vacuumed during a run,
    * so walks of `data/` and `meta/` count everything since creation; each
    * commit is one `v<N>.json` snapshot in `meta/`. */
  def written(table: LakeTable): (Long, Long, Long, Long) = {
    val (files, bytes) = Common.treeBytes(Path.of(table.root, "data"))
    val meta = Path.of(table.root, "meta")
    val ls = Files.list(meta)
    val commits = try ls.iterator().asScala.count(p => p.getFileName.toString.matches("v\\d+\\.json")) finally ls.close()
    (files, bytes, commits.toLong, Common.treeBytes(meta)._2)
  }

  def reportWritten(res: Results, w: (Long, Long, Long, Long), events: Long, epochs: Int): Unit = {
    res.layer(Metric("lake.bytes_written_per_event", "B", w._2.toDouble / math.max(1L, events), epochs))
    res.layer(Metric("lake.files_per_epoch", "count", w._1.toDouble / math.max(1, epochs), epochs))
    res.layer(Metric("lake.meta_bytes_per_commit", "B", w._4.toDouble / math.max(1L, w._3), w._3.toInt))
  }

  def plus(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)): (Long, Long, Long, Long) =
    (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4)
}

/** `replay-dense` (diagnostic, outside the gated set): a closed loop
  * replaying an epoch-partitioned change log into a fresh 32-bucket CoW
  * table per pass, with the production attachments (quality gate, lineage
  * and metrics tables, checkpoint ledger). The second half of the log
  * carries schema v2 and the table evolves at the boundary. Its traced run
  * adds the single-thread baseline. */
final class DenseReplay(var spark: SparkSession, work: Path, seed: Long, res: Results) extends Workload {
  val epochs = 16
  val perEpoch = 25000L
  val buckets = 32
  val cfg = gen.GenConfig(n = epochs * perEpoch, nKeys = Common.keysFor(seed, 100000L),
    contentReps = 12, numPartitions = 8, evolveAtLsn = epochs / 2 * perEpoch)
  private val logDir = work.resolve("dense-log")
  private var logSchema: StructType = _
  private var passNo = 0
  private var lastPass: Option[(Path, LakeTable, CheckpointLedger, Int)] = None
  /** Per-epoch samples of the first measured pass at this parallelism. */
  var firstPass: Seq[EpochSample] = Nil
  /** Full-table aggregate after each pass: (ms, events applied, rows, content chars). */
  private val scans = mutable.ArrayBuffer.empty[(Double, Long, Long, Long)]

  override def prepare(): Unit = logSchema = Common.writeLog(spark, cfg, perEpoch, logDir)

  /** A target with its attachments (each pass creates its own). */
  def setup(rep: Int): Unit = {
    val w = work.resolve(s"dense-setup-$rep")
    target(w)
    Common.deleteTree(w)
  }

  /** Warm-up: a small first epoch into a scratch target. */
  override def start(): Unit = {
    val w = work.resolve("dense-warm")
    val (t, engineFor, _) = target(w)
    engineFor(t).applyEpoch(epoch(0).where(col("lsn") < 2000L), 0, knownInputCount = Some(2000L))
    Common.deleteTree(w)
  }

  private def epoch(e: Int): DataFrame = Common.readEpoch(spark, logDir, logSchema, e)

  private def target(dir: Path): (LakeTable, LakeTable => ReplayEngine, CheckpointLedger) = {
    val table = LakeTable.createIfNotExists(spark, dir.resolve("table").toString, "repo_files",
      RepoRow.schemaV1, Common.keyColumns, numBuckets = buckets)
    val (lt, mt) = Common.sideTables(spark, dir)
    val ledger = new CheckpointLedger(dir.resolve("ledger").toString)
    (table, t => new ReplayEngine(t, t.snapshot.registry, gate = Some(Common.gate),
      lineageTable = Some(lt), metricsTable = Some(mt), ledger = Some(ledger)), ledger)
  }

  /** Replay the log into a fresh target, epoch by epoch, until it ends or
    * `until` (nanoTime) passes at an epoch boundary. */
  private def pass(trace: Option[Trace], direct: mutable.Buffer[Long], until: Long): Seq[EpochSample] = {
    passNo += 1
    val dir = work.resolve(s"dense-pass-$passNo")
    val (table, engineFor, ledger) = target(dir)
    var engine = engineFor(table)
    val samples = mutable.ArrayBuffer.empty[EpochSample]
    var e = 0
    while (e < epochs && System.nanoTime() < until) {
      if (e == epochs / 2) {
        res.attempt("evolveSchema")(table.evolveSchema(Common.schemaV2))
        engine = engineFor(table)
      }
      val df = epoch(e)
      val before = trace.map(_.jobStarts.get())
      val (r, t0, t1, ms) = Workload.timed(res, s"epoch $e")(engine.applyEpoch(df, e, knownInputCount = Some(perEpoch)))
      trace.foreach { tr =>
        tr.add("applyEpoch", t0, t1, "epoch" -> e.toDouble, "events" -> perEpoch.toDouble)
        tr.quiesce()
        direct += tr.jobStarts.get() - before.get
      }
      if (r.exists(_.committed)) samples += EpochSample(t0, t1, ms, perEpoch)
      e += 1
    }
    val (agg, _, _, scanMs) = Workload.timed(res, "scan")(
      table.read().agg(count(lit(1)), sum(length(col("content")))).collect()(0))
    agg.foreach(r => scans += ((scanMs, table.snapshot.lsnHigh + 1, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))))
    lastPass.foreach { case (d, _, _, _) => Common.deleteTree(d) }
    lastPass = Some((dir, table, ledger, e))
    samples.toSeq
  }

  def measure(seconds: Double, trace: Option[Trace]): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val samples = mutable.ArrayBuffer.empty[EpochSample]
    val direct = mutable.ArrayBuffer.empty[Long]
    val mr0 = lake.manifestReadsGlobal.get()
    var written = (0L, 0L, 0L, 0L)
    var passes = 0
    val scans0 = scans.size
    do {
      val p = pass(trace, direct, Long.MaxValue)
      if (passes == 0 && trace.isEmpty) firstPass = p
      samples ++= p
      passes += 1
      written = Workload.plus(written, Workload.written(lastPass.get._2))
    } while (System.nanoTime() < deadline)
    val ms = samples.map(_.ms).toSeq
    val eps = samples.map(_.events).sum / (ms.sum / 1e3)
    trace match {
      case None =>
        res.e2e(Metric("apply_events_per_s", "events/s", eps, ms.size))
        res.latency("commit_ms", ms)
        res.e2e(Metric("latency_ms.p50", "ms", Stats.median(ms), ms.size, "= commit_ms.p50"))
        val scanMs = scans.drop(scans0).map(_._1).toSeq
        if (scanMs.nonEmpty) res.e2e(Metric("scan_s", "s", Stats.median(scanMs) / 1e3, scanMs.size,
          "full-table aggregate after each pass"))
        println(f"  passes=$passes epochs=${ms.size} events/pass=${cfg.n}")
      case Some(tr) =>
        val layered = samples.map(s => EpochLayers.Epoch(s.startMs, s.endMs, s.ms, s.events, tr.jobsIn(s.startMs, s.endMs)))
        EpochLayers.report(res, layered.toSeq, spark.sparkContext.defaultParallelism)
        Workload.reportWritten(res, written, passes * cfg.n, ms.size)
        res.layer(Metric("lake.manifest_reads", "count",
          (lake.manifestReadsGlobal.get() - mr0).toDouble / math.max(1, ms.size), ms.size, "per epoch"))
        val attributed = layered.map(_.jobs.size.toLong).toSeq
        val ok = attributed == direct.toSeq
        println(s"  ingest.jobs_per_epoch cross-check: in-span=${attributed.sum} direct=${direct.sum} " +
          (if (ok) "(equal)" else "(DIFFERENT)"))
        if (!ok) res.failures += s"jobs in epoch spans ${attributed.sum} != direct listener count ${direct.sum}"
        res.e2e(Metric("traced.apply_events_per_s", "events/s", eps, ms.size))
        res.e2e(Metric("traced.commit_ms.p50", "ms", Stats.median(ms), ms.size))
    }
  }

  /** Replay at the session's parallelism for about `seconds` (at least one
    * epoch); returns events per second of apply wall over the epochs run,
    * and over the same leading epochs of the first measured pass. */
  def throughput(seconds: Double): (Double, Double, Int) = {
    val s = pass(None, mutable.ArrayBuffer.empty, System.nanoTime() + (seconds * 1e9).toLong)
    val k = firstPass.take(s.size)
    (s.map(_.events).sum / (s.map(_.ms).sum / 1e3), k.map(_.events).sum / (k.map(_.ms).sum / 1e3), s.size)
  }

  def check(): Boolean = lastPass.exists { case (_, table, ledger, applied) =>
    val bad = Common.checkFinal(table.read(), cfg.copy(n = applied * perEpoch))
    val led = ledger.read().lastEpoch
    val badScans = scans.count { case (_, prefix, rows, chars) =>
      val state = gen.oracleFinalState(cfg.copy(n = prefix))
      rows != state.size || chars != state.values.map(_.content.length.toLong).sum
    }
    println(s"  check: final table vs oracle: $bad mismatching keys; ledger lastEpoch=$led; " +
      s"${scans.size} scans: $badScans wrong")
    bad == 0 && led == applied - 1 && badScans == 0
  }
}

/** `tail-trickle`: an open loop. Change files are staged at set-up and a
  * timer renames them into the tail directory on a fixed schedule; the
  * engine follows through `streaming.replayStream`, one micro-batch per
  * file, into a 256-bucket CoW table with the quality gate and the lineage
  * and metrics tables attached. File 0 is the base (`preload` events): it
  * lands at set-up, so the stream's first batch preloads the table and
  * warms the path. The 64-event files after it land on the schedule.
  * Once they have committed, the table is read back as each landed file's
  * commit left it. */
final class TailTrickle(spark: SparkSession, work: Path, seed: Long, res: Results,
    phases: Int, seconds: Double) extends Workload {
  val buckets = 256
  /** Landing interval: 1.5x the slowest median micro-batch (5.3 s) seen in
    * 10-seed sets on a busy shared 4-core VM, so the schedule does not
    * queue behind the engine. */
  val intervalMs = 8000L
  val preload = 5000L
  val perFile = 64L
  /** Files landed in one measured phase: at 0, interval, ... up to `seconds`. */
  val perPhase: Int = (seconds * 1000.0 / intervalMs).toInt + 1
  /** 64-event files that land with the base, before the schedule (JIT). */
  val warmFiles = 1
  val files: Int = 1 + warmFiles + phases * perPhase
  val cfg = gen.GenConfig(n = preload + (files - 1) * perFile, nKeys = Common.keysFor(seed, 50000L),
    contentReps = 12, numPartitions = 8)
  private val staged = work.resolve("trickle-staged")
  private val tail = work.resolve("trickle-tail")
  private var dir: Path = _
  private var engine: ReplayEngine = _
  private var query: StreamingQuery = _
  private var nextFile = 0
  /** Per landed file index: (due, landed) wall ms; and when it became
    * visible, with the snapshot version it was seen in. */
  private val landed = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val visible = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  /** Full-table aggregates after the schedule: (events applied, rows, content chars). */
  private val scans = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** A separate table handle the freshness probe reads commits from. */
  @volatile private var table: LakeTable = _

  private def fileMaxLsn(i: Int): Long = preload + i * perFile - 1

  /** Freshness probe: after each micro-batch, a file is visible once the
    * committed snapshot's lsnHigh covers its last event. */
  private val probe = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.currentTimeMillis()
      val t = table
      if (t != null && e.progress.numInputRows > 0) {
        val snap = t.snapshot
        landed.keySet.asScala.foreach(i => if (fileMaxLsn(i) <= snap.lsnHigh) visible.putIfAbsent(i, (now, snap.version)))
      }
    }
  }
  spark.streams.addListener(probe)

  /** Stage the base and the trickle as one parquet file each, named in LSN
    * order with ascending modification times (the file source takes new
    * files in modification-time order). */
  override def prepare(): Unit = {
    val raw = work.resolve("trickle-raw")
    gen.changeEvents(spark, cfg)
      .withColumn("_f", when(col("lsn") < preload, 0L)
        .otherwise(floor((col("lsn") - preload) / perFile) + 1))
      .repartition(col("_f"))
      .write.partitionBy("_f").parquet(raw.toString)
    Files.createDirectories(staged)
    Files.createDirectories(tail)
    val t0 = System.currentTimeMillis()
    (0 until files).foreach { i =>
      val ls = Files.list(raw.resolve(s"_f=$i"))
      val part = try ls.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        finally ls.close()
      require(part.size == 1, s"staged file $i: expected one parquet part, found ${part.size}")
      val f = staged.resolve(f"f$i%06d.parquet")
      Files.move(part.head, f)
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(t0 + i))
    }
    Common.deleteTree(raw)
  }

  /** A fresh target with its attachments. */
  def setup(rep: Int): Unit = {
    Option(dir).foreach(Common.deleteTree)
    dir = work.resolve(s"trickle-$rep")
    val t = LakeTable.createIfNotExists(spark, dir.resolve("table").toString, "repo_files",
      RepoRow.schemaV1, Common.keyColumns, numBuckets = buckets)
    val (lt, mt) = Common.sideTables(spark, dir)
    engine = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1), gate = Some(Common.gate),
      lineageTable = Some(lt), metricsTable = Some(mt))
  }

  /** Start the stream and land the base, then the warm-up files; they
    * must commit before the schedule starts. A scan warms the read path. */
  override def start(): Unit = {
    table = LakeTable.load(spark, engine.table.root, engine.table.name)
    val schema = spark.read.parquet(staged.resolve("f000000.parquet").toString).schema
    query = streaming.replayStream(
      streaming.changeStream(spark, tail.toString, schema, maxFilesPerTrigger = Some(1)),
      engine, dir.resolve("checkpoint").toString, Trigger.ProcessingTime(0L))
    land(0, System.currentTimeMillis())
    require(awaitVisible(1, 120000L), "the base file did not commit")
    (1 to warmFiles).foreach(land(_, System.currentTimeMillis()))
    require(awaitVisible(1 + warmFiles, 120000L), "the warm-up files did not commit")
    table.read().agg(count(lit(1))).collect()
  }

  private def land(i: Int, dueMs: Long): Unit = {
    val name = f"f$i%06d.parquet"
    Files.move(staged.resolve(name), tail.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    landed.put(i, (dueMs, System.currentTimeMillis()))
    nextFile = i + 1
  }

  private def awaitVisible(upTo: Int, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((0 until upTo).exists(i => !visible.containsKey(i)) && System.currentTimeMillis() < deadline) {
      query.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    (0 until upTo).forall(visible.containsKey)
  }

  def measure(seconds: Double, trace: Option[Trace]): Unit = {
    val first = nextFile
    val nFiles = perPhase
    require(first + nFiles <= files, "not enough staged files for this phase")
    val lastBatch = query.recentProgress.map(_.batchId).foldLeft(-1L)(math.max)
    val written0 = Workload.written(table)
    val mr0 = lake.manifestReadsGlobal.get()
    val t0 = System.currentTimeMillis() + 20
    // the schedule is fixed: a slow engine makes files wait, never the timer
    val lander = new Thread(() => (0 until nFiles).foreach { j =>
      val due = t0 + j * intervalMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      land(first + j, due)
    }, "trickle-lander")
    lander.start()
    lander.join()
    val end = t0 + (seconds * 1000).toLong
    val wait = end - System.currentTimeMillis()
    if (wait > 0) Thread.sleep(wait)
    val idx = first until first + nFiles
    val backlog = idx.count(i => !visible.containsKey(i))
    res.attempted += nFiles
    if (!awaitVisible(first + nFiles, 90000L)) {
      val lost = idx.count(i => !visible.containsKey(i))
      res.failed += lost
      res.failures += s"$lost trickle files not visible 90 s after the schedule ended"
    }
    val fresh = idx.filter(visible.containsKey).map(i => (visible.get(i)._1 - landed.get(i)._1).toDouble)
    val late = idx.map(i => (landed.get(i)._2 - landed.get(i)._1).toDouble)
    trace.foreach(_.quiesce())
    val batches = query.recentProgress.filter(p => p.batchId > lastBatch && p.numInputRows > 0).toSeq
    val addMs = batches.map(_.durationMs.get("addBatch").doubleValue)
    val events = batches.map(_.numInputRows).sum
    val eps = events / (addMs.sum / 1e3)
    trace match {
      case None =>
        res.e2e(Metric("apply_events_per_s", "events/s", eps, addMs.size))
        res.latency("commit_ms", addMs)
        res.latency("freshness_ms", fresh)
        res.e2e(Metric("latency_ms.p50", "ms", Stats.median(fresh), fresh.size, "= freshness_ms.p50"))
        // a reader after the writes: the table as each landed file left it
        val scanMs = idx.filter(visible.containsKey).map(i => visible.get(i)._2).distinct.flatMap { v =>
          val (r, _, _, ms) = Workload.timed(res, s"scan v$v")(
            table.readAt(v).agg(count(lit(1)), sum(length(col("content")))).collect()(0))
          r.map { row =>
            scans += ((table.snapshotAt(v).lsnHigh + 1, row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1)))
            ms
          }
        }
        if (scanMs.nonEmpty) res.e2e(Metric("scan_s", "s", Stats.median(scanMs) / 1e3, scanMs.size,
          "full-table aggregate at each landed file's snapshot"))
        println(f"  files=$nFiles interval=${intervalMs}ms batches=${batches.size} backlog_at_end=$backlog")
      case Some(tr) =>
        val layered = batches.map { p =>
          val s = java.time.Instant.parse(p.timestamp).toEpochMilli
          val e = s + p.durationMs.get("triggerExecution").longValue
          tr.add("stream.batch", s, e, "batch" -> p.batchId.toDouble, "events" -> p.numInputRows.toDouble,
            "addBatch_ms" -> p.durationMs.get("addBatch").doubleValue)
          EpochLayers.Epoch(s, e, p.durationMs.get("addBatch").doubleValue, p.numInputRows, tr.jobsOfBatch(p.batchId))
        }
        EpochLayers.report(res, layered, spark.sparkContext.defaultParallelism)
        val w = Workload.written(table)
        Workload.reportWritten(res, (w._1 - written0._1, w._2 - written0._2, w._3 - written0._3, w._4 - written0._4),
          events, batches.size)
        res.layer(Metric("lake.manifest_reads", "count",
          (lake.manifestReadsGlobal.get() - mr0).toDouble / math.max(1, batches.size), batches.size, "per epoch"))
        // direct count: job-start events carrying the batch id, against the
        // jobs that ran inside each batch's trigger interval
        val direct = batches.map(p => Option(tr.jobsByBatch.get(p.batchId)).map(_.get()).getOrElse(0L))
        val inSpan = layered.map(e => tr.jobsIn(e.startMs, e.endMs).size.toLong)
        println(s"  ingest.jobs_per_epoch cross-check: in-span=${inSpan.sum} direct=${direct.sum} " +
          (if (direct == inSpan) "(equal)" else "(DIFFERENT)"))
        if (direct != inSpan) res.failures += s"jobs in batch spans ${inSpan.sum} != direct listener count ${direct.sum}"
        res.layer(Metric("streaming.batch_ms", "ms",
          Stats.median(batches.map(_.durationMs.get("triggerExecution").doubleValue)), batches.size))
        res.layer(Metric("streaming.checkpoint_ms", "ms", Stats.median(batches.map(p =>
          p.durationMs.getOrDefault("walCommit", 0L).doubleValue + p.durationMs.getOrDefault("commitOffsets", 0L).doubleValue)),
          batches.size, "walCommit + commitOffsets"))
        res.layer(Metric("streaming.events_per_batch", "events", events.toDouble / math.max(1, batches.size), batches.size))
        res.layer(Metric("streaming.backlog_files", "count", backlog.toDouble, 1, "landed, not committed at schedule end"))
        res.layer(Metric("streaming.generator_late_ms", "ms", Stats.median(late), late.size, f"max ${late.max}%.1f"))
        res.e2e(Metric("traced.apply_events_per_s", "events/s", eps, addMs.size))
        res.e2e(Metric("traced.commit_ms.p50", "ms", Stats.median(addMs), addMs.size))
    }
  }

  /** The final table, and every scan at its prefix, against the oracle. */
  def check(): Boolean = {
    query.stop()
    val bad = Common.checkFinal(table.read(), cfg.copy(n = fileMaxLsn(nextFile - 1) + 1))
    val badScans = scans.count { case (prefix, rows, chars) =>
      val state = gen.oracleFinalState(cfg.copy(n = prefix))
      rows != state.size || chars != state.values.map(_.content.length.toLong).sum
    }
    println(s"  check: final table (base + ${nextFile - 1} files applied) vs oracle: $bad mismatching keys; " +
      s"${scans.size} scans at their prefix: $badScans wrong")
    bad == 0 && badScans == 0
  }

  override def close(): Unit = {
    Option(query).foreach(q => if (q.isActive) q.stop())
    spark.streams.removeListener(probe)
  }
}

/** `mor-read-mix`: writes beside reads, closed loop. Each pass creates a
  * 32-bucket table through the SQL catalog, applies merge-on-read epochs,
  * and after every epoch runs a fixed read mix through SQL: point lookups,
  * one IN-list lookup, one full-table aggregate, and one change-feed read.
  * The pass ends with `compactDeltas()` and a final scan. */
final class MorReadMix(spark: SparkSession, work: Path, seed: Long, res: Results) extends Workload {
  import MorReadMix._
  val epochs = 3
  val perEpoch = 30000L
  val pointReads = 6
  val buckets = 32
  val cfg = gen.GenConfig(n = epochs * perEpoch, nKeys = Common.keysFor(seed, 100000L),
    contentReps = 12, numPartitions = 8)
  private val langs = Array("scala", "py", "java", "go", "md")
  private val rng = new scala.util.Random(seed)
  private val logDir = work.resolve("mor-log")
  private var logSchema: StructType = _
  private var passNo = 0
  private var last: Option[(String, LakeTable)] = None
  private val reads = mutable.ArrayBuffer.empty[Read]

  /** A key drawn like the generator draws them (Zipf), or uniformly over
    * the key space (mostly cold keys and misses). */
  private def randomKey(): (String, String) = {
    val u = rng.nextDouble()
    val k = if (rng.nextBoolean()) math.floor(cfg.nKeys * math.pow(u, cfg.zipf)).toLong
      else math.floor(cfg.nKeys * u).toLong
    val repoIdx = math.floor(math.sqrt(k.toDouble)).toLong
    (s"org${repoIdx % 1000}/repo$repoIdx", s"src/d${k % 20}/f_$k.${langs((k % 5).toInt)}")
  }

  override def prepare(): Unit = logSchema = Common.writeLog(spark, cfg, perEpoch, logDir)

  /** A catalog table with its attachments (each pass creates its own). */
  def setup(rep: Int): Unit = {
    val (name, table, _) = create()
    drop(name, table)
  }

  /** Warm-up: the first epoch and the read mix on a scratch table. */
  override def start(): Unit = {
    val (name, table, engine) = create()
    engine.applyEpoch(Common.readEpoch(spark, logDir, logSchema, 0), 0, knownInputCount = Some(perEpoch))
    readMix(name, table, 0L, None, None)
    drop(name, table)
  }

  private def create(): (String, LakeTable, ReplayEngine) = {
    passNo += 1
    val name = s"mor_p$passNo"
    spark.sql(s"""CREATE TABLE g.db.$name (repo STRING NOT NULL, path STRING NOT NULL, commit STRING,
                 |lang STRING, content STRING) TBLPROPERTIES ('primary_key'='repo,path', 'buckets'='$buckets')""".stripMargin)
    val table = LakeTable.load(spark, work.resolve("warehouse").resolve("db").resolve(name).toString, name)
    val (lt, mt) = Common.sideTables(spark, work.resolve(s"mor-side-$passNo"))
    (s"g.db.$name", table, new ReplayEngine(table, table.snapshot.registry, gate = Some(Common.gate),
      lineageTable = Some(lt), metricsTable = Some(mt), mode = MergeMode.MoR))
  }

  private def drop(name: String, table: LakeTable): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Common.deleteTree(Path.of(table.root))
  }

  private def sqlKey(k: (String, String)) = s"repo = '${k._1}' AND path = '${k._2}'"

  /** Run the read mix; with a prefix, record what each read returned. */
  private def readMix(name: String, table: LakeTable, sinceVersion: Long, prefix: Option[Long],
      trace: Option[Trace]): MixTimes = {
    val point = mutable.ArrayBuffer.empty[Double]
    val plan = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    val frac = mutable.ArrayBuffer.empty[Double]
    var returned = 0L
    val mr0 = lake.manifestReadsGlobal.get()
    (0 until pointReads).foreach { _ =>
      val k = randomKey()
      skipping.ScanStats.last.set(None)
      val (rows, t0, t1, ms) = Workload.timed(res, "point read") {
        val df = spark.sql(s"SELECT content FROM $name WHERE ${sqlKey(k)}")
        if (trace.isDefined) {
          val n0 = System.nanoTime()
          df.queryExecution.executedPlan
          plan += (System.nanoTime() - n0) / 1e6
        }
        df.collect()
      }
      rows.foreach { r =>
        point += ms
        returned += r.length
        prefix.foreach(p => reads += Point(p, k, r.headOption.map(x => gen.sha256Hex(x.getString(0)))))
      }
      spans += ((t0, t1))
      trace.foreach(_.add("sql.point_read", t0, t1, "rows" -> rows.map(_.length.toDouble).getOrElse(-1.0)))
      skipping.ScanStats.last.get().foreach { case (b, bt, _, _) => frac += b.toDouble / bt }
    }
    val mr = lake.manifestReadsGlobal.get() - mr0
    val keys = Seq.fill(8)(randomKey()).distinct
    val (inRows, i0, i1, inMs) = Workload.timed(res, "in-list read")(spark.sql(
      s"SELECT repo, path, content FROM $name WHERE repo IN (${keys.map(k => s"'${k._1}'").mkString(",")}) " +
        s"AND path IN (${keys.map(k => s"'${k._2}'").mkString(",")})").collect())
    for (p <- prefix; rows <- inRows)
      reads += InList(p, keys, rows.map(r => (r.getString(0), r.getString(1)) -> gen.sha256Hex(r.getString(2))).toMap)
    val (agg, s0, s1, scanMs) = Workload.timed(res, "scan")(
      spark.sql(s"SELECT count(*), sum(length(content)) FROM $name").collect()(0))
    for (p <- prefix; r <- agg) reads += Agg(p, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    val (feed, f0, f1, feedMs) = Workload.timed(res, "change feed")(
      table.changesSince(sinceVersion).agg(count(lit(1)), sum(length(col("content")))).collect()(0).getLong(0))
    for (p <- prefix; n <- feed) reads += Feed(p, n)
    trace.foreach { tr =>
      tr.add("sql.in_list", i0, i1)
      tr.add("sql.scan", s0, s1)
      tr.add("changesSince", f0, f1)
    }
    MixTimes(point.toSeq, plan.toSeq, if (inRows.isDefined) inMs else Double.NaN,
      if (agg.isDefined) scanMs else Double.NaN, if (feed.isDefined) feedMs else Double.NaN,
      spans.toSeq, mr, frac.toSeq, returned)
  }

  def measure(seconds: Double, trace: Option[Trace]): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val samples = mutable.ArrayBuffer.empty[EpochSample]
    val mixes = mutable.ArrayBuffer.empty[MixTimes]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val finalScan = mutable.ArrayBuffer.empty[Double]
    val deltaFiles = mutable.ArrayBuffer.empty[Double]
    val liveBytesPerRow = mutable.ArrayBuffer.empty[Double]
    var manifestReads = 0L
    var written = (0L, 0L, 0L, 0L)
    var passes = 0
    do {
      val (name, table, engine) = create()
      (0 until epochs).foreach { e =>
        val since = table.snapshot.version
        val df = Common.readEpoch(spark, logDir, logSchema, e)
        val mr0 = lake.manifestReadsGlobal.get()
        val (r, t0, t1, ms) = Workload.timed(res, s"epoch $e")(engine.applyEpoch(df, e, knownInputCount = Some(perEpoch)))
        manifestReads += lake.manifestReadsGlobal.get() - mr0
        trace.foreach(_.add("applyEpoch", t0, t1, "epoch" -> e.toDouble, "events" -> perEpoch.toDouble))
        if (r.exists(_.committed)) samples += EpochSample(t0, t1, ms, perEpoch)
        val mix = readMix(name, table, since, Some((e + 1) * perEpoch), trace)
        mixes += mix
        manifestReads += mix.manifestReads
        if (trace.isDefined) {
          val rows = reads.reverseIterator.collectFirst { case a: Agg => a.rows }.getOrElse(0L)
          liveBytesPerRow += table.filesOf(table.snapshot).map(_.bytes).sum.toDouble / math.max(1L, rows)
        }
      }
      deltaFiles += table.filesOf(table.snapshot).count(_.kind == "delta").toDouble
      val (_, c0, c1, cms) = Workload.timed(res, "compactDeltas")(table.compactDeltas())
      compactMs += cms
      val (_, s0, s1, sms) = Workload.timed(res, "final scan") {
        val r = spark.sql(s"SELECT count(*), sum(length(content)) FROM $name").collect()(0)
        reads += Agg(epochs * perEpoch, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      finalScan += sms
      trace.foreach { tr => tr.add("compactDeltas", c0, c1); tr.add("sql.final_scan", s0, s1) }
      written = Workload.plus(written, Workload.written(table))
      last.foreach { case (n, t) => drop(n, t) }
      last = Some((name, table))
      passes += 1
    } while (System.nanoTime() < deadline)
    val ms = samples.map(_.ms).toSeq
    val eps = samples.map(_.events).sum / (ms.sum / 1e3)
    val points = mixes.flatMap(_.point).toSeq
    val scans = mixes.map(_.scan).filterNot(_.isNaN).toSeq
    val feeds = mixes.map(_.feed).filterNot(_.isNaN).toSeq
    trace match {
      case None =>
        res.e2e(Metric("apply_events_per_s", "events/s", eps, ms.size))
        res.latency("commit_ms", ms)
        res.latency("point_read_ms", points)
        res.e2e(Metric("latency_ms.p50", "ms", Stats.median(points), points.size, "= point_read_ms.p50"))
        res.e2e(Metric("scan_s", "s", Stats.median(scans) / 1e3, scans.size))
        res.e2e(Metric("feed_read_ms.p50", "ms", Stats.median(feeds), feeds.size))
        println(f"  passes=$passes epochs=${ms.size} point_reads=${points.size} " +
          f"in_list_ms.p50=${Stats.median(mixes.map(_.inList).filterNot(_.isNaN).toSeq)}%.1f " +
          f"final_scan_ms.p50=${Stats.median(finalScan.toSeq)}%.1f")
      case Some(tr) =>
        val layered = samples.map(s => EpochLayers.Epoch(s.startMs, s.endMs, s.ms, s.events, tr.jobsIn(s.startMs, s.endMs)))
        EpochLayers.report(res, layered.toSeq, spark.sparkContext.defaultParallelism)
        Workload.reportWritten(res, written, passes * cfg.n, ms.size)
        res.layer(Metric("lake.live_bytes_per_row", "B", Stats.median(liveBytesPerRow.toSeq), liveBytesPerRow.size))
        res.layer(Metric("lake.manifest_reads", "count", manifestReads.toDouble / math.max(1, ms.size), ms.size,
          "per epoch with its read mix"))
        res.layer(Metric("lake.outstanding_delta_files", "count", Stats.median(deltaFiles.toSeq), deltaFiles.size,
          "before compaction"))
        res.layer(Metric("lake.compact_s", "s", Stats.median(compactMs.toSeq) / 1e3, compactMs.size))
        val plans = mixes.flatMap(_.planMs).toSeq
        if (plans.nonEmpty) res.layer(Metric("sql.plan_ms", "ms", Stats.median(plans), plans.size))
        val pointJobs = mixes.flatMap(_.pointSpans).map { case (s, e) => tr.jobsIn(s, e) }.toSeq
        res.layer(Metric("sql.jobs_per_point_read", "count", Stats.mean(pointJobs.map(_.size.toDouble)), pointJobs.size))
        val fr = mixes.flatMap(_.bucketFrac).toSeq
        if (fr.nonEmpty) res.layer(Metric("skipping.buckets_read_frac", "ratio", Stats.mean(fr), fr.size))
        res.layer(Metric("skipping.rows_read_per_row_returned", "ratio",
          pointJobs.flatten.map(_.recordsRead).sum.toDouble / math.max(1L, mixes.map(_.rowsReturned).sum),
          pointJobs.size))
        res.e2e(Metric("traced.apply_events_per_s", "events/s", eps, ms.size))
        res.e2e(Metric("traced.commit_ms.p50", "ms", Stats.median(ms), ms.size))
    }
  }

  /** Every recorded read against the oracle at its applied prefix, then
    * the last pass's compacted table against the final oracle state. */
  def check(): Boolean = {
    val byPrefix = reads.groupBy(_.prefix)
    val state = mutable.HashMap.empty[(String, String), gen.OracleEvent]
    var bad = 0L
    var checked = 0L
    var lsn = 0L
    (1 to epochs).foreach { e =>
      val touched = mutable.HashSet.empty[(String, String)]
      while (lsn < e * perEpoch) {
        val ev = gen.eventAt(lsn, cfg)
        val k = (ev.repo, ev.path)
        touched += k
        if (ev.op == "D") state.remove(k) else state.update(k, ev)
        lsn += 1
      }
      def sha(k: (String, String)) = state.get(k).map(x => gen.sha256Hex(x.content))
      byPrefix.getOrElse(e * perEpoch, Nil).foreach { r =>
        checked += 1
        val ok = r match {
          case Point(_, k, got) => got == sha(k)
          case InList(_, keys, got) => got == keys.flatMap(k => sha(k).map(k -> _)).toMap
          case Agg(_, rows, chars) => rows == state.size && chars == state.values.map(_.content.length.toLong).sum
          case Feed(_, rows) => rows == touched.size
        }
        if (!ok) bad += 1
      }
    }
    val finalBad = last.map { case (_, t) => Common.checkFinal(t.read(), cfg) }.getOrElse(1L)
    println(s"  check: $checked reads vs oracle at their prefix: $bad wrong; final table: $finalBad mismatching keys")
    bad == 0 && finalBad == 0 && checked == reads.size
  }
}

object MorReadMix {
  /** What a read returned, kept for the oracle check after the run:
    * `prefix` is the number of events applied when it ran. */
  sealed trait Read { def prefix: Long }
  final case class Point(prefix: Long, key: (String, String), sha: Option[String]) extends Read
  final case class InList(prefix: Long, keys: Seq[(String, String)], got: Map[(String, String), String]) extends Read
  final case class Agg(prefix: Long, rows: Long, chars: Long) extends Read
  final case class Feed(prefix: Long, rows: Long) extends Read

  /** Latencies of one read mix, ms. */
  final case class MixTimes(point: Seq[Double], planMs: Seq[Double], inList: Double,
      scan: Double, feed: Double, pointSpans: Seq[(Long, Long)], manifestReads: Long,
      bucketFrac: Seq[Double], rowsReturned: Long)
}
