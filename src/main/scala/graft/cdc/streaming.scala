package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.ingest.ReplayEngine

/** Structured Streaming driver: the binlog/WAL tail as a file stream, each
  * micro-batch applied as one CDC epoch through the same [[ReplayEngine]] the
  * batch path uses (SURVEY.md §2.8 mapping).
  *
  * Exactly-once composition: Structured Streaming's checkpoint guarantees each
  * micro-batch is re-delivered with the SAME batchId after a crash, and the
  * lake table's epoch fence makes re-application of a committed batchId a
  * no-op — together: exactly-once sink semantics over an at-least-once
  * delivery, the standard foreachBatch idempotent-sink pattern.
  *
  * At scale: the file source is a stand-in for a real WAL tail (Kafka jars
  * absent in this sandbox); `maxFilesPerTrigger` bounds epoch size, and all
  * heavy work (dedup shuffle + merge join + bucket rewrite) happens inside
  * applyEpoch on the cluster.
  */
object streaming {

  /** Durable LSN watermark shared between the DRIVER (which advances it as
    * epochs commit) and the state-store EXECUTORS (which read it to evict
    * dedup state) through shared storage. A plain closure over driver memory
    * would silently never propagate to executor JVMs on a real cluster —
    * each executor would see the initial value forever and TTL eviction
    * would degrade back to unbounded state — so the watermark lives in a
    * file on storage all JVMs can reach (the same class of location as the
    * checkpoint dir). Writes are atomic replaces; reads are cached per JVM for
    * `refreshMs` so the state function can consult it per group without
    * hammering the store. A stale read only DELAYS eviction (the watermark
    * is monotone), never changes emitted results. */
  object LsnWatermark {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val refreshMs = 200L

    def write(path: String, v: Long): Unit = {
      PosixMetaStore.replace(java.nio.file.Paths.get(path), v.toString)
      cache.put(path, (v, System.currentTimeMillis())); ()
    }

    def read(path: String): Long = {
      val now = System.currentTimeMillis()
      val cached = cache.get(path)
      if (cached != null && now - cached._2 < refreshMs) cached._1
      else {
        val v =
          try PosixMetaStore.read(java.nio.file.Paths.get(path)).fold(-1L)(_.trim.toLong)
          catch { case _: Exception => -1L } // unreadable = no watermark
        cache.put(path, (v, now))
        v
      }
    }

    /** Executor-safe `evictBelowLsn` supplier: the closure captures only the
      * path string; every JVM resolves the current value from storage. */
    def supplier(path: String): () => Long = () => read(path)
  }

  /** Tail a directory of change-event parquet files as a stream. */
  def changeStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(dir)
  }

  /** Streaming analytics over the change feed itself: watermarked, windowed
    * per-op counts + key cardinality estimate (the SLO-metrics analog of the
    * reference, src/metadata/slo/quality.py, in streaming form). `tsCol` must
    * be an event-time timestamp column on the stream. */
  def changeFeedMetrics(events: DataFrame, tsCol: String,
      windowLen: String = "1 minute", watermark: String = "5 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("op"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(concat_ws("|", col("repo"), col("path"))).as("approx_keys"),
        min("lsn").as("lsn_min"), max("lsn").as("lsn_max"))
  }

  /** Cross-epoch stateful dedup: per-key last-applied-LSN state via
    * `flatMapGroupsWithState`, emitting only events STRICTLY newer than the
    * key's high-watermark. The in-batch max-LSN window (the fused merge
    * aggregation) is order-insensitive WITHIN an epoch; this operator
    * extends that guarantee ACROSS micro-batches for tails that can
    * redeliver or interleave old LSNs between epochs (at-least-once sources).
    *
    * State is O(1) per key (one long) and lives in the Structured Streaming
    * state store — checkpointed, partitioned by key, nothing driver-side.
    *
    * State lifecycle at the 10^10-key envelope: without a bound, state is one
    * long per EVER-SEEN key — 10^10 longs. `evictBelowLsn` supplies the
    * engine's durable LSN watermark (typically the lake table's committed
    * `lsnHigh`, refreshed by the caller as epochs commit):
    *
    *  - every event at or below the CURRENT watermark is dropped statelessly
    *    (it is already durably applied — the epoch fence plus binlog ordering
    *    make it a redelivery by contract), so keys whose state high sits at
    *    or below the watermark need NO state to stay correct;
    *  - such keys' state is therefore evicted on a processing-time TTL
    *    (`stateTtl`), bounding live state to keys AHEAD of the watermark —
    *    O(in-flight keys), not O(ever-seen keys);
    *  - a late event ABOVE the watermark for an evicted key is genuinely new
    *    (its lsn exceeds the evicted high) and still passes — eviction never
    *    changes the emitted stream, only the state footprint.
    *
    * With `evictBelowLsn = None` (default) the operator keeps the unbounded
    * behavior: no timeouts, a key's watermark never expires.
    *
    * CLUSTER CONTRACT: the supplier runs INSIDE the state function, i.e. on
    * executors — it must read executor-visible state. Use
    * [[LsnWatermark.supplier]] over a shared-storage path (the driver
    * advances it per committed epoch, e.g. via [[replayStream]]'s
    * `watermarkFile`); a closure over driver memory only works in
    * single-JVM local mode. */
  def statefulDedup(events: DataFrame, evictBelowLsn: Option[() => Long] = None,
      stateTtl: String = "30 seconds"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val rowEnc = Encoders.row(events.schema)
    val timeoutConf =
      if (evictBelowLsn.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey((r: Row) =>
        r.getAs[String]("repo") + "\u0000" + r.getAs[String]("path"))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (_: String, rows: Iterator[Row], state: GroupState[Long]) => {
          val watermark = evictBelowLsn.map(_()).getOrElse(-1L)
          val high = state.getOption.getOrElse(-1L)
          if (state.hasTimedOut) {
            // TTL tick: evict iff the durable watermark has passed this key
            if (high <= watermark) state.remove()
            else state.setTimeoutDuration(stateTtl)
            Iterator.empty
          } else {
            // keep only events above BOTH the key state and the durable
            // watermark (the latter keeps evicted keys correct statelessly)
            val floor = math.max(high, watermark)
            val fresh = rows.filter(_.getAs[Long]("lsn") > floor).toSeq
            val newHigh =
              if (fresh.isEmpty) high else math.max(high, fresh.map(_.getAs[Long]("lsn")).max)
            if (newHigh > watermark) {
              if (newHigh > high) state.update(newHigh)
              if (evictBelowLsn.isDefined) state.setTimeoutDuration(stateTtl)
            } else if (state.exists) state.remove()
            fresh.iterator
          }
        })(Encoders.scalaLong, rowEnc)
      .toDF()
  }

  /** Run the CDC apply loop over a streaming source; one micro-batch = one
    * epoch. `Trigger.AvailableNow` drains everything currently in the source
    * then stops (deterministic for tests/bench); pass ProcessingTime for a
    * long-lived tail. Each micro-batch is persisted and handed to
    * `applyEpoch` as is: the stats pre-pass runs the upstream plan once
    * (filling the cache the write reads) and counts the batch, so a no-data
    * batch commits nothing after that one job.
    *
    * `watermarkFile`: after each committed epoch, the table's durable
    * `lsnHigh` is published to this shared-storage path — the feed for an
    * upstream [[statefulDedup]]'s TTL eviction ([[LsnWatermark]]).
    *
    * TRIGGER × TTL CAVEAT (empirical, Spark 4.1): `Trigger.AvailableNow`
    * never terminates while a ProcessingTimeTimeout is armed — a due
    * deadline re-arms on every no-data batch, so the query spins instead of
    * draining. Use AvailableNow only WITHOUT TTL'd dedup upstream; a TTL'd
    * pipeline should run `Trigger.ProcessingTime` and be stopped by the
    * caller once drained (see cdcq.streamReplay for the pattern). */
  def replayStream(events: DataFrame, engine: ReplayEngine, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      watermarkFile: Option[String] = None): StreamingQuery = {
    // Spark 4.1's checkpoint checksum sidecars write+rename one extra file
    // per state/offset/commit file per batch — on the exactly-once path the
    // checkpoint's atomic-rename protocol is already the integrity fence,
    // and the engine's own epoch fence makes a torn redelivery a no-op, so
    // the sidecars only double the per-batch metadata ops. Scoped to THIS
    // query: the session value is captured by the query at start() and
    // restored right after.
    // Same layer one level down: the checkpoint managers write through
    // Hadoop's FileContext, whose local binding (`LocalFs`) is a ChecksumFs
    // (a `.crc` sidecar per file) over RawLocalFileSystem, which without
    // the native library forks `chmod` per created file and `readlink` per
    // rename. [[ForkFreeLocalFs]] keeps the same atomic POSIX rename with
    // neither; on HDFS/object-store checkpoints the key is inert. The
    // FileStreamSource's own `sources/0` log resolves its FileSystem when
    // the source is created, after the restore below, so it keeps the
    // session's binding.
    val spark = events.sparkSession
    val confs = Seq(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      ForkFreeLocalFs.fileContextConf)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try startReplayStream(events, engine, checkpointDir, trigger, watermarkFile)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def startReplayStream(events: DataFrame, engine: ReplayEngine, checkpointDir: String,
      trigger: Trigger, watermarkFile: Option[String]): StreamingQuery = {
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fenced = batchId >= 0 && batchId <= engine.table.snapshot.epochId
        if (fenced) {
          // crash-redelivered batchId (query restart on the same checkpoint):
          // the TABLE must ignore it — that's the epoch fence — but the
          // MICRO-BATCH must still EXECUTE. applyEpoch's fence returns before
          // any job runs, which would leave the upstream stateful operators'
          // state stores uncommitted for this batch: Spark 4 fails the batch
          // outright (STATE_STORE_COMMIT_VALIDATION_FAILED), and skipping
          // would genuinely break state-version continuity for the NEXT
          // batch. count() drives every partition; the emitted rows are
          // discarded — the fence already guarantees the table ignores them.
          batch.count()
        } else {
          // persist: the merge's stats pre-pass executes the upstream plan
          // (state-store ops included) ONCE, driving every partition even
          // for a no-data batch, and populates the cache the write then
          // reads: the batch plan never runs twice
          batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            engine.applyEpoch(batch, batchId)
            watermarkFile.foreach(f => LsnWatermark.write(f, engine.table.snapshot.lsnHigh))
          } finally { batch.unpersist(blocking = false); () }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
