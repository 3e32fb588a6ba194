package graft.cdc

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.cdc.lake.LakeTable

/** Streaming CDC-out: `spark.readStream.format("graft-changes")` tails a lake
  * table's change feed continuously — the streaming face of
  * [[lake.LakeTable.changesSince]] (reference analog: the change-data-feed
  * read mode of /root/reference/src/models/reader.py, re-imagined as a
  * Structured Streaming source instead of a batch poll loop).
  *
  * Offset model: the table's SNAPSHOT VERSION. Snapshots are immutable and
  * versions are dense and monotone, so an offset range (v1, v2] names an
  * exact, replayable set of delta files — `getBatch` is deterministic for a
  * fixed range, which is what Structured Streaming's offset-log checkpoint
  * needs for exactly-once downstream composition (re-delivered ranges
  * re-produce byte-identical batches).
  *
  * Loss contract: if compaction/CoW folds away delta files the consumer has
  * not yet read, `changesSince` REFUSES (foldedLsnHigh watermark) and the
  * stream FAILS — a feed that silently skipped folded changes would be
  * silent data loss downstream. Operators size `graft.mor.compactAfter` /
  * compaction cadence to lag all feed consumers.
  *
  * Scale: each micro-batch plans only the delta files committed in its
  * version range (manifest set difference, driver-side, no data scan), so a
  * steady-state tail is O(new files per trigger) regardless of table size.
  * Schema is pinned at stream start; an incompatible mid-stream evolution
  * (type widening) fails the query with instructions to restart — a restart
  * re-pins the current schema, matching Delta's CDF contract.
  */
object changefeed {
  /** The change metadata ahead of the payload in every feed row and delta
    * file. */
  val feedMeta: Seq[StructField] = Seq(StructField("lsn", LongType, nullable = false),
    StructField("op", StringType, nullable = true))

  /** Feed row shape: change metadata then the payload columns of `schema`. */
  def feedSchema(payload: StructType): StructType = StructType(feedMeta ++ payload.fields)

  private[cdc] def parseVersion(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    // after a restart the offset log re-delivers a SerializedOffset whose
    // json is whatever LongOffset.json wrote — a bare long
    case other => other.json.trim.toLong
  }

  /** Resolve a `startingVersion` option: "latest" (default) = only changes
    * committed after stream start; "earliest" = the oldest retained
    * snapshot; otherwise an explicit snapshot version. */
  private[cdc] def resolveStart(t: LakeTable, opt: Option[String]): Long =
    opt.map(_.trim.toLowerCase) match {
      case None | Some("latest") => t.currentVersionOpt.getOrElse(
        throw new IllegalStateException(s"lake table not found at ${t.root}"))
      case Some("earliest") => t.history().head
      case Some(v) => v.toLong
    }
}

/** The V1 [[Source]]: smallest API that lets `getBatch` return a DataFrame
  * built from the existing batch feed planner (DSv2 MicroBatchStream would
  * force re-implementing the delta-file read as raw InternalRow partitions).
  */
final class GraftChangesSource(
    spark: SparkSession,
    root: String,
    startVersion: Long,
    override val schema: StructType,
    maxVersionsPerTrigger: Option[Long] = None)
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // re-open lazily so executors never serialize the table handle
  private def table: LakeTable = LakeTable.load(spark, root, "changes-source")

  private def currentCeiling: Long =
    table.currentVersionOpt.map(v => math.max(v, startVersion)).getOrElse(startVersion)

  // ---- admission control / Trigger.AvailableNow ----------------------------
  // The engine consults latestOffset (not getOffset) once the source
  // declares admission control. Offsets stay snapshot versions; the two
  // knobs compose: `maxVersionsPerTrigger` bounds each micro-batch (a
  // backfill from v0 on a table with millions of commits must not plan one
  // giant batch), and AvailableNow pins the END at prepare time so the run
  // drains exactly what existed, in bounded batches, then terminates —
  // commits racing in mid-drain wait for the next run, never extend this
  // one. Without prepare (ProcessingTime triggers) the cap is absent and
  // latestOffset degrades to the old getOffset behavior.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentCeiling)

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val from = Option(start).map {
      case v1: OffsetV1 => changefeed.parseVersion(v1)
      case v2 => v2.json.trim.toLong
    }.getOrElse(startVersion)
    val ceiling = availableNowCap.fold(currentCeiling)(math.min(currentCeiling, _))
    val end = maxVersionsPerTrigger.fold(ceiling)(m => math.min(ceiling, from + math.max(1L, m)))
    if (end <= from) null else LongOffset(end) // null = no new data this trigger
  }

  override def reportLatestOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    LongOffset(currentCeiling)

  override def getOffset: Option[OffsetV1] =
    table.currentVersionOpt.map(v => LongOffset(math.max(v, startVersion)))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val sinceV = start.map(changefeed.parseVersion).getOrElse(startVersion)
    val endV = changefeed.parseVersion(end)
    if (endV <= sinceV) {
      // empty range (first trigger on an idle table / restart replaying an
      // empty batch): answer from the PINNED schema without touching the
      // snapshot log — building a real changesSince plan here could throw
      // the vacuumed-snapshot error for a batch that needs no data, and
      // costs a snapshot parse + manifest set-difference per idle trigger
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      return org.apache.spark.sql.graftbridge.Bridge.streamingFrame(empty)
    }
    val batch = table.changesSince(sinceV, Some(endV))
    // conform to the PINNED schema: the declared source schema cannot change
    // mid-stream, so a batch whose feed schema diverged must either project
    // away additive columns (safe) or fail (type change / dropped column)
    val byName = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = schema.fields.filter(f => !byName.get(f.name).contains(f.dataType))
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"change-feed schema evolved incompatibly mid-stream for ${bad.map(_.name).mkString(", ")} " +
          s"(pinned ${bad.map(_.dataType.simpleString).mkString(", ")}); restart the streaming " +
          "query to re-pin the table's current schema")
    val conformed = batch.select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    // Source contract: the returned DataFrame must be a STREAMING frame (the
    // engine splices its plan into the continuous query) — same
    // internalCreateDataFrame bridge Spark's own file source uses
    org.apache.spark.sql.graftbridge.Bridge.streamingFrame(conformed)
  }

  override def commit(end: OffsetV1): Unit = () // nothing to GC: snapshots are the log
  override def stop(): Unit = ()
  override def toString: String = s"GraftChangesSource[$root, start=v$startVersion]"
}

/** `format("graft-changes")` provider (registered in META-INF/services).
  * Options: `path` = table root (required); `startingVersion` =
  * latest | earliest | <version long> (default latest);
  * `maxVersionsPerTrigger` = bound each micro-batch to at most this many
  * snapshot versions (backfill pacing; composes with Trigger.AvailableNow,
  * which drains to a fixed end cap in bounded batches, then terminates). */
final class GraftChangesProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-changes"

  private def open(sqlContext: SQLContext, parameters: Map[String, String]): (LakeTable, Long) = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-changes source requires option 'path' (lake table root)"))
    val t = LakeTable.load(sqlContext.sparkSession, root, "changes-source")
    (t, changefeed.resolveStart(t, parameters.get("startingversion")))
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (t, _) = open(sqlContext, parameters)
    (shortName(), changefeed.feedSchema(t.snapshot.schema))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val (t, startV) = open(sqlContext, parameters)
    val maxV = parameters.get("maxversionspertrigger").map { s =>
      val v = s.trim.toLong
      require(v > 0, s"maxVersionsPerTrigger must be positive, got $v")
      v
    }
    new GraftChangesSource(sqlContext.sparkSession, t.root, startV,
      schema.getOrElse(changefeed.feedSchema(t.snapshot.schema)), maxV)
  }
}
