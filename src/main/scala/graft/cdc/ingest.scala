package graft.cdc

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.Serialization

import graft.cdc.lake._

/** The replay side of the engine: the epoch loop, checkpoint ledger, and
  * lineage/metrics emission. Per-key max-LSN dedup is fused into the lake
  * merge itself (see `LakeTable.merge`).
  */
object ingest {

  /** Checkpointed offset/watermark ledger (north rule): tiny JSON state file
    * atomically replaced after each committed epoch; replay resumes from
    * `lastEpoch + 1`. The lake table's own epoch fence makes a stale or lost
    * ledger safe — re-applying a committed epoch is a no-op. */
  final case class LedgerState(lastEpoch: Long, lsnHigh: Long)

  final class CheckpointLedger(dir: String) {
    private implicit val fmts: Formats = Serialization.formats(NoTypeHints)
    private val path = Paths.get(dir, "ledger.json")

    def read(): LedgerState =
      PosixMetaStore.read(path).fold(LedgerState(-1L, -1L))(Serialization.read[LedgerState](_))

    def advance(s: LedgerState): Unit = PosixMetaStore.replace(path, Serialization.write(s))
  }

  final case class EpochMetrics(
      epoch: Long,
      events_in: Long,
      events_deduped: Long,
      events_applied: Long,
      wall_ms: Long,
      events_per_sec: Double,
      content_checksum: Long = 0L) // xor-sum of sha256(content) over the batch (verify mode)

  final case class EpochResult(
      committed: Boolean,
      snapshotVersion: Long,
      metrics: EpochMetrics,
      lineage: Seq[LineageEntry])

  /** How epochs are applied to the lake table. */
  sealed trait MergeMode
  object MergeMode {
    /** Copy-on-write: every epoch rewrites the touched buckets (read-optimal). */
    case object CoW extends MergeMode
    /** Merge-on-read: epochs append per-key-winner delta files; reads apply
      * them with the per-bucket max-LSN fold (write-optimal; compact with
      * `table.compactDeltas()` or any CoW merge touching the bucket). */
    case object MoR extends MergeMode
  }

  /** Epoch-driven CDC apply loop over a [[lake.LakeTable]].
    *
    * One `applyEpoch` = the reference's per-batch merge lifecycle
    * (/root/reference/src/models/writer.py:42-67) made explicit:
    * conform (schema registry) -> quality gate -> per-key max-LSN dedup ->
    * copy-on-write merge -> epoch-fenced atomic commit -> lineage + metrics.
    *
    * Exactly-once: commit embeds epochId; replaying any prefix of epochs after
    * a crash/restart is a sequence of fenced no-ops until the first
    * not-yet-committed epoch.
    */
  final class ReplayEngine(
      val table: LakeTable,
      val registry: SchemaRegistry,
      val gate: Option[quality.QualityGate] = None,
      val lineageTable: Option[LakeTable] = None,
      val metricsTable: Option[LakeTable] = None,
      val ledger: Option[CheckpointLedger] = None,
      /** Persistent `data_quality_checks` audit lake table: every epoch's
        * warn AND error failures are appended (errors BEFORE the abort, like
        * the reference's _handle_errors, data_quality_evaluator.py:88-93). */
      val auditTable: Option[LakeTable] = None,
      /** Row-level quarantine lake table: rows failing any check are appended
        * with their failure annotations serialized as JSON. */
      val quarantineTable: Option[LakeTable] = None,
      val mode: MergeMode = MergeMode.CoW,
      /** Verified replay: additionally compute sha256(content) for every event
        * in the epoch and record an order-insensitive checksum in the metrics
        * — the north rule's row-integrity primitive maintained continuously,
        * so any corruption between source and lake is caught at the epoch it
        * happens (compare against the same checksum computed source-side). */
      val verifyChecksums: Boolean = false) {

    /** Persist gate failures (audit summaries + quarantined rows), then abort
      * on error-level failures. With an audit table attached, warn+error
      * summaries are appended FIRST — errors are persisted before the abort,
      * reference-style (_handle_errors, data_quality_evaluator.py:88-93).
      *
      * Idempotence policy: audit/quarantine appends for epochs that will
      * COMMIT are fenced at this epochId, so a crash-replay of an
      * already-committed epoch cannot double-count failures in the SLO.
      * Error-aborted attempts append UNFENCED (at-least-once) so a corrected
      * resubmission of the same epoch id still gets its failures audited
      * (QualitySlo.derive dedupes the retries). */
    private def persistFailuresAndMaybeAbort(g: quality.QualityGate,
        failures: Seq[quality.CheckFailure], withMeta: DataFrame, epochId: Long): Unit = {
      val hasErrors = failures.exists(_.criticality == "error")
      val fenceId = if (hasErrors) -1L else epochId
      // the fence on the SIDE tables is scoped per source table: several
      // engines may share one audit/quarantine table, and a global fence
      // would let engine A's epoch-N append silently drop engine B's later
      // append for any epoch <= N (see LakeTable.append fenceScope)
      val scope = Some(table.name)
      auditTable.foreach { at =>
        at.append(quality.DataQualityChecks.auditRows(
          table.spark, failures, table.name, jobId = epochId, runId = epochId),
          epochId = fenceId, fenceScope = scope)
      }
      quarantineTable.foreach { qt =>
        val quarantine = g.split(withMeta.where(col("op") =!= "D")).quarantine
          .withColumn("epoch", lit(epochId))
          .withColumn("_warnings", to_json(col("_warnings")))
          .withColumn("_errors", to_json(col("_errors")))
        qt.append(quarantine.select(qt.snapshot.schema.fieldNames.map(col).toSeq: _*),
          epochId = fenceId, fenceScope = scope)
      }
      if (hasErrors) throw new quality.QualityGateError(failures.filter(_.criticality == "error"))
    }

    /** Apply one epoch of change events. `events` must carry `lsn`, `op`, and
      * payload columns for some registry version (extra columns are dropped by
      * conform; missing newer columns are null-filled).
      *
      * Two Spark jobs per clean epoch, through the merge's stats pre-pass
      * seam (`LakeTable.merge` / `deltaAppend`): the pre-pass also totals
      * the gate's per-check violations (delete tombstones excluded), the
      * input count and, in verify mode, the content checksum; the gate's
      * verdict runs on those totals before any file is written, then the
      * write job runs. `knownInputCount = Some(0)` skips a known-empty batch
      * before any job runs; any other value is ignored (`events_in` comes
      * from the pre-pass). */
    def applyEpoch(events: DataFrame, epochId: Long,
        knownInputCount: Option[Long] = None): EpochResult = {
      val t0 = System.nanoTime()
      val snap = table.snapshot
      if ((epochId >= 0 && epochId <= snap.epochId) || knownInputCount.contains(0L)) {
        // replayed epoch (exactly-once fence) or known-empty batch: nothing runs
        return EpochResult(committed = false, snap.version,
          EpochMetrics(epochId, 0, 0, 0, 0, 0.0), Nil)
      }

      // 1. conform payload to the table's current schema version (additive
      //    evolution: old-version events null-fill / widen into the new shape),
      //    keeping the lsn/op event metadata alongside the payload
      val withMeta = events.select((Seq(col("lsn"), col("op")) ++
        SchemaRegistry.conformedColumns(snap.schema, events.schema)): _*)
      // quarantine-attached gated epochs persist the conformed batch: the
      // stats pre-pass is the scan that POPULATES the cache, so a
      // failure-bearing epoch's quarantine-row derivation and the write
      // read the cached batch instead of re-scanning the source. The cache
      // is epoch-batch-sized (bounded by the tail's trigger size at 100 TB:
      // maxFilesPerTrigger); MEMORY_AND_DISK spills rather than evicting,
      // and clean epochs pay only the in-memory copy.
      val gateOn = gate.filter(_.checks.nonEmpty)
      val cacheBatch = gateOn.isDefined && quarantineTable.isDefined
      if (cacheBatch) { withMeta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK); () }
      try {

      // 2. quality gate + input count + checksum, summed by the merge's
      //    stats pre-pass: errors abort before any file is written, so an
      //    aborted epoch leaves no data files and no committed state
      val gateSums = gateOn.toSeq.flatMap(_.violations(col("op") =!= "D"))
      val sums = gateSums ++ Seq(lit(1L)) ++
        (if (verifyChecksums) Seq(crc32(sha2(col("content"), 256))) else Nil)
      var totals = Seq.empty[Long]
      val check: Seq[Long] => Unit = t => {
        totals = t
        gateOn.foreach { g =>
          val failures = g.failuresOf(t.take(gateSums.size))
          if (failures.nonEmpty) persistFailuresAndMaybeAbort(g, failures, withMeta, epochId)
        }
      }

      // 3.+4. merge with the per-key max-LSN dedup FUSED into the merge's
      //    per-bucket fold (a shuffle of the batch only; see LakeTable.merge),
      //    then the fenced commit
      val res = mode match {
        case MergeMode.CoW => table.merge(withMeta, epochId, sums, check)
        case MergeMode.MoR => table.deltaAppend(withMeta, epochId, sums, check)
      }

      val wallMs = (System.nanoTime() - t0) / 1000000L
      val applied = res.lineage.map(l => l.rows_upserted + l.rows_deleted).sum
      // the totals after the gate's: the input count, then the checksum
      val (eventsIn, checksum) = totals.drop(gateSums.size) match {
        case n +: cs if res.committed => (n, cs.headOption.getOrElse(0L))
        case _ => (0L, 0L)
      }
      val m = EpochMetrics(epochId, eventsIn,
        events_deduped = math.max(0L, eventsIn - applied), events_applied = applied,
        wall_ms = wallMs,
        events_per_sec = if (wallMs > 0) eventsIn * 1000.0 / wallMs else 0.0,
        content_checksum = checksum)

      if (res.committed) {
        val spark = table.spark
        import spark.implicits._
        lineageTable.foreach(lt => lt.append(res.lineage.toDF(), epochId = -1L))
        metricsTable.foreach(mt => mt.append(Seq(m).toDF(), epochId = -1L))
        ledger.foreach(_.advance(LedgerState(epochId, res.snapshot.lsnHigh)))
      }
      EpochResult(res.committed, res.snapshot.version, m, res.lineage)
      } finally if (cacheBatch) { withMeta.unpersist(blocking = false); () }
    }
  }
}
