package graft

/** A from-scratch Spark-native CDC / incremental-ingest engine.
  *
  * Pipeline: a binlog/WAL tail of [[cdc.model.ChangeEvent]]s (insert/update/
  * delete, globally LSN-ordered, keyed on (repo, path)) is applied in epochs
  * to [[cdc.lake.LakeTable]]s — a minimal Iceberg-style snapshot format
  * (bucketed parquet + immutable JSON manifests + atomic-rename commits).
  *
  * Guarantees:
  *  - exactly-once: epoch-fenced atomic commits; replaying any committed
  *    epoch (batch loop or Structured Streaming redelivery) is a no-op
  *  - order/duplication insensitivity within an epoch: per-key max-LSN
  *    resolution fused into the merge's per-bucket fold
  *  - additive schema evolution mid-stream: versioned [[cdc.SchemaRegistry]],
  *    conform-on-read of old-version files (add nullable column, widen type)
  *  - resumability: [[cdc.ingest.CheckpointLedger]] + the table's own fence
  *  - observability: per-bucket lineage and per-epoch metrics tables,
  *    optional per-epoch sha256 content checksums (verified replay)
  *
  * Scale shape: one shuffle of the batch per epoch, its width set in the plan (see
  * [[cdc.lake.LakeTable.merge]]), bucket-pruned target reads for sparse
  * epochs, O(manifest) driver-side commits, no driver data path. Two apply
  * modes: copy-on-write (read-optimal) and merge-on-read delta appends
  * (write-optimal, [[cdc.lake.LakeTable.deltaAppend]]).
  */
package object cdc
