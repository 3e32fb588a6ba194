package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Murmur3Hash, Pmod}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.cdc.lake

/** Storage-partitioned reads: the lake's hash-bucket layout REPORTED to
  * Catalyst, so SQL-surface joins and aggregations on the primary key
  * consume the table without a shuffle — the scan-side analog of what the
  * engine-API merge path already exploits by construction.
  *
  * The scan is a native DSv2 [[Batch]] (one [[InputPartition]] per bucket,
  * `HasPartitionKey` = the bucket id) declaring
  * [[KeyGroupedPartitioning]] over `bucket(NB, key...)`; the companion
  * V2 function (resolved through [[GraftCatalog.loadFunction]]) reproduces
  * the layout hash exactly — `pmod(murmur3(key...), NB)`, the same Catalyst
  * `Murmur3Hash(seed=42)` that `bucketExpr` writes with and
  * `skipping.bucketsForKeys` prunes with (Murmur3 parity is pinned by
  * SkippingSpec). With `spark.sql.sources.v2.bucketing.enabled=true`,
  * joining two graft tables on their (equal-layout) keys or grouping by
  * the full key plans ZERO Exchange operators: at 100 TB that deletes the
  * single largest cost of any key-aligned star join or per-key rollup.
  * Partitions are emitted for EVERY bucket (empty ones read nothing) so
  * two tables' partition-key sets always align without push-down value
  * padding.
  *
  * Files are read with Spark's own parquet reader (vectorized, row-group
  * filter pushdown — built once on the driver via
  * [[Bridge.parquetReader]]), planned by the same
  * [[lake.LakeTable.planScan]] as the V1 path. Eligibility is decided per
  * SNAPSHOT, conservatively: every live file must be a base file on the
  * CURRENT schema version (outstanding MoR deltas need the fused max-LSN
  * merge, old-schema files need conform-on-read — both stay on the V1
  * relation path, which remains the general fallback). The declared
  * partitioning is immutable per scan because the snapshot is pinned
  * (MVCC): a concurrent rebucket produces a NEW snapshot, never a
  * mid-scan layout change.
  */
object GraftSpj {

  /** Whether this snapshot's reads can take the native keyed-scan path. */
  def eligible(snap: lake.Snapshot, files: Seq[lake.DataFile]): Boolean =
    snap.keyColumns.nonEmpty &&
      files.forall(f => f.kind == "base" && f.schemaVersion == snap.schemaVersion)

  /** Refs-only eligibility proof: decide WITHOUT resolving any per-bucket
    * manifest when every ref stamps its schema-version range (10M-file
    * envelope: scan-build planning must not sweep the manifests just to
    * pick a scan path; only the PRUNED buckets' manifests should ever be
    * read). Some(x) = provable from the refs; None = a pre-field ref
    * (version range 0 = unknown) forces the caller's sweep. */
  def eligibleByRefs(snap: lake.Snapshot): Option[Boolean] = {
    if (snap.keyColumns.isEmpty || snap.anyDeltas) return Some(false)
    if (snap.manifests.forall(m => m.numFiles == 0 ||
        (m.schemaVersionLo == snap.schemaVersion && m.schemaVersionHi == snap.schemaVersion)))
      Some(true)
    else if (snap.manifests.exists(m => m.numFiles > 0 && m.schemaVersionLo > 0 &&
        (m.schemaVersionLo != snap.schemaVersion || m.schemaVersionHi != snap.schemaVersion)))
      // provably holds an old-schema file — lo below current counts too
      // (post-evolution appends stamp lo=oldSv, hi=sv on every bucket;
      // without this branch such tables would sweep on every scan build)
      Some(false)
    else None // unknown-range refs: resolve by sweeping
  }

  /** The transform this table's scans report; both join sides must agree on
    * (canonicalName, numBuckets) to co-partition.
    *
    * Single-column keys use Spark's own `bucket(N, col)` spelling: Catalyst
    * special-cases it, hoisting the bucket-count literal into
    * `TransformExpression.numBucketsOpt` (which additionally unlocks
    * mismatched-bucket-count co-partitioning via pushed partition values).
    * Composite keys CANNOT use it — the generic transform-resolution path
    * keeps `Literal(N)` as a TransformExpression argument, and
    * `KeyGroupedPartitioning.satisfies0`'s leaves-are-clustering-keys check
    * then fails on the literal, silently re-inserting the Exchange. So for
    * composite keys the count is baked into the FUNCTION NAME instead
    * (`graft_bucket_N(k1, k2, ...)`): arguments are pure column refs, the
    * leaf check passes, and canonical identity still pins N. */
  def bucketTransform(snap: lake.Snapshot): org.apache.spark.sql.connector.expressions.Transform =
    if (snap.keyColumns.length == 1)
      Expressions.bucket(snap.numBuckets, snap.keyColumns: _*)
    else
      Expressions.apply(s"graft_bucket_${snap.numBuckets}",
        snap.keyColumns.map(Expressions.column): _*)
}

/** V2 catalog function `bucket(numBuckets, key...)`: the layout hash as a
  * [[ScalarFunction]] so Catalyst can (a) prove two scans co-partitioned
  * (canonicalName + bucket-count equality) and (b) re-derive a row's
  * bucket if it ever needs to shuffle one side to match the other
  * (`spark.sql.sources.v2.bucketing.shuffle.enabled`). */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, key...): pmod(murmur3(key...), numBuckets) — the graft lake layout hash"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2,
      s"bucket() takes (numBuckets, key, ...); got ${inputType.catalogString}")
    require(inputType.fields.head.dataType == IntegerType,
      s"bucket(): first argument must be the integer bucket count, got ${inputType.fields.head.dataType}")
    new GraftBoundBucket(inputType.fields.map(_.dataType))
  }
}

private[sql] class GraftBoundBucket(argTypes: Array[DataType])
  extends ScalarFunction[Int] {
  override def name(): String = "bucket"
  override def inputTypes(): Array[DataType] = argTypes
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false
  // canonical identity is layout-wide, not per-table: any two graft tables
  // with the same key types AND the same numBuckets argument co-partition
  override def canonicalName(): String =
    s"graft.bucket[${argTypes.drop(1).map(_.catalogString).mkString(",")}]"

  // pmod(murmur3(key...), nb) over the arg row (ordinal 0 = numBuckets),
  // via the same Catalyst expressions the write layout uses — parity by
  // construction, not by reimplementation
  @transient private lazy val expr = Pmod(
    Murmur3Hash(argTypes.toSeq.drop(1).zipWithIndex.map { case (dt, i) =>
      BoundReference(i + 1, dt, nullable = true)
    }, 42),
    BoundReference(0, IntegerType, nullable = false))
  override def produceResult(input: InternalRow): Int =
    expr.eval(input).asInstanceOf[Int]
}

/** `graft_bucket_N(key...)`: the composite-key layout hash with the bucket
  * count baked into the name (see [[GraftSpj.bucketTransform]] for why the
  * literal cannot travel as an argument). Same Murmur3(seed=42) + pmod as
  * the write layout. */
class GraftNamedBucketFunction(numBuckets: Int) extends UnboundFunction {
  override def name(): String = s"graft_bucket_$numBuckets"
  override def description(): String =
    s"graft_bucket_$numBuckets(key...): pmod(murmur3(key...), $numBuckets) — the graft lake layout hash"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.nonEmpty, s"${name()} takes at least one key column")
    new GraftBoundNamedBucket(numBuckets, inputType.fields.map(_.dataType))
  }
}

private[sql] class GraftBoundNamedBucket(numBuckets: Int, argTypes: Array[DataType])
  extends ScalarFunction[Int] {
  override def name(): String = s"graft_bucket_$numBuckets"
  override def inputTypes(): Array[DataType] = argTypes
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false
  // N is part of the identity here — it is not an argument
  override def canonicalName(): String =
    s"graft.bucket$numBuckets[${argTypes.map(_.catalogString).mkString(",")}]"

  @transient private lazy val expr = Pmod(
    Murmur3Hash(argTypes.toSeq.zipWithIndex.map { case (dt, i) =>
      BoundReference(i, dt, nullable = true)
    }, 42),
    org.apache.spark.sql.catalyst.expressions.Literal(numBuckets, IntegerType))
  override def produceResult(input: InternalRow): Int =
    expr.eval(input).asInstanceOf[Int]
}

/** One bucket of one snapshot: the partition key is the bucket id. Files
  * are (absolutePath, bytes) — resolved driver-side so executors never see
  * manifest logic. */
case class GraftBucketPartition(bucket: Int, files: Seq[(String, Long)])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](bucket))
}

/** Executor side: drive Spark's parquet reader over the partition's files,
  * unwrapping the vectorized reader's type-erased ColumnarBatch elements. */
class GraftBucketReaderFactory(
    readerFn: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketPartition]
    new PartitionReader[InternalRow] {
      private val rows: Iterator[InternalRow] = p.files.iterator.flatMap { case (path, bytes) =>
        readerFn(Bridge.partitionedFile(path, bytes)).flatMap { elem =>
          (elem: Any) match {
            case b: ColumnarBatch => b.rowIterator().asScala
            case r: InternalRow => Iterator.single(r)
          }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** The native keyed scan: bucket-pruned + stats-skipped file planning (the
  * same I/O elision as the V1 path), KeyGroupedPartitioning reported, all
  * filters returned post-scan (Spark re-applies them above — pushdown here
  * is row-group elision inside the parquet reader, never row logic). */
class GraftKeyedScan(table: lake.LakeTable, snap: lake.Snapshot,
    scanSchema: StructType, scanFilters: Seq[Filter], pushedLimit: Option[Int] = None)
  extends Scan with Batch with SupportsReportPartitioning with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Join-time dynamic pruning (Spark's DPP machinery): when this table is
    * the probe side of a broadcast join, Spark evaluates the build side
    * first and calls [[filter]] with `In(joinKey, seenValues)` — then
    * re-plans the partitions. A key-column filter prunes whole BUCKETS
    * (same driver-side hash as the static path), any stat'd column prunes
    * FILES by their manifest bounds: `fact JOIN dim` reads only the fact
    * files that can contain the dim's surviving keys. Partition COUNT and
    * keys never change — pruning empties a bucket's file list rather than
    * dropping its partition — so the reported KeyGroupedPartitioning stays
    * valid under SPJ. Runtime filters are I/O elision only (the join above
    * re-applies the real predicate), so over-pruning is impossible and the
    * filters are deliberately NOT handed to the parquet reader (the
    * reader factory may already be built when they arrive). */
  @volatile private var runtimeFilters: Seq[Filter] = Nil

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns of the PRUNED read schema: Spark resolves these against
    // the scan's output, so a projected-away column fails analysis
    scanSchema.fieldNames.map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters.toSeq
  }

  override def readSchema(): StructType = scanSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft keyed scan ${table.name} v${snap.version} (${snap.numBuckets} buckets)"

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(GraftSpj.bucketTransform(snap)), snap.numBuckets)

  override def planInputPartitions(): Array[InputPartition] = {
    // static and runtime filters prune alike; any filter disables the
    // pushed LIMIT's file prefix
    val byBucket = table.planScan(snap, scanFilters ++ runtimeFilters, pushedLimit).groupBy(_.bucket)
    // every bucket gets a partition (possibly empty): both sides of a
    // storage-partitioned join then carry identical key sets 0..NB-1
    (0 until snap.numBuckets).map { b =>
      GraftBucketPartition(b, byBucket.getOrElse(b, Nil)
        .map(f => (s"${table.root}/${f.path}", f.bytes)))
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftBucketReaderFactory(
      Bridge.parquetReader(table.spark, snap.schema, scanSchema, scanFilters))

  /** Same manifest-level statistics as the V1 scan (broadcast planning). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    GraftStats.of(snap)
}
