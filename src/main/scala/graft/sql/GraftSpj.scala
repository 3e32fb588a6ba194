package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Murmur3Hash, Pmod}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

import graft.cdc.{BucketFold, FileShape}
import graft.cdc.lake

/** The one SQL table scan: the lake's hash-bucket layout REPORTED to
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
  * An unpruned scan emits a partition for EVERY bucket (empty ones read
  * nothing), so two tables' partition-key sets align without push-down
  * value padding; a key-pruned scan emits only its buckets, so a point
  * read runs one task. Keyless tables report no partitioning.
  *
  * Files are read with Spark's own parquet reader (vectorized, row-group
  * filter pushdown — built once per file shape on the driver via
  * [[graft.cdc.BucketFold]]), planned by [[lake.LakeTable.planScan]]. Every
  * snapshot takes this scan: a bucket holding MoR deltas is folded inside
  * its task by the engine's one max-LSN fold, and a file on an older schema
  * version is read with its own schema and conformed per row. The declared
  * partitioning is immutable per scan because the snapshot is pinned
  * (MVCC): a concurrent rebucket produces a NEW snapshot, never a
  * mid-scan layout change.
  */
object GraftSpj {

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

/** One bucket of one snapshot: the partition key is the bucket id. `files`
  * are the bucket's planned manifest entries without their bounds, resolved
  * driver-side so executors never see manifest logic. */
case class GraftBucketPartition(bucket: Int, files: Seq[lake.DataFile])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(Array[Any](bucket))
}

/** Executor side: a bucket with MoR deltas is folded by max LSN per key,
  * the rest read as stored, both through the snapshot's one
  * [[graft.cdc.BucketFold]]. */
class GraftBucketReaderFactory(fold: BucketFold) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketPartition]
    new PartitionReader[InternalRow] {
      private val rows = if (p.files.exists(_.kind == "delta")) fold(p.files) else fold.read(p.files)
      private var current: InternalRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** The scan's pruning as Spark SQL metrics: each scan reports its own plan
  * on its own plan node ([[GraftKeyedScan.reportDriverMetrics]]). */
sealed abstract class GraftScanMetric(metricName: String, desc: String) extends CustomSumMetric {
  override def name(): String = metricName
  override def description(): String = desc
}
class BucketsPlannedMetric extends GraftScanMetric("bucketsPlanned", "buckets planned")
class BucketsTotalMetric extends GraftScanMetric("bucketsTotal", "buckets total")
class FilesPlannedMetric extends GraftScanMetric("filesPlanned", "files planned")
class FilesTotalMetric extends GraftScanMetric("filesTotal", "files total")
class DeltaFilesFoldedMetric extends GraftScanMetric("deltaFilesFolded", "delta files folded")

/** The one SQL table scan: bucket-pruned + stats-skipped file planning,
  * KeyGroupedPartitioning reported, all filters returned post-scan (Spark
  * re-applies them above). Below the fold only key-column predicates may
  * act, on files, row groups or rows: a newer delta row that fails a
  * non-key predicate must still shadow an older base row that passes it,
  * and a tombstone must never be skipped. So a folding bucket's files get
  * the key-column filters only, and a file on an older schema only the
  * filters on columns whose type it shares. */
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
  @volatile private var planMetrics: Array[CustomTaskMetric] = Array.empty

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
    if (snap.keyColumns.isEmpty) new UnknownPartitioning(snap.numBuckets)
    else new KeyGroupedPartitioning(Array(GraftSpj.bucketTransform(snap)), snap.numBuckets)

  /** The plan under the static filters: (files, planned buckets). The
    * partitions are its buckets, the reader factory is built from its file
    * shapes. */
  private lazy val planned = table.planScan(snap, scanFilters, pushedLimit)

  override def planInputPartitions(): Array[InputPartition] = {
    // runtime filters prune within the static plan, so its file shapes
    // cover every re-plan (a pushed LIMIT never meets a runtime filter:
    // dynamic pruning does not see through a Limit)
    val (files, buckets) =
      if (runtimeFilters.isEmpty || pushedLimit.isDefined) planned
      else {
        val static = planned._1.map(_.path).toSet
        val (fs, bs) = table.planScan(snap, scanFilters ++ runtimeFilters, pushedLimit)
        (fs.filter(f => static(f.path)), bs)
      }
    planMetrics = Array(
      "bucketsPlanned" -> buckets.size.toLong, "bucketsTotal" -> snap.numBuckets.toLong,
      "filesPlanned" -> files.size.toLong, "filesTotal" -> snap.numFiles.toLong,
      "deltaFilesFolded" -> files.count(_.kind == "delta").toLong).map { case (n, v) =>
      new CustomTaskMetric { override def name(): String = n; override def value(): Long = v }
    }
    // a partition per statically planned bucket, possibly empty: an
    // unpruned scan covers 0..NB-1, so both sides of a storage-partitioned
    // join carry identical key sets; a key-pruned scan covers only its
    // buckets (Spark pads the other join side's extra keys with empty
    // partitions), and a runtime filter only empties partitions
    val byBucket = files.groupBy(_.bucket)
    planned._2.map { b =>
      GraftBucketPartition(b, byBucket.getOrElse(b, Nil).map(_.copy(stats = None)))
    }.toArray[InputPartition]
  }

  override def supportedCustomMetrics(): Array[CustomMetric] = Array(new BucketsPlannedMetric,
    new BucketsTotalMetric, new FilesPlannedMetric, new FilesTotalMetric, new DeltaFilesFoldedMetric)
  override def reportDriverMetrics(): Array[CustomTaskMetric] = planMetrics

  override def createReaderFactory(): PartitionReaderFactory = {
    val folding = planned._1.filter(_.kind == "delta").map(_.bucket).toSet
    new GraftBucketReaderFactory(BucketFold(table.spark, table.root, snap,
      planned._1.map(f => FileShape(f.schemaVersion, folding(f.bucket))), scanSchema, scanFilters))
  }

  /** Manifest-level statistics (broadcast planning). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    GraftStats.of(snap)
}
