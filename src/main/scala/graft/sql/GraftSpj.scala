package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BindReferences, BoundReference, Descending, Expression, GenericInternalRow, InterpretedOrdering, Murmur3Hash, Pmod, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.UnsafeExternalRowSorter
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

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
  * [[Bridge.parquetReader]]), planned by [[lake.LakeTable.planScan]]. Every
  * snapshot takes this scan: a bucket holding MoR deltas is folded inside
  * its task ([[GraftBucketReaderFactory]]), and a file on an older schema
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
  /** Whether the bucket holds MoR deltas, which its reader folds. */
  def folds: Boolean = files.exists(_.kind == "delta")
}

/** How one file is read: its schema version and whether its bucket folds,
  * in which case it reads the system columns `lsn, op, _lsn`, those it
  * lacks (a delta stores `lsn, op`, a row-LSN base file `_lsn`) as null. */
private[sql] case class FileShape(schemaVersion: Int, folds: Boolean)

/** A shape's parquet reader and the bound projection that conforms its
  * rows; None when the reader's rows already are the scan's. */
private[sql] case class ShapeReader(read: PartitionedFile => Iterator[InternalRow],
    conform: Option[Seq[Expression]])

/** Executor side: read each file with its shape's reader, unwrapping the
  * vectorized reader's type-erased ColumnarBatch elements.
  *
  * A bucket with MoR deltas is folded by max LSN per key, the read-side form
  * of the merge's MaxByRow, over rows laid out as `foldRow`: lsn, op, the
  * scan's `width` columns, then the key columns it lacks. A base row survives
  * unless a delta with a higher LSN names its key; a key's newest delta is
  * emitted unless it is a tombstone or a base row of its key survived it.
  * Equal LSNs carry identical payloads (the LSN-uniqueness contract), so a
  * tie may go either way; two base rows of one key (an `append` of a present
  * key) both survive. The newest deltas are hashed, their bytes acquired
  * from the task's execution memory, and the base rows streamed past them;
  * when the task cannot grant the bytes, Spark's spilling sort folds the
  * bucket instead. */
class GraftBucketReaderFactory(root: String, readers: Map[FileShape, ShapeReader],
    foldRow: StructType, keys: Seq[String], width: Int) extends PartitionReaderFactory {
  private val Delete = UTF8String.fromString("D")
  private def ref(i: Int) = BoundReference(i, foldRow(i).dataType, nullable = true)
  private val keyRefs = keys.map(k => ref(foldRow.fieldIndex(k)))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketPartition]
    // one conform projection per shape and task, not per file
    val conforms = scala.collection.mutable.HashMap.empty[FileShape, Option[UnsafeProjection]]
    def read(f: lake.DataFile): Iterator[InternalRow] = {
      val shape = FileShape(f.schemaVersion, p.folds)
      val reader = readers(shape)
      val rows = reader.read(Bridge.partitionedFile(s"$root/${f.path}", f.bytes)).flatMap { elem =>
        (elem: Any) match {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }
      }
      conforms.getOrElseUpdate(shape, reader.conform.map(UnsafeProjection.create)).fold(rows)(rows.map(_))
    }
    new PartitionReader[InternalRow] {
      private val rows = if (p.folds) fold(p.files, read) else p.files.iterator.flatMap(read)
      private var current: InternalRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }

  private def fold(files: Seq[lake.DataFile], read: lake.DataFile => Iterator[InternalRow]): Iterator[InternalRow] = {
    // a folding shape's rows come out of its conform projection
    val rows = (fs: Seq[lake.DataFile]) => fs.iterator.flatMap(read).map(_.asInstanceOf[UnsafeRow])
    val keyOf = UnsafeProjection.create(keyRefs)
    val (deltas, bases) = files.partition(_.kind == "delta")
    val folded = newestDeltas(rows(deltas), keyOf).fold(sortFold(rows(files), keyOf)) { newest =>
      // a base row at or above its key's delta beats it: the delta's op is
      // cleared, and its LSN still judges the key's other base rows
      rows(bases).filter { r =>
        val d = newest.get(keyOf(r))
        d == null || d.getLong(0) <= r.getLong(0) && { d.setNullAt(1); true }
      } ++ newest.values.iterator.asScala.filter(d => !d.isNullAt(1) && d.getUTF8String(1) != Delete)
    }
    folded.map(UnsafeProjection.create((2 until 2 + width).map(ref)))
  }

  /** Each key's newest delta, held in task execution memory until the task ends; None when not granted. */
  private def newestDeltas(deltas: Iterator[UnsafeRow], keyOf: UnsafeProjection): Option[java.util.HashMap[UnsafeRow, UnsafeRow]] = {
    val memory = new MemoryConsumer(Bridge.taskMemoryManager(), MemoryMode.ON_HEAP) {
      override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
    }
    TaskContext.get().addTaskCompletionListener[Unit](_ => memory.freeMemory(memory.getUsed))
    val newest = new java.util.HashMap[UnsafeRow, UnsafeRow]()
    var need = 0L
    while (need <= memory.getUsed && deltas.hasNext) {
      val r = deltas.next()
      val k = keyOf(r)
      val prev = newest.get(k)
      if (prev == null || prev.getLong(0) < r.getLong(0)) {
        // a new entry's row objects, array headers, node and slot: about 160 bytes
        need += r.getSizeInBytes + (if (prev == null) k.getSizeInBytes + 160 else -prev.getSizeInBytes)
        newest.put(k.copy(), r.copy())
      }
      if (need > memory.getUsed) memory.acquireMemory(need - memory.getUsed + (1L << 20))
    }
    if (need <= memory.getUsed) Some(newest) else { memory.freeMemory(memory.getUsed); None }
  }

  /** The fold over rows sorted by key, LSN descending and base rows (op
    * null) first: of one key, the base rows ahead of its first delta survive,
    * and so does that delta if no base row came first and it is no tombstone. */
  private def sortFold(rows: Iterator[UnsafeRow], keyOf: UnsafeProjection): Iterator[InternalRow] = {
    val order = keyRefs.map(SortOrder(_, Ascending)) ++ Seq(SortOrder(BoundReference(0, LongType, nullable = false),
      Descending), SortOrder(BoundReference(1, StringType, nullable = true), Ascending))
    val prefix = new UnsafeExternalRowSorter.PrefixComputer.Prefix // one for all rows: the ordering decides
    val sorted = UnsafeExternalRowSorter.create(foldRow, new InterpretedOrdering(order), PrefixComparators.LONG,
      (_: InternalRow) => prefix, Bridge.taskMemoryManager().pageSizeBytes(), false).sort(rows)
    var key: UnsafeRow = null
    var base, delta = false
    sorted.filter { r =>
      val k = keyOf(r)
      if (k != key) { key = k.copy(); base = false; delta = false }
      val keep = !delta && (r.isNullAt(1) || !base && r.getUTF8String(1) != Delete)
      if (r.isNullAt(1)) base = true else delta = true
      keep
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

  /** A folding bucket's columns: the scan's, then the keys it lacks. */
  private val foldSchema = StructType(scanSchema.fields ++
    snap.keyColumns.filterNot(scanSchema.fieldNames.contains).map(snap.schema(_)))

  override def createReaderFactory(): PartitionReaderFactory = {
    val folding = planned._1.filter(_.kind == "delta").map(_.bucket).toSet
    val shapes = planned._1.map(f => FileShape(f.schemaVersion, folding(f.bucket))).distinct
    new GraftBucketReaderFactory(table.root, shapes.map(s => s -> shapeReader(s)).toMap,
      StructType(StructField("lsn", LongType) +: StructField("op", StringType) +: foldSchema.fields),
      snap.keyColumns, scanSchema.length)
  }

  /** One reader per file shape. A file reads the target columns it has —
    * at the scan's (possibly nested-pruned) type where the column's type
    * never changed — and is conformed to the target by the rule of
    * [[graft.cdc.SchemaRegistry.conformedColumns]]; a folding bucket's rows
    * lead with their (lsn, op), a base row's LSN its stored `_lsn` or -1. */
  private def shapeReader(s: FileShape): ShapeReader = {
    val target = if (s.folds) foldSchema else scanSchema
    val fileSchema = snap.schemaOf(s.schemaVersion)
    val same = fileSchema.fields.filter(f =>
      snap.schema.fieldNames.contains(f.name) && snap.schema(f.name).dataType == f.dataType).map(_.name).toSet
    val read = StructType(target.fields.flatMap(t =>
      fileSchema.find(_.name == t.name).map(f => if (same(f.name)) t else f)))
    val meta = if (s.folds) Seq(StructField("lsn", LongType), StructField("op", StringType),
      StructField("_lsn", LongType)) else Nil
    val required = StructType(meta ++ read.fields)
    val lsnOp = if (s.folds) Seq(coalesce(col("lsn"), col("_lsn"), lit(-1L)), col("op")) else Nil
    val pushable = if (s.folds) snap.keyColumns.toSet else same
    val fn = Bridge.parquetReader(table.spark, StructType(meta ++ fileSchema.fields), required,
      scanFilters.filter(_.references.forall(pushable)))
    if (!s.folds && s.schemaVersion == snap.schemaVersion) ShapeReader(fn, None)
    else ShapeReader(fn, Some(bind(required, lsnOp ++ graft.cdc.SchemaRegistry.conformedColumns(target, read))))
  }

  /** `cols` over rows shaped `input`, resolved by the analyzer (names, cast
    * time zones) and bound to ordinals. */
  private def bind(input: StructType, cols: Seq[Column]): Seq[Expression] = {
    val rel = LocalRelation(input)
    Bridge.ofRows(table.spark, rel).select(cols: _*).queryExecution.analyzed.expressions
      .map(e => BindReferences.bindReference(e, rel.output))
  }

  /** Manifest-level statistics (broadcast planning). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    GraftStats.of(snap)
}
