package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BindReferences, BoundReference, Descending, Expression, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.UnsafeExternalRowSorter
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

import graft.cdc.lake.{DataFile, Snapshot}

/** How one file is read: its schema version and whether it is folded, in
  * which case it reads the system columns `lsn, op, _lsn`, those it lacks
  * (a delta stores `lsn, op`, a row-LSN base file `_lsn`) as null. */
private[graft] final case class FileShape(schemaVersion: Int, folds: Boolean)

/** A shape's parquet reader and the bound projection that conforms its
  * rows; None when the reader's rows already are the output's. */
private[graft] final case class ShapeReader(read: PartitionedFile => Iterator[InternalRow],
    conform: Option[Seq[Expression]])

/** The one per-key resolution, "newest LSN per key wins", of the SQL scan,
  * `LakeTable.read` over deltas, the merge, the MoR delta append and the
  * maintenance rewrites. Built on the driver for a snapshot's files; a task
  * folds the stored files of its buckets, plus any change rows it is
  * handed, in place. Rows are laid out as the fold row: lsn, op, the output
  * `columns`, then the key columns they lack. A stored base row enters at
  * its stored `_lsn` (-1 for an appended row) with a null op; a delta or
  * change row at its own (lsn, op). A base row survives unless a change
  * with a higher LSN names its key; a key's newest change is emitted unless
  * it is a tombstone or a base row of its key survived it. Equal LSNs carry
  * identical payloads (the LSN-uniqueness contract), so a tie may go either
  * way; two base rows of one key (an `append` of a present key) both
  * survive. The newest changes are hashed, their bytes acquired from the
  * task's execution memory, and the base rows streamed past them; when the
  * task cannot grant the bytes, Spark's spilling sort folds the rest. */
final class BucketFold private (root: String, readers: Map[FileShape, ShapeReader],
    foldRow: StructType, keys: Seq[String], width: Int, output: BucketFold.Output) extends Serializable {
  private val Delete = UTF8String.fromString("D")
  private def ref(i: Int) = BoundReference(i, foldRow(i).dataType, nullable = true)
  private def keyRefs = keys.map(k => ref(foldRow.fieldIndex(k)))

  /** The output rows' columns. */
  def schema: StructType = StructType(output.lead.map { case (i, n) => foldRow(i).copy(name = n) } ++
    foldRow.fields.slice(2, 2 + width)).toNullable

  /** A file's rows through its shape's reader (the vectorized reader's
    * type-erased ColumnarBatch elements unwrapped), one conform projection
    * per shape and call. */
  private def reader(folds: Boolean): DataFile => Iterator[InternalRow] = {
    val conforms = scala.collection.mutable.HashMap.empty[FileShape, Option[UnsafeProjection]]
    f => {
      val shape = FileShape(f.schemaVersion, folds)
      val r = readers(shape)
      val rows = r.read(Bridge.partitionedFile(s"$root/${f.path}", f.bytes)).flatMap { elem =>
        (elem: Any) match {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }
      }
      conforms.getOrElseUpdate(shape, r.conform.map(UnsafeProjection.create)).fold(rows)(rows.map(_))
    }
  }

  /** The rows of `files`, a bucket that does not fold, as stored. */
  def read(files: Seq[DataFile]): Iterator[InternalRow] = files.iterator.flatMap(reader(folds = false))

  /** Each key's winners among the rows of `files` and the `changes` (fold
    * rows), as the output lays them out. */
  def apply(files: Seq[DataFile], changes: Iterator[InternalRow] = Iterator.empty): Iterator[InternalRow] = {
    // a folding shape's rows come out of its conform projection
    val read = reader(folds = true)
    val rows = (fs: Seq[DataFile]) => fs.iterator.flatMap(read).map(_.asInstanceOf[UnsafeRow])
    val keyOf = UnsafeProjection.create(keyRefs)
    val toUnsafe = UnsafeProjection.create(foldRow)
    val (deltas, bases) = files.partition(_.kind == "delta")
    val newer = rows(deltas) ++ changes.map { case u: UnsafeRow => u; case r => toUnsafe(r) }
    val memory = new MemoryConsumer(Bridge.taskMemoryManager(), MemoryMode.ON_HEAP) {
      override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
    }
    TaskContext.get().addTaskCompletionListener[Unit](_ => memory.freeMemory(memory.getUsed))
    // each key's newest change, held in task execution memory until the task ends
    val newest = new java.util.HashMap[UnsafeRow, UnsafeRow]()
    var need = 0L
    while (need <= memory.getUsed && newer.hasNext) {
      val r = newer.next()
      val k = keyOf(r)
      val prev = newest.get(k)
      if (prev == null || prev.getLong(0) < r.getLong(0)) {
        // a new entry's row objects, array headers, node and slot: about 160 bytes
        need += r.getSizeInBytes + (if (prev == null) k.getSizeInBytes + 160 else -prev.getSizeInBytes)
        newest.put(k.copy(), r.copy())
      }
      if (need > memory.getUsed) memory.acquireMemory(need - memory.getUsed + (1L << 20))
    }
    val folded =
      if (need <= memory.getUsed)
        // a base row at or above its key's change beats it: the change's op
        // is cleared, and its LSN still judges the key's other base rows
        rows(bases).filter { r =>
          val d = newest.get(keyOf(r))
          d == null || d.getLong(0) <= r.getLong(0) && { d.setNullAt(1); true }
        } ++ newest.values.iterator.asScala.filter(d => !d.isNullAt(1) && emits(d))
      else {
        // not granted: the sort takes the changes hashed so far, the rest, and the base rows
        val sorted = sortFold(newest.values.iterator.asScala ++ newer ++ rows(bases), keyOf)
        newest.clear()
        memory.freeMemory(memory.getUsed)
        sorted
      }
    folded.map(UnsafeProjection.create((output.lead.map(_._1) ++ (2 until 2 + width)).map(ref)))
  }

  /** Whether a winning change (op set) is emitted: a tombstone only when
    * the output keeps them. */
  private def emits(d: InternalRow): Boolean = output.tombstones || d.getUTF8String(1) != Delete

  /** The fold over rows sorted by key, LSN descending and base rows (op
    * null) first: of one key, the base rows ahead of its first change
    * survive, and so does that change if no base row came first and it is
    * emitted. */
  private def sortFold(rows: Iterator[UnsafeRow], keyOf: UnsafeProjection): Iterator[InternalRow] = {
    val order = keyRefs.map(SortOrder(_, Ascending)) ++ Seq(SortOrder(BoundReference(0, LongType, nullable = false),
      Descending), SortOrder(BoundReference(1, StringType, nullable = true), Ascending))
    val prefix = new UnsafeExternalRowSorter.PrefixComputer.Prefix // one for all rows: the ordering decides
    val sorted = UnsafeExternalRowSorter.create(foldRow, new InterpretedOrdering(order), PrefixComparators.LONG,
      (_: InternalRow) => prefix, Bridge.taskMemoryManager().pageSizeBytes(), false).sort(rows)
    var key: UnsafeRow = null
    var base, change = false
    sorted.filter { r =>
      val k = keyOf(r)
      if (k != key) { key = k.copy(); base = false; change = false }
      val keep = !change && (r.isNullAt(1) || !base && emits(r))
      if (r.isNullAt(1)) base = true else change = true
      keep
    }
  }
}

object BucketFold {
  /** What a fold emits per winner ahead of the columns: fold-row ordinals
    * and their output names, and whether winning tombstones are kept. */
  sealed abstract class Output(private[cdc] val lead: Seq[(Int, String)], private[cdc] val tombstones: Boolean)
  /** The columns only: a read. */
  case object Rows extends Output(Nil, false)
  /** The winner's LSN as `_lsn`, then the columns: a base-file write. */
  case object RowsWithLsn extends Output(Seq(0 -> "_lsn"), false)
  /** (lsn, op), then the columns, tombstones kept: a delta-file write. */
  case object Changes extends Output(Seq(0 -> "lsn", 1 -> "op"), true)

  /** A fold of `snap`'s files of `shapes` into `columns`. Below the fold only
    * key-column predicates may act, on row groups or rows: a newer delta
    * row that fails a non-key predicate must still shadow an older base row
    * that passes it, and a tombstone must never be skipped. So a folding
    * shape's reader gets the key-column `filters` only, and a plain one on
    * an older schema only the filters on columns whose type it shares. */
  private[graft] def apply(spark: SparkSession, root: String, snap: Snapshot, shapes: Seq[FileShape],
      columns: StructType, filters: Seq[Filter] = Nil, output: Output = Rows): BucketFold = {
    val foldCols = StructType(columns.fields ++
      snap.keyColumns.filterNot(columns.fieldNames.contains).map(snap.schema(_)))
    new BucketFold(root, shapes.distinct.map(s => s -> shapeReader(spark, snap, columns, foldCols, filters, s)).toMap,
      StructType(StructField("lsn", LongType) +: StructField("op", StringType) +: foldCols.fields),
      snap.keyColumns, columns.length, output)
  }

  /** One reader per file shape. A file reads the target columns it has —
    * at the target's (possibly nested-pruned) type where the column's type
    * never changed — and is conformed to the target by the rule of
    * [[SchemaRegistry.conformedColumns]]; a folding shape's rows lead with
    * their (lsn, op), a base row's LSN its stored `_lsn` or -1. */
  private def shapeReader(spark: SparkSession, snap: Snapshot, columns: StructType, foldCols: StructType,
      filters: Seq[Filter], s: FileShape): ShapeReader = {
    val target = if (s.folds) foldCols else columns
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
    val fn = Bridge.parquetReader(spark, StructType(meta ++ fileSchema.fields), required,
      filters.filter(_.references.forall(pushable)))
    if (!s.folds && s.schemaVersion == snap.schemaVersion) ShapeReader(fn, None)
    else ShapeReader(fn, Some(bind(spark, required, lsnOp ++ SchemaRegistry.conformedColumns(target, read))))
  }

  /** `cols` over rows shaped `input`, resolved by the analyzer (names, cast
    * time zones) and bound to ordinals. */
  private def bind(spark: SparkSession, input: StructType, cols: Seq[Column]): Seq[Expression] = {
    val rel = LocalRelation(input)
    Bridge.ofRows(spark, rel).select(cols: _*).queryExecution.analyzed.expressions
      .map(e => BindReferences.bindReference(e, rel.output))
  }
}
