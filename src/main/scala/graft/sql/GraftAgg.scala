package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.types._

import graft.cdc.lake

/** Manifest-answered aggregates: `SELECT count(*) / count(col) / min(col) /
  * max(col) FROM t` computed driver-side from the snapshot's per-file stats
  * ([[lake.DataFile.rows]] + [[graft.cdc.skipping.ColStats]]) — ZERO data
  * files opened, ZERO tasks launched. At the 10M-file envelope the
  * difference between "a full-table scan job" and "a manifest fold" is the
  * whole query. Surfaced through DSv2 `SupportsPushDownAggregates` with
  * complete pushdown only (never partial: either the manifest answers
  * exactly, or the scan path runs untouched), materialized as a
  * [[org.apache.spark.sql.connector.read.LocalScan]] that Spark plans as a
  * `LocalTableScan` of the one answer row.
  *
  * Exactness rules (refuse = return None, the row path answers instead):
  *  - snapshot must be ALL base files: MoR delta files hold change rows
  *    (updates + tombstones), so their raw rows/bounds are not table state.
  *  - no pushed filters and no GROUP BY (Spark additionally never offers
  *    aggregate pushdown past residual filters, which this scan always
  *    keeps — belt and braces).
  *  - `count(*)`: sum of manifest row counts. Exact on any base-only
  *    snapshot, old-schema files included.
  *  - `count(col)`: needs the column's null count KNOWN (>= 0) in every
  *    file. A pre-ADD-COLUMNS file lacks the column entirely (reads back
  *    all-null) and carries no stats for it -> refused.
  *  - `min/max(col)`: only the Long-domain families — integral, boolean,
  *    date, timestamp(+NTZ) — where the canonical footer bounds are exact.
  *    Strings are REFUSED (bounds are truncate-and-incremented at 64 chars,
  *    a valid pruning envelope but not the true extremum); float/double are
  *    REFUSED (a NaN-bearing file drops its bounds, and Spark orders NaN
  *    above every value, so surviving bounds could under-report the max).
  *    (Timestamps only answer when written as TIMESTAMP_MICROS/MILLIS —
  *    Spark's default INT96 encoding carries no usable footer statistics,
  *    so such columns have no stats and refuse, like any other stats gap.)
  *    All-null files (`min` absent, `nulls == rows`) contribute nothing;
  *    `min` absent with nulls UNKNOWN is refused. `_lsn`-stamped base files
  *    stat the system column like any other — it is simply never asked for
  *    through SQL (conform drops it from the read schema).
  *
  * Reference analog: none — the reference delegates scan planning to Delta;
  * this is the Iceberg/Delta "answer from metadata" lever, engine parity.
  */
object GraftAgg {

  /** `count(*)`-only aggregations answered from the manifest REFS alone —
    * zero manifest files opened (the refs carry per-bucket row sums and
    * delta counts): on a 10M-file table the canonical
    * `SELECT count(*)` becomes a pure snapshot-JSON fold. Refs written
    * before the row sums existed report 0 with files present (unknown) and
    * refuse here — the caller falls back to [[answer]] over resolved files. */
  def answerFromRefs(snap: lake.Snapshot, agg: Aggregation)
      : Option[(StructType, InternalRow)] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val exprs = agg.aggregateExpressions.toSeq
    if (exprs.isEmpty || !exprs.forall(_.isInstanceOf[CountStar])) return None
    if (snap.anyDeltas) return None
    snap.knownRows.map { rows => // pre-sum refs -> None -> resolved-files path
      val total = java.lang.Long.valueOf(rows)
      (StructType(exprs.indices.map(i => StructField(s"agg_$i", LongType, nullable = true))),
        new GenericInternalRow(Array.fill[Any](exprs.size)(total)))
    }
  }

  /** Try to answer `agg` from the manifest alone. Some = (schema of the one
    * answer row, the row); None = not answerable, take the scan path. */
  def answer(snap: lake.Snapshot, files: Seq[lake.DataFile], agg: Aggregation)
      : Option[(StructType, InternalRow)] = {
    if (agg.groupByExpressions.nonEmpty) return None
    if (!files.forall(_.kind == "base")) return None
    val exprs = agg.aggregateExpressions.toSeq
    if (exprs.isEmpty) return None
    val answers = exprs.map(e => answerOne(snap, files, e))
    if (answers.exists(_.isEmpty)) return None
    val fields = answers.zipWithIndex.map { case (a, i) =>
      StructField(s"agg_$i", a.get._1, nullable = true) // widening is always safe
    }
    Some((StructType(fields), new GenericInternalRow(answers.map(_.get._2).toArray)))
  }

  /** One aggregate -> (result type, result value or null). */
  private def answerOne(snap: lake.Snapshot, files: Seq[lake.DataFile], f: AggregateFunc)
      : Option[(DataType, Any)] = f match {
    case _: CountStar =>
      Some((LongType, java.lang.Long.valueOf(files.map(_.rows).sum)))
    case c: Count if !c.isDistinct =>
      columnOf(c.column).flatMap { name =>
        val nulls = files.map(st => statsFor(snap, st, name).map(_.nulls).getOrElse(-1L))
        if (nulls.exists(_ < 0)) None
        else Some((LongType, java.lang.Long.valueOf(files.map(_.rows).sum - nulls.sum)))
      }
    case m: Min => bound(snap, files, m.column, isMin = true)
    case m: Max => bound(snap, files, m.column, isMin = false)
    case _ => None
  }

  private def columnOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
    case _ => None
  }

  /** Case-insensitive stats lookup (SQL identifiers may arrive lower-cased),
    * projected through [[lake.Snapshot.statsOf]] for old-schema files:
    * bounds written under a different encoding class (DATE days vs
    * TIMESTAMP micros after a widening) are dropped — the null count, which
    * widening preserves, survives so count(col) still answers. */
  private def statsFor(snap: lake.Snapshot, file: lake.DataFile, name: String)
      : Option[graft.cdc.skipping.ColStats] =
    snap.statsOf(file).flatMap(m => m.get(name).orElse(
      m.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }))

  private def bound(snap: lake.Snapshot, files: Seq[lake.DataFile],
      col: org.apache.spark.sql.connector.expressions.Expression, isMin: Boolean)
      : Option[(DataType, Any)] = {
    val name = columnOf(col).getOrElse(return None)
    val field = snap.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(return None)
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | TimestampType | TimestampNTZType => // exact Long domain
      case _ => return None
    }
    // every file must either expose the bound, or be provably all-null
    var acc: Option[Long] = None
    for (f <- files) {
      val cs = statsFor(snap, f, name).getOrElse(return None)
      val b = if (isMin) cs.min else cs.max
      b match {
        case Some(s) =>
          val v = try s.toLong catch { case _: NumberFormatException => return None }
          acc = Some(acc.fold(v)(a => if (isMin) math.min(a, v) else math.max(a, v)))
        case None =>
          if (!(cs.nulls >= 0 && cs.nulls == f.rows)) return None // not provably all-null
      }
    }
    val v: Any = acc match {
      case None => null // no non-null values anywhere -> SQL NULL
      case Some(l) => field.dataType match {
        case ByteType => java.lang.Byte.valueOf(l.toByte)
        case ShortType => java.lang.Short.valueOf(l.toShort)
        case IntegerType | DateType => java.lang.Integer.valueOf(l.toInt)
        case BooleanType => java.lang.Boolean.valueOf(l == 1L)
        case _ => java.lang.Long.valueOf(l) // Long / Timestamp(NTZ) micros
      }
    }
    Some((field.dataType, v))
  }
}
