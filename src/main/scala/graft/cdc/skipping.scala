package graft.cdc

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** File-level data skipping: per-file column bounds (min/max/nullCount) are
  * harvested from the parquet footers the commit path already opens for row
  * counts — zero extra scan — stored in the manifest ([[lake.DataFile.stats]]),
  * and evaluated against pushed-down predicates at planning time so a
  * selective scan opens only the files that can possibly match. This is the
  * Iceberg/Delta per-file-bounds lever, the single biggest difference between
  * "reads the matching row groups" and "reads nothing at all" at the 100 TB
  * envelope (parquet row-group stats only help AFTER a file is opened and its
  * footer fetched; at millions of files that alone is a metadata storm).
  *
  * Encoding: bounds are canonical strings by column family —
  * integral/boolean(0|1)/date(epoch days)/timestamp(epoch micros) as decimal
  * longs, fractional as decimal doubles, strings raw. Additive widenings
  * (int→long, float→double) parse unchanged under the wider type, so stats
  * written under an old schema version stay valid after ALTER COLUMN TYPE.
  * Unsupported types (decimal, binary, nested) carry no stats and never
  * prune. Reference analog: none — the reference delegates file skipping to
  * Delta (/root/reference/src/delta_engine); this is engine parity.
  *
  * Safety: ALL evaluation is may-match — missing stats, unknown types, NaN
  * bounds, unparseable values all answer true (read the file). Row-level
  * filtering above the scan re-applies every predicate, so skipping can only
  * ever drop files whose rows are provably filtered out anyway.
  */
object skipping {

  /** Per-column bounds of one data file. `min`/`max` are canonical strings
    * over NON-NULL values (absent when the file has none or the writer
    * couldn't derive them); `nulls` is the null count (-1 = unknown). */
  final case class ColStats(min: Option[String], max: Option[String], nulls: Long)

  /** Hard cap on stat'd columns per file (schema order): bounds exist to
    * prune, not to balloon the manifest on a 1000-column table. */
  val MaxStatsColumns = 48

  // ---- harvest (write side) ------------------------------------------------

  /** Extract column bounds from a parquet footer's block metadata, merging
    * across row groups. Columns with any block lacking usable statistics are
    * dropped entirely (conservative). */
  def fromFooter(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Option[Map[String, ColStats]] = {
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala.toSeq
    if (blocks.isEmpty) return None
    // (min, max, nulls) accumulators keyed by dotted column path
    val acc = scala.collection.mutable.LinkedHashMap[String, (String, String, Long)]()
    val dead = scala.collection.mutable.HashSet[String]()
    for ((b, bi) <- blocks.zipWithIndex; c <- b.getColumns.asScala) {
      val name = c.getPath.toDotString
      // the cap limits NEW columns only, and new columns are admitted ONLY
      // while walking the FIRST row group: a column already accumulated
      // must keep merging every later group's bounds (partial bounds prune
      // files that still hold matching rows), and a column the cap skipped
      // in group 1 must stay out even if a death later frees a slot —
      // admitting it mid-file would record last-groups-only bounds, the
      // same unsoundness from the other side
      if (!dead(name) && c.getPath.size() == 1 &&
          (acc.contains(name) || (bi == 0 && acc.size < MaxStatsColumns + dead.size))) {
        canonical(c) match {
          case None => dead += name; acc.remove(name); ()
          case Some((mn, mx, nl)) =>
            acc.get(name) match {
              case None => acc(name) = (mn, mx, nl); ()
              case Some((omn, omx, onl)) =>
                val tpe = c.getPrimitiveType
                acc(name) = (minOf(tpe, omn, mn), maxOf(tpe, omx, mx),
                  if (nl < 0 || onl < 0) -1L else onl + nl)
                ()
            }
        }
      }
    }
    val m = acc.take(MaxStatsColumns).map { case (k, (mn, mx, nl)) =>
      k -> ColStats(Option(mn), Option(mx), nl)
    }.toMap
    if (m.isEmpty) None else Some(m)
  }

  /** One column chunk's stats in canonical-string form, or None when the
    * type/stats are unusable. min/max may be null when the chunk is all-null
    * (nulls still counted). */
  private def canonical(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[(String, String, Long)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val st = c.getStatistics
    if (st == null) return None
    val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
    if (!st.hasNonNullValue) {
      // all-null chunk (or empty): no bounds, but a KNOWN null count is
      // still prunable via IsNotNull — represent as null bounds
      return if (st.isNumNullsSet) Some((null, null, nulls)) else None
    }
    val pt = c.getPrimitiveType
    val ann = pt.getLogicalTypeAnnotation
    def longs(f: Any => Long): Option[(String, String, Long)] =
      Some((f(st.genericGetMin).toString, f(st.genericGetMax).toString, nulls))
    pt.getPrimitiveTypeName match {
      case INT32 => ann match {
        case null => longs(_.asInstanceOf[Integer].longValue)
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          longs(_.asInstanceOf[Integer].longValue)
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          longs(_.asInstanceOf[Integer].longValue) // epoch days
        case _ => None
      }
      case INT64 => ann match {
        case null => longs(_.asInstanceOf[java.lang.Long].longValue)
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          longs(_.asInstanceOf[java.lang.Long].longValue)
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          import LogicalTypeAnnotation.TimeUnit
          val toMicros: Long => Long = ts.getUnit match {
            case TimeUnit.MICROS => identity
            case TimeUnit.MILLIS => _ * 1000L
            case TimeUnit.NANOS => _ / 1000L
          }
          longs(v => toMicros(v.asInstanceOf[java.lang.Long].longValue))
        case _ => None
      }
      case BOOLEAN =>
        longs(v => if (v.asInstanceOf[java.lang.Boolean]) 1L else 0L)
      case FLOAT =>
        val (mn, mx) = (st.genericGetMin.asInstanceOf[java.lang.Float].doubleValue,
          st.genericGetMax.asInstanceOf[java.lang.Float].doubleValue)
        if (mn.isNaN || mx.isNaN) None else Some((mn.toString, mx.toString, nulls))
      case DOUBLE =>
        val (mn, mx) = (st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue,
          st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
        if (mn.isNaN || mx.isNaN) None else Some((mn.toString, mx.toString, nulls))
      case BINARY if ann != null &&
          ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
        val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
        // Parquet orders binary stats by UNSIGNED UTF-8 bytes; Java compares
        // UTF-16 code units. The two agree whenever one operand is pure
        // ASCII, so bounds are kept only when ASCII — and truncated to 64
        // chars so a long-text column (file contents!) can't balloon the
        // manifest: the lower bound truncates to a valid lower bound as-is,
        // the upper bound needs its last kept char bumped (Iceberg's
        // truncate-and-increment).
        val lo = truncLower(mn)
        val hi = truncUpper(mx)
        if (lo == null || hi == null) None else Some((lo, hi, nulls))
      case _ => None
    }
  }

  /** Truncated string bounds, ASCII-only (null = unusable). */
  private val StringBoundLen = 64
  private def ascii(s: String): Boolean = s.forall(_ < 128)
  private def truncLower(s: String): String = {
    val t = s.take(StringBoundLen)
    if (ascii(t)) t else null
  }
  private def truncUpper(s: String): String = {
    if (s.length <= StringBoundLen) { if (ascii(s)) s else null }
    else {
      val t = s.take(StringBoundLen)
      if (!ascii(t)) null
      else {
        // bump the rightmost non-0x7F char, dropping the tail after it, so
        // the result upper-bounds every string sharing the truncated prefix
        var i = t.length - 1
        while (i >= 0 && t(i) >= 127) i -= 1
        if (i < 0) null else t.substring(0, i) + (t(i) + 1).toChar
      }
    }
  }

  private def cmp(tpe: org.apache.parquet.schema.PrimitiveType, a: String, b: String): Int = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    tpe.getPrimitiveTypeName match {
      case FLOAT | DOUBLE => java.lang.Double.compare(a.toDouble, b.toDouble)
      case BINARY => a.compareTo(b)
      case _ => java.lang.Long.compare(a.toLong, b.toLong)
    }
  }
  private def minOf(t: org.apache.parquet.schema.PrimitiveType, a: String, b: String): String =
    if (a == null) b else if (b == null) a else if (cmp(t, a, b) <= 0) a else b
  private def maxOf(t: org.apache.parquet.schema.PrimitiveType, a: String, b: String): String =
    if (a == null) b else if (b == null) a else if (cmp(t, a, b) >= 0) a else b

  // ---- evaluation (read side) ----------------------------------------------

  /** Canonical-encoding class of a type: bounds written under one class are
    * comparable against predicate values of the same class only. Integral
    * widenings (int->long etc.) share a class; DATE (epoch days) and
    * TIMESTAMP (epoch micros) do NOT — the registry allows that widening,
    * so bounds written under the old DATE schema are day-valued and must
    * never be compared as micros. 0 = no stats for this type anyway. */
  private def encodingClass(dt: DataType): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType => 1
    case DateType => 2
    case TimestampType | TimestampNTZType => 3
    case FloatType | DoubleType => 4
    case StringType => 5
    case _ => 0
  }

  /** Project a file's stats to what remains VALID under the current schema
    * when the file was written under an older schema version: a column
    * whose type changed encoding class keeps its null count (type-widening
    * preserves nullness) but loses its bounds. Columns absent from the
    * file's schema (feed/system columns like `lsn`/`op`, stat'd from the
    * physical parquet) pass through — ALTER can only retype registry
    * columns. Identity when the schema versions match. */
  def compatibleStats(stats: Map[String, ColStats], fileSchema: StructType,
      curSchema: StructType): Map[String, ColStats] =
    if (fileSchema eq curSchema) stats
    else stats.map { case (name, cs) =>
      val ft = fileSchema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)
      val ct = curSchema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)
      val stable = (ft, ct) match {
        case (Some(a), Some(b)) => encodingClass(a) != 0 && encodingClass(a) == encodingClass(b)
        case _ => true // not a registry-retypeable column
      }
      name -> (if (stable) cs else ColStats(None, None, cs.nulls))
    }

  /** Comparable projection of a filter value / stored bound under one Spark
    * type. Long for integral/boolean/date/timestamp families, Double for
    * fractional, String raw. None = not comparable (never prune). */
  private sealed trait Dom { def cmp(a: String, b: String): Int; def of(v: Any): Option[String] }
  private object LongDom extends Dom {
    def cmp(a: String, b: String): Int = java.lang.Long.compare(a.toLong, b.toLong)
    def of(v: Any): Option[String] = v match {
      case n: java.lang.Number => Some(n.longValue.toString)
      case b: java.lang.Boolean => Some(if (b) "1" else "0")
      case t: java.sql.Timestamp =>
        // getTime already includes the millis of the fractional second; add
        // only the sub-millisecond remainder. (The previous floor-second
        // reconstruction truncated toward zero, flipping the sign of
        // pre-epoch fractional timestamps.)
        Some((t.getTime * 1000L + (t.getNanos.toLong / 1000L) % 1000L).toString)
      case i: java.time.Instant =>
        Some((java.lang.Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000L).toString)
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
      case d: java.time.LocalDate => Some(d.toEpochDay.toString)
      case _ => None
    }
  }
  private object DoubleDom extends Dom {
    def cmp(a: String, b: String): Int = java.lang.Double.compare(a.toDouble, b.toDouble)
    def of(v: Any): Option[String] = v match {
      case n: java.lang.Number =>
        // -0.0 normalizes to 0.0 (Spark treats them equal; Double.compare
        // does not) — NaN never prunes
        val d = n.doubleValue
        if (d.isNaN) None else Some((if (d == 0.0d) 0.0d else d).toString)
      case _ => None
    }
  }
  private object StringDom extends Dom {
    def cmp(a: String, b: String): Int = a.compareTo(b)
    def of(v: Any): Option[String] = v match { case s: String => Some(s); case _ => None }
  }

  private def domOf(dt: DataType): Option[Dom] = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType => Some(LongDom)
    case FloatType | DoubleType => Some(DoubleDom)
    case StringType => Some(StringDom)
    case _ => None
  }

  /** May any row of a file with `stats` match `filter`? Conservative: true on
    * any uncertainty. `rows` enables the only-nulls refinement for EqualTo
    * and IsNotNull. Column names resolve case-insensitively against the
    * CURRENT schema (SQL identifiers arrive lower-cased). */
  def mayMatch(stats: Map[String, ColStats], rows: Long, schema: StructType,
      filter: Filter): Boolean = {
    val byLower = schema.fields.map(f => f.name.toLowerCase -> f).toMap
    def field(a: String): Option[StructField] = byLower.get(a.toLowerCase)
    def colStats(a: String): Option[ColStats] =
      field(a).flatMap(f => stats.get(f.name)).orElse(stats.get(a))
    def allNull(cs: ColStats): Boolean = cs.nulls >= 0 && rows > 0 && cs.nulls == rows

    def cmpBound(a: String, v: Any)(keep: (Dom, ColStats, String) => Boolean): Boolean = {
      if (v == null) return true
      (field(a).flatMap(f => domOf(f.dataType)), colStats(a)) match {
        case (Some(dom), Some(cs)) =>
          if (allNull(cs)) false
          else (cs.min, cs.max) match {
            case (Some(_), Some(_)) =>
              dom.of(v) match {
                case Some(vv) => scala.util.Try(keep(dom, cs, vv)).getOrElse(true)
                case None => true
              }
            case _ => true
          }
        case _ => true
      }
    }

    filter match {
      case EqualTo(a, v) =>
        cmpBound(a, v)((d, cs, vv) => d.cmp(vv, cs.min.get) >= 0 && d.cmp(vv, cs.max.get) <= 0)
      case EqualNullSafe(a, v) =>
        if (v == null) colStats(a).forall(cs => cs.nulls != 0)
        else mayMatch(stats, rows, schema, EqualTo(a, v))
      case GreaterThan(a, v) => cmpBound(a, v)((d, cs, vv) => d.cmp(cs.max.get, vv) > 0)
      case GreaterThanOrEqual(a, v) => cmpBound(a, v)((d, cs, vv) => d.cmp(cs.max.get, vv) >= 0)
      case LessThan(a, v) => cmpBound(a, v)((d, cs, vv) => d.cmp(cs.min.get, vv) < 0)
      case LessThanOrEqual(a, v) => cmpBound(a, v)((d, cs, vv) => d.cmp(cs.min.get, vv) <= 0)
      case In(a, vs) =>
        vs == null || vs.isEmpty ||
          vs.exists(v => mayMatch(stats, rows, schema, EqualTo(a, v)))
      case IsNull(a) => colStats(a).forall(cs => cs.nulls != 0)
      case IsNotNull(a) => colStats(a).forall(cs => !allNull(cs))
      case StringStartsWith(a, p) if p != null =>
        // strings with prefix p satisfy s >= p and share p's prefix; the
        // truncated-min check is necessary-only (conservative)
        cmpBound(a, p)((d, cs, vv) =>
          d.cmp(cs.max.get, vv) >= 0 && cs.min.get.take(vv.length) <= vv)
      case And(l, r) =>
        mayMatch(stats, rows, schema, l) && mayMatch(stats, rows, schema, r)
      case Or(l, r) =>
        mayMatch(stats, rows, schema, l) || mayMatch(stats, rows, schema, r)
      case _ => true // Not(...), unknown filters: never prune
    }
  }

  // ---- bucket pruning on key equality ---------------------------------------

  /** Cap on the key-tuple cross product a bucket-pruning pass will hash. */
  val MaxKeyTuples = 256

  /** The bucket set a conjunction of pushed filters confines the merge keys
    * to, or None when the predicates don't pin every key column. Replicates
    * the layout hash (`pmod(hash(keys*), numBuckets)`, Murmur3 seed 42)
    * driver-side via Catalyst's own Murmur3Hash, so a SQL point lookup
    * `WHERE repo = 'r' AND path = 'p'` plans to exactly one bucket's files —
    * O(table/numBuckets) instead of O(table) at any scale. */
  def bucketsForKeys(filters: Seq[Filter], keyColumns: Seq[String], schema: StructType,
      numBuckets: Int): Option[Set[Int]] = {
    if (keyColumns.isEmpty || filters.isEmpty) return None
    val conjuncts = filters.flatMap(split)
    // candidate value sets per key column (case-insensitive), intersected
    // across conjuncts (both must hold)
    val cand = scala.collection.mutable.HashMap[String, Set[Any]]()
    def narrow(a: String, vs: Set[Any]): Unit = {
      val k = a.toLowerCase
      cand(k) = cand.get(k).map(_.intersect(vs)).getOrElse(vs)
      ()
    }
    conjuncts.foreach {
      case EqualTo(a, v) if v != null => narrow(a, Set(v))
      case EqualNullSafe(a, v) if v != null => narrow(a, Set(v))
      case In(a, vs) if vs != null && vs.nonEmpty && vs.forall(_ != null) =>
        narrow(a, vs.toSet)
      case _ => ()
    }
    val keyFields = keyColumns.map(k => schema.fields.find(_.name.equalsIgnoreCase(k)))
    if (keyFields.exists(_.isEmpty)) return None
    val perKey: Seq[Set[Any]] = keyColumns.map(k => cand.getOrElse(k.toLowerCase, Set.empty))
    if (perKey.exists(_.isEmpty)) return None
    if (perKey.map(_.size.toLong).product > MaxKeyTuples) return None
    // cross product of candidate tuples, each hashed exactly like bucketExpr
    val tuples = perKey.foldLeft(Seq(Seq.empty[Any]))((acc, vs) =>
      acc.flatMap(t => vs.toSeq.map(t :+ _)))
    scala.util.Try {
      tuples.map { t =>
        val lits = t.zip(keyFields.map(_.get)).map { case (v, f) =>
          org.apache.spark.sql.catalyst.expressions.Literal.create(v, f.dataType)
        }
        val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(lits, 42)
          .eval(null).asInstanceOf[Int]
        ((h % numBuckets) + numBuckets) % numBuckets
      }.toSet
    }.toOption
  }

  private def split(f: Filter): Seq[Filter] = f match {
    case And(l, r) => split(l) ++ split(r)
    case other => Seq(other)
  }

  /** Observability for tests/benchmarks: (bucketsRead, bucketsTotal,
    * filesRead, filesTotal) of the last stats-pruned scan planned by
    * [[lake.LakeTable.planScan]]; each SQL scan also reports them as its own
    * plan metrics, and this global stays for callers that read it after. */
  object ScanStats {
    val last = new java.util.concurrent.atomic.AtomicReference[Option[(Int, Int, Int, Int)]](None)
    /** (filesRead, filesTotal) of the last filter-pruned change-feed scan
      * planned by [[lake.LakeTable.changesSince]]. */
    val lastFeed = new java.util.concurrent.atomic.AtomicReference[Option[(Int, Int)]](None)
  }
}
