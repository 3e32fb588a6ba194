package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versioned Avro-style schema registry, encoded as a broadcastable
  * `Map[Int, StructType]` (north rule: "additive schema-evolution driven by a
  * versioned Avro-style schema registry encoded as a broadcast Map").
  *
  * Only additive evolution is legal between consecutive versions:
  *   - add a nullable column (reference analog: ColumnAdd,
  *     /root/reference/src/delta_engine/actions.py:18-147)
  *   - widen a column's type along a fixed lattice (byte<short<int<long,
  *     float<double, int/long<double is NOT allowed to avoid precision loss)
  *
  * The registry itself is tiny (a handful of versions) — it is shipped to
  * executors by closure capture / broadcast, never joined as data.
  */
final case class SchemaRegistry(versions: Map[Int, StructType]) extends Serializable {
  require(versions.nonEmpty, "registry needs at least one version")
  val latestVersion: Int = versions.keys.max
  def latest: StructType = versions(latestVersion)
  def apply(v: Int): StructType = versions.getOrElse(v,
    throw new IllegalArgumentException(s"unknown schema version $v (have ${versions.keys.toSeq.sorted})"))

  /** Register the next version; validates the change is additive. */
  def evolve(next: StructType): SchemaRegistry = {
    SchemaRegistry.validateAdditive(latest, next)
    SchemaRegistry(versions + ((latestVersion + 1) -> next))
  }

  /** Conform a DataFrame shaped like version `from` to version `to`:
    * select columns in `to` order, cast widened types, null-fill added columns.
    * Pure projection — stays inside whole-stage codegen, no shuffle. */
  def conform(df: DataFrame, to: Int): DataFrame = {
    val target = apply(to)
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = target.fields.map { f =>
      have.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }
}

object SchemaRegistry {
  def single(schema: StructType): SchemaRegistry = SchemaRegistry(Map(1 -> schema))

  /** The columns of `target` projected from rows shaped like `source`: cast
    * the columns `source` carries, null-fill the ones added since (the
    * projection mirror of [[SchemaRegistry.conform]]'s additive rules). The
    * lake readers and the SQL scan conform each file's payload with it, the
    * replay engine each batch's. */
  private[graft] def conformedColumns(target: StructType, source: StructType): Seq[Column] = {
    val have = source.fieldNames.toSet
    target.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
  }

  /** The widening lattice: from -> legal wider targets. */
  private val widening: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set(ShortType, IntegerType, LongType),
    ShortType -> Set(IntegerType, LongType),
    IntegerType -> Set(LongType),
    FloatType -> Set(DoubleType),
    DateType -> Set(TimestampType))

  def isWidening(from: DataType, to: DataType): Boolean =
    from == to || widening.get(from).exists(_.contains(to)) || ((from, to) match {
      case (f: DecimalType, t: DecimalType) =>
        t.precision >= f.precision && t.scale >= f.scale &&
          (t.precision - t.scale) >= (f.precision - f.scale)
      case _ => false
    })

  /** Throws unless `next` differs from `prev` only by additive changes. */
  def validateAdditive(prev: StructType, next: StructType): Unit = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    prev.fields.foreach { pf =>
      val nf = nextByName.getOrElse(pf.name,
        throw new IllegalArgumentException(s"schema evolution dropped column '${pf.name}' (not additive)"))
      if (!isWidening(pf.dataType, nf.dataType))
        throw new IllegalArgumentException(
          s"column '${pf.name}': ${pf.dataType.simpleString} -> ${nf.dataType.simpleString} is not a widening")
      if (pf.nullable && !nf.nullable)
        throw new IllegalArgumentException(s"column '${pf.name}': cannot tighten nullable -> not null")
    }
    val prevNames = prev.fields.map(_.name).toSet
    next.fields.filterNot(f => prevNames(f.name)).foreach { f =>
      if (!f.nullable)
        throw new IllegalArgumentException(s"new column '${f.name}' must be nullable (reference rule " +
          "NoAddNotNull, /root/reference/src/delta_engine/validation/rules.py:90-107)")
    }
  }
}
