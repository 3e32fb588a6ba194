package graft.cdc

import org.apache.spark.sql.types._

/** Core data model of the CDC engine.
  *
  * Re-expresses the reference's declarative table model
  * (reference: src/models/column.py:55-69, src/models/table.py:16-93,
  * src/delta_engine/models.py:15-63) as an immutable Scala ADT, extended with
  * the change-event contract the north rule requires (binlog/WAL tail keyed on
  * (repo, path) with a global LSN order).
  */
object model {

  /** Change operation carried by a binlog/WAL event. */
  sealed abstract class Op(val code: String) extends Serializable
  object Op {
    case object Insert extends Op("I")
    case object Update extends Op("U")
    case object Delete extends Op("D")
    val all: Seq[Op] = Seq(Insert, Update, Delete)
  }

  /** One change event from the binlog tail (north-rule input contract).
    *
    * `lsn` is the global, strictly-increasing log sequence number; the engine's
    * replay semantics are: for each key (repo, path) the event with the largest
    * LSN wins, deletes drop the key. `schemaVersion` names the registry version
    * the payload was produced under (additive schema evolution).
    */
  final case class ChangeEvent(
      lsn: Long,
      op: String, // Op.code; kept as String so Dataset[ChangeEvent] has a flat schema
      schemaVersion: Int,
      repo: String,
      path: String,
      commit: String,
      lang: String,
      content: String,
      // v2+ additive columns (null for v1 events)
      size_bytes: Option[Long] = None,
      stars: Option[Long] = None)

  /** The target lake-table row shape (BASELINE.json input_hint). */
  final case class RepoRow(
      repo: String,
      path: String,
      commit: String,
      lang: String,
      content: String)

  object RepoRow {
    /** v1 schema of the north-rule table. */
    val schemaV1: StructType = StructType(Seq(
      StructField("repo", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("commit", StringType, nullable = true),
      StructField("lang", StringType, nullable = true),
      StructField("content", StringType, nullable = true)))
    val keyColumns: Seq[String] = Seq("repo", "path")
  }

  /** Foreign-key reference to another table's column — metadata-only lineage
    * edge in our engine (reference: src/models/column.py:13-41; no catalog to
    * enforce it, so it feeds the lineage/edges metadata table). */
  final case class ForeignKey(referenceTable: String, referenceColumn: String)

  /** One resolved FK lineage edge (reference ForeignKey.to_spec,
    * src/models/column.py:20-41). */
  final case class FkEdge(
      constraint_name: String,
      source_table: String,
      source_column: String,
      reference_table: String,
      reference_column: String)

  /** Deterministic, length-bounded identifier naming (reference:
    * src/delta_engine/constraints/naming.py:32-61, src/models/utils.py:4-20).
    * The disambiguation hash is sha256-truncated-to-8-hex rather than the
    * reference's BLAKE2b (no BLAKE2b in the JDK); same determinism contract:
    * same inputs -> same name, always <= maxIdentifierLen. */
  object naming {
    val maxIdentifierLen = 128

    def shortHash(parts: String*): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(parts.mkString("|").getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
    }

    def truncateWithHash(base: String, maxLen: Int = maxIdentifierLen): String = {
      if (base.length <= maxLen) return base
      val h = shortHash(base)
      if (maxLen <= h.length) return h.take(maxLen)
      val keep = maxLen - 1 - h.length
      if (keep <= 0) base.take(maxLen - h.length) + h
      else base.take(keep) + "_" + h
    }

    /** pk_<table>__<col1>_<col2>... (order-preserving, truncated+hashed). */
    def primaryKeyName(table: String, columns: Seq[String]): String =
      truncateWithHash(s"pk_${table}__${columns.mkString("_")}")

    /** fk_<table>_<column>_to_<refTable>_<refColumn>. */
    def foreignKeyName(table: String, column: String, refTable: String, refColumn: String): String =
      truncateWithHash(s"fk_${table}_${column}_to_${refTable}_$refColumn")
  }

  /** Column-level data-quality rule (reference: src/models/column.py:44-51). */
  final case class QualityRule(
      criticality: Criticality,
      allowedValues: Option[Seq[String]] = None,
      minValue: Option[Double] = None,
      maxValue: Option[Double] = None)

  sealed trait Criticality extends Serializable
  object Criticality {
    case object Warn extends Criticality
    case object Error extends Criticality
  }

  /** Declarative column (reference: src/models/column.py:55-69). */
  final case class ColumnDef(
      name: String,
      dataType: DataType,
      nullable: Boolean = true,
      comment: String = "",
      isPrimaryKey: Boolean = false,
      qualityRule: Option[QualityRule] = None,
      foreignKey: Option[ForeignKey] = None) {
    def structField: StructField = {
      val f = StructField(name, dataType, nullable)
      if (comment.nonEmpty) f.withComment(comment) else f
    }
  }

  /** Declarative table (reference: src/models/table.py:16-93). */
  final case class TableDef(
      name: String,
      columns: Seq[ColumnDef],
      comment: String = "",
      properties: Map[String, String] = Map.empty,
      numBuckets: Int = 32) {
    def schema: StructType = StructType(columns.map(_.structField))
    def primaryKey: Seq[String] = columns.filter(_.isPrimaryKey).map(_.name)
    /** Resolved FK lineage edges with deterministic constraint names. */
    def foreignKeyEdges: Seq[FkEdge] = columns.flatMap { c =>
      c.foreignKey.map(fk => FkEdge(
        naming.foreignKeyName(name, c.name, fk.referenceTable, fk.referenceColumn),
        name, c.name, fk.referenceTable, fk.referenceColumn))
    }
    require(columns.map(_.name.toLowerCase).distinct.size == columns.size,
      s"duplicate column names in table $name")
  }

  object ColumnDef {
    /** Reverse-engineer declared columns from an inferred schema — the bronze
      * ingest contract (reference: src/bronze/ingest.py:20-25). */
    def fromSchema(schema: StructType, primaryKey: Seq[String] = Nil): Seq[ColumnDef] =
      schema.fields.toSeq.map { f =>
        ColumnDef(f.name, f.dataType, f.nullable,
          comment = f.getComment().getOrElse(""),
          isPrimaryKey = primaryKey.contains(f.name))
      }
  }

  /** Observed (live) state of a lake table, snapshot for the planner diff
    * (reference: src/delta_engine/state/states.py:27-103). */
  final case class TableState(
      name: String,
      exists: Boolean,
      schema: StructType,
      primaryKey: Seq[String],
      properties: Map[String, String],
      tableComment: String = "")
}
