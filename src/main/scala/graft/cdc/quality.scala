package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.model._

/** Data-quality gate: per-column expectations compiled to Catalyst predicates,
  * evaluated in ONE aggregate pass over the batch (no per-rule scans).
  *
  * Re-expresses the reference's DQX-based evaluator
  * (/root/reference/src/models/data_quality_evaluator.py:28-111,
  * /root/reference/src/models/data_quality_table.py:16-108): warn-level
  * failures are recorded and the write proceeds; error-level failures abort
  * the epoch before commit (the atomic snapshot commit means an aborted epoch
  * leaves zero partial state).
  */
object quality {

  final case class CheckFailure(
      check_name: String,
      column: String,
      criticality: String,
      failed_rows: Long)

  final class QualityGateError(val failures: Seq[CheckFailure])
    extends RuntimeException(
      s"quality gate: error-level failures: ${failures.map(f => s"${f.check_name}(${f.column})=${f.failed_rows}").mkString(", ")}")

  /** One named check = a violation predicate over a column. */
  final case class Check(name: String, column: String, criticality: Criticality, violation: Column)

  /** A keyed (multi-row) check — violations are a property of key GROUPS,
    * not single rows, so it cannot compile to a row predicate like [[Check]].
    * The flagship instance is the reference's auto-derived `is_unique` rule
    * for every table with a PK (data_quality_table.py:51-58). */
  final case class KeyedCheck(name: String, keys: Seq[String], criticality: Criticality)

  object Check {
    /** Derive checks from column metadata, like the reference auto-derives
      * DQX rules from DeltaColumn definitions. */
    def fromColumns(columns: Seq[ColumnDef]): Seq[Check] = columns.flatMap { c =>
      val notNull = if (!c.nullable || c.isPrimaryKey)
        Seq(Check("is_not_null", c.name, Criticality.Error, col(c.name).isNull)) else Nil
      val fromRule = c.qualityRule.toSeq.flatMap { r =>
        val crit = r.criticality
        r.allowedValues.map(vs =>
          Check("is_in_list", c.name, crit, col(c.name).isNotNull && !col(c.name).isin(vs: _*))).toSeq ++
        r.minValue.map(m =>
          Check("min_value", c.name, crit, col(c.name) < lit(m))).toSeq ++
        r.maxValue.map(m =>
          Check("max_value", c.name, crit, col(c.name) > lit(m))).toSeq
      }
      notNull ++ fromRule
    }
  }

  /** Row-level quarantine split (reference DQX `apply_checks_and_split`,
    * /root/reference/src/models/data_quality_evaluator.py:52-65):
    * `pass` = rows with no error-level failure (warn-only rows pass through,
    * annotated); `quarantine` = rows with ANY failure, carrying `_warnings`
    * and `_errors` arrays of failure structs for the audit trail. */
  final case class SplitResult(pass: DataFrame, quarantine: DataFrame)

  object QualityGate {
    /** Auto-derive the full gate from a table definition, like the reference
      * wires DQX rules from DeltaColumn metadata: row checks from column
      * rules/nullability (Check.fromColumns) plus the keyed `is_unique`
      * check whenever the table has a primary key
      * (reference: data_quality_table.py:51-58). */
    def forTable(t: model.TableDef,
        uniquenessCriticality: Criticality = Criticality.Error): QualityGate =
      new QualityGate(
        Check.fromColumns(t.columns),
        if (t.primaryKey.nonEmpty) Seq(KeyedCheck("is_unique", t.primaryKey, uniquenessCriticality))
        else Nil)
  }

  final class QualityGate(val checks: Seq[Check], val keyedChecks: Seq[KeyedCheck] = Nil) {
    private def crit(c: Criticality): String =
      c match { case Criticality.Error => "error"; case Criticality.Warn => "warn" }

    /** One 1/0 violation indicator per check and row, in [[checks]] order;
      * `rowFilter` limits which rows the gate applies to (the engine
      * excludes delete tombstones). Their sums are the violation counts
      * [[failuresOf]] reads: [[evaluate]] sums them in a job of its own, the
      * ReplayEngine in the apply's stats pre-pass. */
    def violations(rowFilter: Column = lit(true)): Seq[Column] =
      checks.map(c => when(rowFilter && c.violation, 1L).otherwise(0L))

    /** The failures behind per-check violation counts (in [[checks]] order). */
    def failuresOf(counts: Seq[Long]): Seq[CheckFailure] =
      checks.zip(counts).collect { case (c, n) if n > 0 =>
        CheckFailure(c.name, c.column, crit(c.criticality), n)
      }

    /** Evaluate all checks in ONE aggregate job; returns every failure
      * (warn + error) WITHOUT throwing — callers decide (and can persist the
      * audit rows before aborting, like the reference's _handle_errors). */
    def evaluate(df: DataFrame): Seq[CheckFailure] = {
      if (checks.isEmpty) return Nil
      val aggs = violations().zipWithIndex.map { case (v, i) => sum(v).as(s"c$i") }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      failuresOf(checks.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i)))
    }

    /** Evaluate the keyed checks (one shuffle per distinct key set; the gate
      * currently carries at most one — the PK `is_unique`). `failed_rows` is
      * every row belonging to a duplicated key group (DQX `is_unique` marks
      * each such row as failing). At scale this is a partial-aggregatable
      * groupBy-count — the same shape as [[duplicateKeys]]. */
    def evaluateKeyed(df: DataFrame): Seq[CheckFailure] =
      keyedChecks.flatMap { kc =>
        val n = df.groupBy(kc.keys.map(col): _*).count()
          .filter(col("count") > 1)
          .agg(coalesce(sum("count"), lit(0L))).collect()(0).getLong(0)
        if (n > 0) Some(CheckFailure(kc.name, kc.keys.mkString(","), crit(kc.criticality), n))
        else None
      }

    /** Row checks + keyed checks — the full sink-side gate (GatedWriter). */
    def evaluateAll(df: DataFrame): Seq[CheckFailure] = evaluate(df) ++ evaluateKeyed(df)

    /** Evaluate and throw [[QualityGateError]] if any error-level check fired. */
    def check(df: DataFrame): Seq[CheckFailure] = {
      val failures = evaluate(df)
      val errors = failures.filter(_.criticality == "error")
      if (errors.nonEmpty) throw new QualityGateError(errors)
      failures
    }

    /** Annotate each row with its failures, then split (one pass, pure
      * projections — no shuffle; the two outputs share the annotated plan). */
    def split(df: DataFrame): SplitResult = {
      def failuresOf(level: Criticality): Column = {
        val hits = checks.filter(_.criticality == level).map { c =>
          when(c.violation, struct(
            lit(c.name).as("name"),
            array(lit(c.column)).as("columns"),
            lit(s"${c.name}(${c.column})").as("function")))
        }
        if (hits.isEmpty) array().cast(ArrayType(failureStructType))
        else array_compact(array(hits: _*))
      }
      val annotated = df
        .withColumn("_warnings", failuresOf(Criticality.Warn))
        .withColumn("_errors", failuresOf(Criticality.Error))
      SplitResult(
        pass = annotated.filter(size(col("_errors")) === 0).drop("_warnings", "_errors"),
        quarantine = annotated.filter(size(col("_errors")) > 0 || size(col("_warnings")) > 0))
    }

    /** Duplicate-PK detector (reference DQX `is_unique`,
      * /root/reference/src/models/data_quality_table.py:51-58). */
    def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
  }

  /** DQ-fronted overwrite/append sinks — the reference DeltaWriter contract
    * (writer.py:34-67): gate (row checks + keyed is_unique) -> persist audit
    * rows -> abort on error-level failures -> write.
    *
    * This is where the auto-derived PK-uniqueness check FIRES: the CDC merge
    * path makes duplicate PKs structurally impossible in the table (per-key
    * max-LSN resolution), and a CDC batch legitimately carries multiple
    * events per key pre-dedup — so the ReplayEngine runs row checks only,
    * while full overwrite/append sinks (where a buggy upstream CAN land
    * duplicates) get the keyed checks too. */
  object GatedWriter {
    def overwrite(table: lake.LakeTable, df: DataFrame, gate: QualityGate,
        auditTable: Option[lake.LakeTable] = None, jobId: Long = -1L): lake.CommitResult =
      gatedWrite(table, df, gate, auditTable, jobId)(d => table.overwrite(d))

    def append(table: lake.LakeTable, df: DataFrame, gate: QualityGate,
        auditTable: Option[lake.LakeTable] = None, jobId: Long = -1L): lake.CommitResult =
      gatedWrite(table, df, gate, auditTable, jobId)(d => table.append(d))

    private def gatedWrite(table: lake.LakeTable, df: DataFrame, gate: QualityGate,
        auditTable: Option[lake.LakeTable], jobId: Long)(
        write: DataFrame => lake.CommitResult): lake.CommitResult = {
      val failures = gate.evaluateAll(df)
      if (failures.nonEmpty) {
        // errors are persisted BEFORE the abort (reference _handle_errors)
        auditTable.foreach(at => at.append(DataQualityChecks.auditRows(
          table.spark, failures, table.name, jobId = jobId, runId = jobId)))
        val errors = failures.filter(_.criticality == "error")
        if (errors.nonEmpty) throw new QualityGateError(errors)
      }
      write(df)
    }
  }

  private val failureStructType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("columns", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("function", StringType, nullable = false)))

  /** The persistent `data_quality_checks` audit table (reference:
    * /root/reference/src/metadata/data_quality/data_quality_checks.py:16-32),
    * extended with `failed_rows` so SLO jobs can aggregate violation volume. */
  object DataQualityChecks {
    val tableName = "data_quality_checks"

    val schema: StructType = StructType(Seq(
      StructField("date", DateType, nullable = false),
      StructField("criticality", StringType, nullable = false),
      StructField("table_name", StringType, nullable = false),
      StructField("check_name", StringType, nullable = false),
      StructField("columns", ArrayType(StringType), nullable = false),
      StructField("function", StringType, nullable = false),
      StructField("failed_rows", LongType, nullable = false),
      StructField("run_time", TimestampType, nullable = false),
      StructField("job_id", LongType, nullable = false),
      StructField("run_id", LongType, nullable = false)))

    val tableDef: TableDef = TableDef(tableName,
      ColumnDef.fromSchema(schema), comment = "Audit log of data quality check results",
      numBuckets = 4)

    /** Audit rows for one evaluation (reference _add_metadata_columns,
      * data_quality_evaluator.py:70-79; job_id/run_id = epoch in our engine). */
    def auditRows(spark: org.apache.spark.sql.SparkSession, failures: Seq[CheckFailure],
        tableName: String, jobId: Long, runId: Long): DataFrame = {
      import spark.implicits._
      failures.toDF()
        .select(
          current_date().as("date"),
          col("criticality"),
          lit(tableName).as("table_name"),
          col("check_name"),
          array(col("column")).as("columns"),
          concat(col("check_name"), lit("("), col("column"), lit(")")).as("function"),
          col("failed_rows"),
          current_timestamp().as("run_time"),
          lit(jobId).as("job_id"),
          lit(runId).as("run_id"))
    }
  }
}
