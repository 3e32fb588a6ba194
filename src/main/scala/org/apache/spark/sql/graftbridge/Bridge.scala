package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the Column <-> Expression conversions, which are
  * private[sql] in Spark 4 — the SQL MERGE command moves its conditions and
  * assignments between the two — plus the LogicalPlan -> DataFrame and
  * RDD -> DataFrame constructors. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `rows` as a DataFrame of `schema` (an RDD scan): the rows the engine's
    * per-bucket fold computes inside its tasks. */
  def rowsFrame(spark: SparkSession, rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Re-wrap a batch DataFrame as a STREAMING frame (`isStreaming = true`) —
    * the V1 `Source.getBatch` contract. Same private[sql]
    * `internalCreateDataFrame` Spark's own FileStreamSource uses; the plan
    * stays lazy (`toRdd` builds the RDD, nothing runs until the sink). */
  def streamingFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** Build Spark's own parquet row reader (the exact reader FileScanRDD
    * drives) for the storage-partitioned DSv2 scan: one serializable
    * `PartitionedFile => Iterator[InternalRow]` closure, vectorization and
    * row-group filter pushdown included. `buildReaderWithPartitionValues`
    * is private[sql], hence this bridge. NOTE the returned iterator's
    * elements are `ColumnarBatch`es (type-erased) when the vectorized
    * reader kicks in — callers must unwrap (see GraftSpj). */
  def parquetReader(spark: SparkSession, dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(
        sparkSession = cs,
        dataSchema = dataSchema,
        partitionSchema = org.apache.spark.sql.types.StructType(Nil),
        requiredSchema = requiredSchema,
        filters = filters,
        // row-wise output: the DSv2 PartitionReader contract here is
        // InternalRow; the vectorized decoder still runs underneath
        options = Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        hadoopConf = {
          // lake data files on the local scheme: bypass the Checksum wrapper
          // (no `.crc` side-read per file; parquet's own page CRCs remain —
          // same binding as LakeTable's rawLocalFsOptions)
          val c = cs.sessionState.newHadoopConf()
          graft.cdc.ForkFreeLocalFs.fileSystemConf.foreach { case (k, v) => c.set(k, v) }
          c
        })
  }

  /** The running task's memory manager, private[spark] on TaskContext. */
  def taskMemoryManager(): org.apache.spark.memory.TaskMemoryManager =
    org.apache.spark.TaskContext.get().taskMemoryManager()

  def partitionedFile(absPath: String, bytes: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      partitionValues = org.apache.spark.sql.catalyst.InternalRow.empty,
      filePath = org.apache.spark.paths.SparkPath.fromPathString(absPath),
      start = 0L,
      length = bytes,
      locations = Array.empty,
      modificationTime = 0L,
      fileSize = bytes)
}
