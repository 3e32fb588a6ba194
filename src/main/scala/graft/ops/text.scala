package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * language-ID, quality scoring, token counting, document fingerprinting.
  * All pure column expressions — codegen'd, zero shuffles until the final
  * ordering, trivially scale to 100 TB of documents (embarrassingly parallel
  * per-row work; the parquet scan prunes to the referenced columns only).
  */
object text {

  // spread: one small parquet file = 1-2 scan splits; the regex/sha
  // projections would otherwise run near-single-threaded (guide §2.5).
  private def docs(spark: SparkSession, dir: String): DataFrame =
    opsutil.spread(spark.read.parquet(s"$dir/documents.parquet"))

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letters / digits / single other-char), per document. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).as("n"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Quality scoring: length, punctuation ratio, stopword ratio and a
    * composite score — the quality-gate style per-row metrics a pretraining
    * pipeline filters on. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val words = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))
    val stops = size(filter(split(col("text"), " "), w => w.isin("the", "a")))
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      words.as("words"),
      round(punct.cast("double") / length(col("text")), 6).as("punct_ratio"),
      round(stops.cast("double") / words, 6).as("stop_ratio"),
      round(least(lit(1.0), words.cast("double") / 100.0) *
        (lit(1.0) - punct.cast("double") / length(col("text"))), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID: deterministic feature-based classifier (stopword ratio +
    * mean word length). The corpus' lang labels are uncorrelated with the
    * synthetic text, so the point is the OPERATOR — a fixed n-gram/stopword
    * heuristic every row flows through — not label recovery. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val words = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
    val wlen = length(regexp_replace(col("text"), " ", "")).cast("double") / words
    val sr = size(filter(split(col("text"), " "), w => w.isin("the", "a"))).cast("double") /
      size(split(col("text"), " "))
    docs(spark, dir).select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      when(sr >= 0.08, "en")
        .when(wlen >= 4.66, "de")
        .when(wlen >= 4.55, "fr")
        .when(wlen >= 4.47, "es")
        .otherwise("zh").as("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting: full sha256 + 8-hex truncated fingerprint
    * (reference analog: BLAKE2b 8-hex identifier truncation,
    * /root/reference/src/delta_engine/constraints/naming.py:32-61). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      sha2(col("text"), 256).as("sha"),
      substring(sha2(col("text"), 256), 1, 8).as("fp8"),
      substring(sha2(concat(col("lang"), lit("|"), col("text")), 256), 1, 16).as("keyed_fp"))
      .orderBy(col("doc_id"))
}
