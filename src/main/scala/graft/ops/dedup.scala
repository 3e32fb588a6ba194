package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is a hash groupBy (one shuffle, map-side combine); Jaccard
  * joins only on shared shingles (inverted-index join); MinHash/SimHash band
  * into buckets so candidate pairs are generated per-bucket. At 100 TB the
  * shingle/band join is the shuffle that matters, and its keys are
  * high-cardinality (shingles/band hashes), so it parallelizes cleanly.
  */
object dedup {

  // spread: the corpus arrives as one small parquet file (1-2 scan splits);
  // without it every sha256-heavy shingling projection below runs in ONE
  // task (guide §2.5 unsplittable-input skew). No-op at scale — see opsutil.
  private def docs(spark: SparkSession, dir: String): DataFrame =
    opsutil.spread(spark.read.parquet(s"$dir/documents.parquet"))

  /** Exact dedup by normalized-content hash: one representative (min doc_id)
    * per normalized sha256 group. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        sha2(lower(trim(regexp_replace(col("text"), "\\s+", " "))), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("dup_count"), col("content_hash"))
      .orderBy(col("doc_id"))

  /** Raw word-trigram shingles per document (duplicates kept — consumers
    * dedup via set aggregation or duplicate-insensitive min).
    *
    * The words array is materialized in its OWN projection before the
    * higher-order transform: an array expression referenced inside an HOF
    * lambda is re-evaluated on every lambda invocation (HOFs run as
    * interpreted CodegenFallback, no subexpression elimination), so the
    * previous inline `split` re-split the text ~3x per shingle — the
    * dominant CPU of the whole inverted-index build. As an attribute it is
    * computed once per row. */
  private def rawShingles(spark: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(ws) - 2), i =>
          concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))).as("s"))
  }

  /** Inverted index: (lang, shingle) -> sorted-set posting list of doc_ids.
    * ONE wide shuffle builds it; it is cached and its logical plan is shared
    * by ngramJaccard and minhashLsh, so the CacheManager computes it once per
    * corpus. At scale this replaces any shingle self-join: candidate pairs
    * come from exploding per-shingle posting-list combinations, whose cost is
    * bounded by the document-frequency cut, never by corpus size.
    *
    * Cache lifecycle: deliberately left to the session (Verify/Bench runs are
    * short-lived and re-query the same corpus; Spark evicts LRU under
    * pressure). Long-lived services cycling many corpora should call
    * `spark.catalog.clearCache()` between corpora. */
  private def shinglePosts(spark: SparkSession, dir: String): DataFrame =
    rawShingles(spark, dir)
      .groupBy(col("lang"), col("s"))
      .agg(collect_set(col("doc_id")).as("ds"))
      .cache()

  /** Exact n-gram Jaccard near-dup pairs >= `threshold`, via an
    * inverted-index self-join on shingles (never materializes all pairs).
    *
    * `dfMax` is the document-frequency cut: a shingle appearing in more than
    * `dfMax` documents is a stop-shingle ("of the and") — it contributes
    * ~df² candidate pairs in ONE join task while carrying almost no
    * similarity signal, which is the classic quadratic hot-key blowup at
    * corpus scale. Such shingles are pruned from the index AND from the
    * Jaccard sets on both sides (the oracle SQL applies the identical cut),
    * bounding any join key's pair count at dfMax². */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8,
      dfMax: Int = 64): DataFrame = {
    val posts = shinglePosts(spark, dir).filter(size(col("ds")) <= dfMax)
    // distinct-shingle count per doc over the pruned index
    val sizes = posts.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // candidate pairs straight from posting-list combinations (d1 < d2):
    // per-shingle cost is |ds|² <= dfMax², independent of corpus size
    val sorted = array_sort(col("ds"))
    val pairs = posts.filter(size(col("ds")) >= 2)
      .select(explode(flatten(transform(sorted, (x, i) =>
        transform(slice(sorted, i + lit(2), size(sorted)), y =>
          struct(x.as("d1"), y.as("d2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
    val inter = pairs.groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.alias("x"), col("d1") === col("x.doc_id"))
      .join(sizes.alias("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"),
        round(col("i").cast("double") / (col("x.n") + col("y.n") - col("i")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** MinHash signatures (k=16 "permutations") + LSH banding (4 bands x 4
    * rows): near-dup candidate pairs with estimated Jaccard.
    * The scale path: shingle set -> k min-hashes (one groupBy), band -> bucket
    * join, so cost is O(docs x k) + per-bucket pair generation.
    *
    * Hash choice: component c is a 16-hex-char (64-bit) slice of
    * sha256("<c/4>:" + s) — one sha256 yields FOUR independent components
    * (distinct bit ranges of the digest), so k=16 costs 4 hash calls per
    * shingle, and min over equal-length lowercase hex strings orders exactly
    * like the underlying 64-bit values. BOTH engines (Spark and the DuckDB
    * oracle) compute it bit-identically, making the whole sketch
    * oracle-checkable. xxhash64 would be cheaper per byte at scale and is a
    * drop-in swap; the asymptotics are identical. */
  def minhashLsh(spark: SparkSession, dir: String, k: Int = 16, bandRows: Int = 4): DataFrame = {
    // The k components are computed per POSTING ROW (one per (lang, shingle))
    // BEFORE the posting list explodes to (shingle, doc) pairs: the sha256
    // digests depend only on the shingle, so hashing after the explode would
    // repeat each digest once per posting-list member (and relying on
    // aggregate-level subexpression elimination to fold the 4 digests out of
    // 16 min() update expressions is planner-dependent — a projection
    // guarantees it). min() is duplicate-insensitive, so the values reaching
    // the per-doc aggregation are unchanged. (No df cut here — minhash
    // sketches the FULL shingle set.)
    val digests = (0 until k / 4).map(g =>
      sha2(concat(lit(s"$g:"), col("s")), 256).as(s"_h$g"))
    val comps = (0 until k).map(c =>
      substring(col(s"_h${c / 4}"), 1 + 16 * (c % 4), 16).as(s"_c$c"))
    val sh = shinglePosts(spark, dir)
      .select((col("ds") +: digests): _*)
      .select((comps :+ explode(col("ds")).as("doc_id")): _*)
    val mhAggs = (0 until k).map(c => min(col(s"_c$c")).as(s"mh$c"))
    val mh = sh.groupBy(col("doc_id")).agg(mhAggs.head, mhAggs.tail: _*)
    val nBands = k / bandRows
    val bands = mh.select(col("doc_id"), explode(array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        substring(sha2(concat_ws("|",
          (b * bandRows until (b + 1) * bandRows).map(i => col(s"mh$i")): _*), 256), 1, 16).as("sig"))
    }: _*)).as("bb"), struct((0 until k).map(i => col(s"mh$i")): _*).as("sig_all"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.sig").as("sig"), col("sig_all"))
    val cand = bands.alias("a").join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sig_all").as("s1"), col("b.sig_all").as("s2"))
      .distinct()
    // estimated Jaccard = fraction of agreeing minhash components
    val agree = (0 until k).map(i =>
      when(col("s1").getField(s"mh$i") === col("s2").getField(s"mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.select(col("d1"), col("d2"), round(agree.cast("double") / k, 4).as("est_jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** 60-bit SimHash per document + near-dup pairs with Hamming distance <=
    * `maxHamming`, candidate-generated by banding the fingerprint into 4
    * 15-bit chunks (pigeonhole: any pair at distance <=3 shares a chunk;
    * wider distances may be missed — standard SimHash LSH trade-off).
    *
    * Token hash: the first 15 hex chars (60 bits) of sha256(word), so the
    * DuckDB oracle reproduces the fingerprint bit-for-bit (60 not 64 bits so
    * the value fits a signed BIGINT in both engines; xxhash64 is the cheaper
    * non-oracle-checkable drop-in at scale). */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 8): DataFrame = {
    val bits = 60
    // group to (doc, word, count) FIRST so sha256 runs once per DISTINCT
    // word of each doc, not once per occurrence; votes then weigh by the
    // occurrence count. Integer sums are order- and grouping-insensitive,
    // so the per-(doc, bit) totals are exactly the per-occurrence ones.
    val tok = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("cnt"),
        conv(substring(sha2(col("w"), 256), 1, 15), 16, 10).cast("long").as("h"))
    // per-bit vote: +cnt if bit set else -cnt, summed per doc
    val voteAggs = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("cnt")).otherwise(-col("cnt"))).as(s"v$b"))
    val votes = tok.groupBy(col("doc_id")).agg(voteAggs.head, voteAggs.tail: _*)
    val fp = (0 until bits).map(b =>
      when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)).reduce(_ bitwiseOR _)
    val sim = votes.select(col("doc_id"), fp.as("simhash")).cache()
    val chunks = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFFL).as("v"))): _*)).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.c").as("c"), col("ch.v").as("v"))
    val pairs = chunks.alias("a").join(chunks.alias("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("f1"), col("b.simhash").as("f2"))
      .distinct()
    pairs
      .select(col("d1"), col("d2"), bit_count(col("f1").bitwiseXOR(col("f2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("d1"), col("d2"))
  }

  /** Winnowing document fingerprints (Schleimer et al., the MOSS algorithm):
    * character k-gram rolling hashes, one fingerprint per sliding window =
    * the window's minimal hash, near-dup pairs = documents sharing >=
    * `minShared` selected fingerprints (guarantee: any substring match of
    * length >= w+k-1 is detected).
    *
    * All per-document work is array expressions inside one codegen'd
    * projection — zero shuffles until the fingerprint posting-list grouping,
    * which is the same bounded-df inverted index ngramJaccard uses. Hashes
    * are sha256 hex slices so the DuckDB oracle reproduces the selection
    * bit-for-bit; a production xxhash64 swap keeps the identical shape.
    * `maxChars` bounds per-doc cost (standard practice: fingerprint a
    * prefix/sample at corpus scale). */
  def winnow(spark: SparkSession, dir: String, k: Int = 8, w: Int = 4,
      maxChars: Int = 512, dfMax: Int = 8, minShared: Int = 4): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, maxChars).as("t"))
    val grams = transform(
      sequence(lit(1), greatest(length(col("t")) - (k - 1), lit(1))),
      i => col("t").substr(i, lit(k)))
    val hashes = transform(col("grams"), g => substring(sha2(g, 256), 1, 16))
    val fps = array_distinct(transform(
      sequence(lit(1), greatest(size(col("hs")) - (w - 1), lit(1))),
      j => array_min(slice(col("hs"), j, lit(w)))))
    val e = d.withColumn("grams", grams).withColumn("hs", hashes)
      .select(col("doc_id"), explode(fps).as("fp"))
    val posts = e.groupBy(col("fp")).agg(collect_set(col("doc_id")).as("ds"))
      .filter(size(col("ds")) <= dfMax && size(col("ds")) >= 2)
    val sorted = array_sort(col("ds"))
    val pairs = posts
      .select(explode(flatten(transform(sorted, (x, i) =>
        transform(slice(sorted, i + lit(2), size(sorted)), y =>
          struct(x.as("d1"), y.as("d2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
    pairs.groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("d1"), col("d2"))
  }
}
