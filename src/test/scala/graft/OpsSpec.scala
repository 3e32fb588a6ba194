package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** Sanity/semantic tests for the analytics operators beyond the DuckDB oracle
  * (which the driver runs): near-dup recall relationships, ANN vs brute force,
  * multimodal plumbing, and plan-shape assertions (pushdown/broadcast). */
class OpsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("exact dedup groups sum back to the corpus size") {
    val d = dedup.exact(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(d.agg(sum("dup_count")).collect()(0).getLong(0) == docs)
  }

  test("minhash-LSH candidates include every high-Jaccard pair (recall at 0.8)") {
    val truth = dedup.ngramJaccard(spark, sf, 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = dedup.minhashLsh(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain near-dups")
    assert(truth.subsetOf(cand), s"missed: ${truth -- cand}")
  }

  test("ngramJaccard df-cut bounds the pair blowup on a stop-shingle corpus") {
    // pathological corpus: every doc shares one hot phrase; without the
    // document-frequency cut the hot shingles alone generate ~n²/2 pairs
    val n = 200
    val dir = tmpDir("stop-shingle")
    import spark.implicits._
    (0 until n).map(i => (i.toLong, "en",
        s"the quick brown fox jumps over unique$i token$i word$i"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = dedup.ngramJaccard(spark, dir, threshold = 0.0, dfMax = 64)
    // hot shingles ("the quick brown" etc., df=200 > 64) are pruned, so the
    // only surviving pairs come from shingles with df <= 64 — here none are
    // shared, so no pair survives (vs 19,900 all-pairs without the cut)
    assert(out.count() == 0)
    // and a genuinely shared low-df shingle still yields its pair
    (0 until n).map(i => (i.toLong, "en",
        s"${if (i < 2) "shared low df phrase here" else s"only$i in$i this$i doc$i x$i"} tail$i"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out2 = dedup.ngramJaccard(spark, dir, threshold = 0.5, dfMax = 64)
    assert(out2.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("IVF ANN probing every cell with Lloyd refinement equals brute force") {
    val bf = similarity.bruteForceTopK(spark, sf, maxQueryId = 5, k = 3)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val ivf = similarity.annIvf(spark, sf, maxQueryId = 5, k = 3,
        nCells = 8, nprobe = 8, lloydIters = 2)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(ivf == bf, "probing all cells must recover the exact top-k")
  }

  test("simhash near-dup pairs overlap trigram near-dups") {
    val sh = dedup.simhash(spark, sf).collect()
    assert(sh.nonEmpty)
    sh.foreach(r => assert(r.getInt(2) <= 8))
  }

  test("near-dup pair generation: LSH pairs are exact-rescored, thresholded, deduped") {
    val threshold = 0.2
    val pairs = ops.similarity.nearDupPairsLsh(spark, sf, threshold = threshold).collect()
    assert(pairs.nonEmpty, "the corpus must yield some colliding near-dup pairs")
    // every pair above threshold, a < b, and unique (multi-band collisions collapsed)
    assert(pairs.forall(_.getDouble(2) >= threshold))
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length, "pairs must be distinct across bands")
    // rescores are EXACT: each reported cos matches the brute-force cosine
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
    val exact = e.select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
      .join(e.select(col("vec_id").as("b_id"), col("emb").as("b_emb")), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(ops.similarity.cosine(col("a_emb"), col("b_emb")), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs.foreach { r =>
      assert(exact((r.getLong(0), r.getLong(1))) == r.getDouble(2), s"rescore mismatch at $r")
    }
  }

  test("ANN-LSH results are a subset of correct cosine scores (vs brute force)") {
    val bf = similarity.bruteForceTopK(spark, sf, maxQueryId = 5, k = 50)
      .select("q_id", "c_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = similarity.annLsh(spark, sf, maxQueryId = 5, k = 3).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // every ANN hit must carry the same cosine the exact scorer computes
      bf.get(key).foreach(c => assert(math.abs(c - r.getDouble(2)) < 1e-9))
    }
  }

  test("multimodal decode plumbing: batched partition decode is deterministic and schema-stable") {
    val media = multimodal.mediaTable(spark, sf)
    val feats = multimodal.extractFeatures(spark, media)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("doc_id", "kind", "n_bytes", "width", "height", "mean_luma"))
    val a = feats.collect().sortBy(_.doc_id)
    val b = multimodal.extractFeatures(spark, media.repartition(7)).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq, "decode must not depend on partitioning")
    assert(a.forall(f => f.n_bytes > 0 && f.width >= 64 && f.height >= 64))
  }

  test("real ImageIO decode recovers synthetic BMP geometry and luma exactly") {
    val feats = multimodal.extractFeatures(spark, multimodal.syntheticImages(spark, sf))
      .collect().sortBy(_.doc_id)
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.width == 8 + (f.doc_id % 16).toInt, s"width of ${f.doc_id}")
      assert(f.height == 8 + ((f.doc_id / 3) % 16).toInt, s"height of ${f.doc_id}")
      val v = (f.doc_id % 256).toInt
      assert(math.abs(f.mean_luma * 255.0 - v) < 0.01, s"luma of ${f.doc_id}: ${f.mean_luma}")
    }
    // an undecodable payload must fall back to the stub, not crash
    val stub = multimodal.decodeStub("not an image".getBytes)
    assert(multimodal.decodeImage("not an image".getBytes).isEmpty && stub._1 >= 64)
  }

  test("plan shape: filter+projection push down to the parquet scan") {
    val plan = relational.silverConform(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), plan.take(500))
    // only the referenced columns are read
    assert(!plan.contains("p_name"), "unused column must be pruned from the scan")
  }

  test("plan shape: dims join broadcasts the small sides") {
    val plan = relational.dimsBroadcast(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan.take(800))
  }

  test("merge stats pre-pass: content pruned from the scan, lsn range pushed down") {
    import graft.cdc._
    val evDir = tmpDir("plan-ev")
    cdc.gen.changeEvents(spark, cdc.gen.GenConfig(n = 5000, nKeys = 800, numPartitions = 2))
      .write.mode("overwrite").parquet(evDir)
    val ev = spark.read.parquet(evDir).filter(col("lsn") >= 2500)
    val statsPlan = ev
      .select(col("repo"), col("path"), col("lsn"), col("op"))
      .groupBy("repo", "path")
      .agg(max_by(col("op"), col("lsn")).as("op"), max("lsn").as("lsn"))
      .queryExecution.executedPlan.toString
    assert(!statsPlan.contains("content"), "content must be pruned from the stats scan")
    assert(statsPlan.contains("GreaterThanOrEqual(lsn,2500)"),
      "lsn range filter must reach the parquet scan:\n" + statsPlan.take(1200))
  }

  test("ReplayEngine leaves the session's confs alone") {
    import graft.cdc._, graft.cdc.lake._, graft.cdc.ingest._, graft.cdc.model._
    val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    assert(spark.conf.get(threshold) == "128", "precondition: the threshold at its default")
    val before = spark.conf.getAll
    val cfg = cdc.gen.GenConfig(n = 8000, nKeys = 1200, numPartitions = 4)
    val t = LakeTable.createIfNotExists(spark, tmpDir("fb"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val eng = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1))
    val all = cdc.gen.changeEvents(spark, cfg)
    (0 until 2).foreach(e => eng.applyEpoch(all.filter(col("lsn") >= e * 4000 && col("lsn") < (e + 1) * 4000), e))
    assert(spark.conf.get(threshold) == "128")
    assert(spark.conf.getAll == before)
    val got = t.read().select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val exp = cdc.gen.oracleFinalState(cfg)
    assert(got.size == exp.size)
    exp.foreach { case (k, e) => assert(got.get(k).contains(cdc.gen.sha256Hex(e.content))) }
  }

  test("lang-id covers all five classes on the sf0.01 corpus") {
    val preds = text.langId(spark, "/root/testdata/sf0.01")
      .groupBy("predicted_lang").count().collect().map(_.getString(0)).toSet
    assert(preds == Set("en", "de", "fr", "es", "zh"))
  }
}
