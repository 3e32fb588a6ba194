package graft

import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** Shared mutable LSN watermark for the TTL-eviction test (a top-level
  * object so the state function's supplier closure serializes cleanly). */
object TtlWatermark {
  @volatile var v: Long = -1L
}

/** Structured Streaming replay: file-tail source -> foreachBatch epochs ->
  * lake table, including stop/restart resume through the SS checkpoint +
  * epoch fence composition. */
class StreamingReplaySpec extends SparkSuite {

  test("streaming replay drains the tail and converges; restart resumes exactly-once") {
    val cfg = gen.GenConfig(n = 9000, nKeys = 1500, numPartitions = 4)
    val srcDir = tmpDir("stream-src")
    val ckDir = tmpDir("stream-ck")
    val root = tmpDir("stream-lake")

    val all = gen.changeEvents(spark, cfg).cache()
    val eventSchema = all.schema

    // wave 1: first two-thirds of the stream, as 3 files (3 potential batches)
    (0 until 3).foreach { i =>
      all.filter(col("lsn") >= i * 2000 && col("lsn") < (i + 1) * 2000)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }

    val table = LakeTable.createIfNotExists(spark, root, "repo_files",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val q1 = streaming.replayStream(
      streaming.changeStream(spark, srcDir, eventSchema, maxFilesPerTrigger = Some(1)),
      engine, ckDir)
    q1.awaitTermination(120000)
    val midEpoch = table.snapshot.epochId
    assert(midEpoch >= 0, "at least one epoch must have committed")

    // wave 2: the rest arrives after a "crash"; restart from the SS checkpoint
    all.filter(col("lsn") >= 6000).coalesce(1).write.mode("append").parquet(srcDir)
    val table2 = LakeTable.load(spark, root, "repo_files")
    val engine2 = new ReplayEngine(table2, SchemaRegistry.single(RepoRow.schemaV1))
    val q2 = streaming.replayStream(
      streaming.changeStream(spark, srcDir, eventSchema, maxFilesPerTrigger = Some(1)),
      engine2, ckDir)
    q2.awaitTermination(120000)
    all.unpersist()

    val got = table2.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val expected = gen.oracleFinalState(cfg)
    assert(got.size == expected.size, s"got ${got.size}, expected ${expected.size}")
    expected.foreach { case (k, e) =>
      assert(got.get(k).contains(gen.sha256Hex(e.content)), s"sha mismatch for $k")
    }
  }

  test("stateful cross-epoch dedup suppresses redelivered/stale LSNs across micro-batches") {
    import spark.implicits._
    val srcDir = tmpDir("sdedup-src")
    val ckDir = tmpDir("sdedup-ck")
    val outDir = tmpDir("sdedup-out")
    def write(rows: Seq[(Long, String, String, String)]): Unit =
      rows.toDF("lsn", "op", "repo", "path")
        .coalesce(1).write.mode("append").parquet(srcDir)

    // batch 1: keys a@5, b@3
    write(Seq((5L, "U", "r1", "a"), (3L, "U", "r1", "b")))
    val schema = spark.read.parquet(srcDir).schema
    def drain(): Unit = {
      val q = streaming.statefulDedup(
          streaming.changeStream(spark, srcDir, schema, maxFilesPerTrigger = Some(1)))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    // batch 2: a@4 is a stale redelivery (must be dropped), a@7 and c@1 are fresh
    write(Seq((4L, "U", "r1", "a"), (7L, "U", "r1", "a"), (1L, "U", "r1", "c")))
    drain()
    val out = spark.read.parquet(outDir).select("lsn", "path").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((5L, "a"), (3L, "b"), (7L, "a"), (1L, "c")),
      s"stale a@4 must be suppressed by the state-store watermark; got $out")
  }

  test("q41 path: AvailableNow replay with redeliveries + file-watermark TTL equals engine replay") {
    // the full oracle-checked composition: file tail (with stale
    // redeliveries) -> statefulDedup (TTL via shared-storage watermark) ->
    // foreachBatch epochs; must converge to the batch engine's state AND
    // terminate (eviction drains the timeout loop under AvailableNow)
    val got = ops.cdcq.streamReplay(spark, "/root/testdata/sf0.001").collect().toSeq
    val expected = ops.cdcq.replay(spark, "/root/testdata/sf0.001").collect().toSeq
    assert(got.nonEmpty && got == expected,
      s"streamed replay must equal the batch replay (${got.size} vs ${expected.size})")
  }

  test("q41 path: an epoch with no events stages no tail file and the replay still converges") {
    // event ids 1, 2, 3, 31, 32, 39 in 4 epochs of 10 LSNs: epochs 1 and 2
    // are empty, and no id is a multiple of 7, so no redelivery refills them
    import spark.implicits._
    val dir = tmpDir("cdcq-gap")
    Seq(1L, 2L, 3L, 31L, 32L, 39L).map(id => (id, new java.sql.Timestamp(id * 1000L), id % 3,
      if (id == 32L) "error" else "click", id.toDouble, s"props-$id"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = ops.cdcq.streamReplay(spark, dir).collect().toSeq
    val expected = ops.cdcq.replay(spark, dir).collect().toSeq
    assert(got.nonEmpty && got == expected,
      s"streamed replay must equal the batch replay (${got.size} vs ${expected.size})")
  }

  test("epoch tagging is exact long division for LSNs above 2^53") {
    // 2^54 - 1 is not a double: a double division rounds it up to 2^54
    // and tags the next epoch
    val lsn = (1L << 54) - 1
    val tag = spark.range(1).select(ops.cdcq.epochOf(lit(lsn), 2L)).head().getLong(0)
    assert(tag == (1L << 53) - 1, s"epoch of $lsn at 2 per epoch: $tag")
    assert(spark.range(1).select(floor(lit(lsn) / 2L)).head().getLong(0) != tag,
      "the double division this replaces must round here, or the case tests nothing")
  }

  test("stateful dedup TTL: state below the lsn watermark evicts; late events stay correct") {
    import spark.implicits._
    val srcDir = tmpDir("ttl-src")
    val ckDir = tmpDir("ttl-ck")
    val outDir = tmpDir("ttl-out")
    TtlWatermark.v = -1L
    def write(rows: Seq[(Long, String, String, String)]): Unit =
      rows.toDF("lsn", "op", "repo", "path")
        .coalesce(1).write.mode("append").parquet(srcDir)

    write(Seq((5L, "U", "r1", "a"), (3L, "U", "r1", "b")))
    val schema = spark.read.parquet(srcDir).schema
    // eviction needs a LONG-RUNNING trigger: processing-time timeouts fire in
    // no-data batches, which AvailableNow would drain forever (a due deadline
    // re-arms each batch) — so run ONE ProcessingTime query and poll progress
    val q = streaming.statefulDedup(
        streaming.changeStream(spark, srcDir, schema),
        evictBelowLsn = Some(() => TtlWatermark.v),
        stateTtl = "2 seconds")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .start()
    def stateRows: Long = Option(q.lastProgress)
      .flatMap(p => p.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
    def await(cond: => Boolean, what: String): Unit = {
      val t0 = System.currentTimeMillis()
      while (!cond) {
        assert(System.currentTimeMillis() - t0 < 90000, s"timed out waiting for: $what")
        Thread.sleep(200)
      }
    }
    try {
      await(stateRows == 2, "keys a and b holding state ahead of the watermark")

      // the lake durably commits through lsn 6 -> watermark advances; the
      // next TTL tick (a no-data timeout batch) evicts a@5 and b@3 (<= 6)
      TtlWatermark.v = 6L
      await(stateRows == 0, "TTL eviction of keys behind the watermark")

      // correctness after eviction: a@4 (below watermark, no state left) is
      // dropped by the stateless watermark floor; a@9 is genuinely new
      write(Seq((4L, "U", "r1", "a"), (9L, "U", "r1", "a")))
      await(stateRows == 1, "late a@9 re-creating state above the watermark")
      await(spark.read.parquet(outDir).count() == 3, "3 emitted rows")
      val out = spark.read.parquet(outDir).select("lsn", "path").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(out == Set((5L, "a"), (3L, "b"), (9L, "a")),
        s"late a@4 below the watermark must stay dropped after eviction; got $out")
    } finally q.stop()
  }
}
