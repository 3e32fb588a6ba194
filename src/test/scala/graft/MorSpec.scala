package graft

import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** Merge-on-read mode: delta appends converge to the same golden state as
  * CoW, reads apply outstanding deltas, compaction folds them into base,
  * and the two modes interoperate on one table. */
class MorSpec extends SparkSuite {

  private def golden(table: LakeTable, cfg: gen.GenConfig): Unit = {
    val got = table.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val exp = gen.oracleFinalState(cfg)
    assert(got.size == exp.size, s"got ${got.size}, expected ${exp.size}")
    exp.foreach { case (k, e) => assert(got.get(k).contains(gen.sha256Hex(e.content)), s"sha for $k") }
  }

  test("MoR replay converges to the oracle; compaction is a logical no-op") {
    val cfg = gen.GenConfig(n = 12000, nKeys = 2000, deletePct = 15, numPartitions = 4)
    val table = LakeTable.createIfNotExists(spark, tmpDir("mor"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1),
      mode = MergeMode.MoR)
    val all = gen.changeEvents(spark, cfg)
    (0 until 4).foreach { e =>
      val r = engine.applyEpoch(all.filter(col("lsn") >= e * 3000 && col("lsn") < (e + 1) * 3000), e)
      assert(r.committed)
    }
    assert(table.filesOf(table.snapshot).exists(_.kind == "delta"), "MoR must leave delta files")
    golden(table, cfg) // read-time application of deltas
    val compacted = table.compactDeltas()
    assert(compacted > 0)
    assert(table.filesOf(table.snapshot).forall(_.kind == "base"))
    assert(table.snapshot.epochId == 3, "compaction must not advance the fence")
    golden(table, cfg) // same state after compaction
    // fence still works post-compaction
    val fenced = engine.applyEpoch(all.filter(col("lsn") < 3000), 2)
    assert(!fenced.committed)
  }

  test("mixed mode: MoR epochs then a CoW merge compacts touched buckets implicitly") {
    val cfg = gen.GenConfig(n = 9000, nKeys = 1500, numPartitions = 4)
    val table = LakeTable.createIfNotExists(spark, tmpDir("mix"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val all = gen.changeEvents(spark, cfg)
    val mor = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1), mode = MergeMode.MoR)
    (0 until 2).foreach(e => mor.applyEpoch(all.filter(col("lsn") >= e * 3000 && col("lsn") < (e + 1) * 3000), e))
    assert(table.filesOf(table.snapshot).exists(_.kind == "delta"))
    val cow = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1), mode = MergeMode.CoW)
    // dense CoW epoch touches every bucket -> all deltas folded
    cow.applyEpoch(all.filter(col("lsn") >= 6000), 2, knownInputCount = Some(3000L))
    assert(table.filesOf(table.snapshot).forall(_.kind == "base"),
      s"deltas must be compacted by the CoW merge: ${table.filesOf(table.snapshot).map(_.kind).distinct}")
    golden(table, cfg)
  }

  test("CDC-out: changesSince streams the delta rows committed after a snapshot") {
    val cfg = gen.GenConfig(n = 6000, nKeys = 1000, numPartitions = 4)
    val table = LakeTable.createIfNotExists(spark, tmpDir("cdcout"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1), mode = MergeMode.MoR)
    val all = gen.changeEvents(spark, cfg)
    engine.applyEpoch(all.filter(col("lsn") < 3000), 0)
    val mark = table.snapshot.version
    engine.applyEpoch(all.filter(col("lsn") >= 3000), 1)
    val changes = table.changesSince(mark)
    assert(changes.columns.take(2).toSeq == Seq("lsn", "op"))
    val lsnRange = changes.agg(min("lsn"), max("lsn")).collect()(0)
    assert(lsnRange.getLong(0) >= 3000 && lsnRange.getLong(1) <= 5999)
    // per-key winners of epoch 1 only
    val dups = changes.groupBy("repo", "path").count().filter(col("count") > 1).count()
    assert(dups == 0)
    assert(changes.count() > 0)
  }

  test("overwrite folds outstanding deltas: changesSince across it refuses, no silent loss") {
    import spark.implicits._
    val table = LakeTable.createIfNotExists(spark, tmpDir("mor-ow"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1), mode = MergeMode.MoR)
    def ev(lsn: Long, op: String, path: String, content: String) =
      (lsn, op, "r", path, s"c$lsn", "scala", content)
    engine.applyEpoch(Seq(ev(1, "I", "a", "a1"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content"), 0)
    val mark = table.snapshot.version
    // a delta committed after `mark`...
    engine.applyEpoch(Seq(ev(2, "U", "a", "a2"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content"), 1)
    // ...then an overwrite discards the file list wholesale (deltas included)
    table.overwrite(Seq(("r", "a", "c9", "scala", "a9"))
      .toDF("repo", "path", "commit", "lang", "content"))
    // the post-mark change rows are gone — changesSince must THROW, not
    // silently return an empty/incomplete feed
    val e = intercept[IllegalStateException](table.changesSince(mark))
    assert(e.getMessage.contains("no longer available"), e.getMessage)
  }

  test("auto-compaction policy bounds MoR read amplification under long epoch runs") {
    import spark.implicits._
    def deltasByBucket(t: LakeTable): Map[Int, Int] =
      t.filesOf(t.snapshot).filter(_.kind == "delta").groupBy(_.bucket).view.mapValues(_.size).toMap
    def batch(e: Int) = (0 until 50).map { i =>
      (e * 100L + i, "U", s"r${i % 5}", s"p/$i", s"c$e-$i", "scala", s"content-$e-$i")
    }.toDF("lsn", "op", "repo", "path", "commit", "lang", "content")
    val k = 4
    val guarded = LakeTable.createIfNotExists(spark, tmpDir("mor-auto"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4,
      properties = Map("graft.mor.compactAfter" -> k.toString))
    val control = LakeTable.createIfNotExists(spark, tmpDir("mor-ctl"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val gEngine = new ReplayEngine(guarded, SchemaRegistry.single(RepoRow.schemaV1), mode = MergeMode.MoR)
    val cEngine = new ReplayEngine(control, SchemaRegistry.single(RepoRow.schemaV1), mode = MergeMode.MoR)
    val epochs = 16 // stands in for "1000 uncompacted epochs": the bound is
                    // per-epoch-invariant, so holding at every step = holding forever
    (0 until epochs).foreach { e =>
      val b = batch(e)
      assert(gEngine.applyEpoch(b, e).committed)
      assert(cEngine.applyEpoch(b, e).committed)
      val counts = deltasByBucket(guarded)
      assert(counts.values.forall(_ <= k),
        s"epoch $e: policy must keep every bucket at <= $k deltas, saw $counts")
    }
    // the control table's read amplification grows with epoch count — the
    // exact problem the policy bounds
    assert(deltasByBucket(control).values.max > k,
      s"control must accumulate: ${deltasByBucket(control)}")
    // both converge to the same state (compaction is a logical no-op)
    val g = guarded.read().orderBy("path").collect().map(_.toString).toSeq
    val c = control.read().orderBy("path").collect().map(_.toString).toSeq
    assert(g.nonEmpty && g == c, "policy must not change query results")
    // the fold is selective: only over-threshold buckets were rewritten, and
    // the epoch fence is untouched by the maintenance commits
    assert(guarded.snapshot.epochId == epochs - 1)
  }

  test("MoR with duplicates and deletes: tombstones win until a later upsert") {
    import spark.implicits._
    val table = LakeTable.createIfNotExists(spark, tmpDir("mor-d"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1), mode = MergeMode.MoR)
    def ev(lsn: Long, op: String, path: String, content: String) =
      (lsn, op, "r", path, s"c$lsn", "scala", content)
    engine.applyEpoch(Seq(ev(1, "I", "a", "a1"), ev(2, "I", "b", "b1"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content"), 0)
    engine.applyEpoch(Seq(ev(3, "D", "a", ""), ev(4, "U", "b", "b2"), ev(4, "U", "b", "b2"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content"), 1)
    val s1 = table.read().collect().map(r => r.getString(1) -> r.getString(4)).toMap
    assert(s1 == Map("b" -> "b2"), s"tombstone must hide 'a': $s1")
    engine.applyEpoch(Seq(ev(5, "I", "a", "a2"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content"), 2)
    val s2 = table.read().collect().map(r => r.getString(1) -> r.getString(4)).toMap
    assert(s2 == Map("a" -> "a2", "b" -> "b2"))
  }
}
