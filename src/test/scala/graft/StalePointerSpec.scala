package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.connector.catalog.Identifier

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** `_CURRENT` is a hint, not the truth: the claim of `v<N>.json` is the
  * commit point. A crash between the claim and the pointer move must leave
  * a table that every reader and writer sees at the claimed version. */
class StalePointerSpec extends SparkSuite {

  test("a claim whose pointer move was lost is committed; a lost _CURRENT hides nothing") {
    import spark.implicits._
    val cfg = gen.GenConfig(n = 6000, nKeys = 900, numPartitions = 4)
    val wh = tmpDir("stale-ptr")
    val root = s"$wh/db/t"
    val table = LakeTable.createIfNotExists(spark, root, "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val all = gen.changeEvents(spark, cfg)
    def epoch(e: Int) = all.filter(col("lsn") >= e * 2000 && col("lsn") < (e + 1) * 2000)
    new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1)).applyEpoch(epoch(0), 0)
    val n = table.snapshot.version
    // epoch 1 claims v<N+1>, then the pointer is put back: the on-disk state
    // of a crash between the claim and the pointer move
    val ptr = Paths.get(root, "meta", "_CURRENT")
    val stale = Files.readString(ptr)
    new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1)).applyEpoch(epoch(1), 1)
    Files.writeString(ptr, stale)

    val reloaded = LakeTable.load(spark, root, "t")
    assert(reloaded.snapshot.version == n + 1 && reloaded.snapshot.epochId == 1,
      "readers roll forward from the stale hint to the claimed version")
    val engine = new ReplayEngine(reloaded, SchemaRegistry.single(RepoRow.schemaV1))
    assert(!engine.applyEpoch(epoch(1), 1).committed, "the claimed epoch replays as a fenced no-op")
    // the next append commits on its first attempt: one claim, no conflict
    // swallowed by append's retry loop
    val store = new HookedStore
    val extra = Seq(("stale/ptr", "extra.md", "c0", "md", "x")).toDF("repo", "path", "commit", "lang", "content")
    val res = new LakeTable(spark, root, "t", store).append(extra)
    assert(res.committed && res.snapshot.version == n + 2)
    assert(store.steps.count(_ == "putIfAbsent") == 1, store.steps.mkString(", "))
    assert(engine.applyEpoch(epoch(2), 2).committed, "the next epoch commits")
    val exp = gen.oracleFinalState(cfg)
    val got = reloaded.read().select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got - (("stale/ptr", "extra.md")) == exp.map { case (k, e) => k -> gen.sha256Hex(e.content) })
    assert(got.get(("stale/ptr", "extra.md")).contains(gen.sha256Hex("x")))

    // without the hint, the table is still a table to every lookup
    Files.delete(ptr)
    val cat = new graft.sql.GraftCatalog
    cat.initialize("stale", new CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
    assert(LakeTable.exists(root))
    assert(cat.tableExists(Identifier.of(Array("db"), "t")))
    assert(cat.listTables(Array("db")).toSeq == Seq(Identifier.of(Array("db"), "t")))
    assert(LakeTable.load(spark, root, "t").snapshot.version == n + 3)
  }
}
