package graft

import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._
import graft.cdc.quality._

/** Replay-convergence properties the north rule demands: the final state is
  * insensitive to intra-epoch ORDER and to event DUPLICATION (redelivery), the
  * quality gate aborts an epoch atomically, and concurrent commits conflict
  * cleanly. */
class ConvergenceSpec extends SparkSuite {

  private def stateHash(t: LakeTable): (Long, Long) = {
    val df = t.read()
    (df.count(), df.agg(sum(crc32(concat_ws("|", col("repo"), col("path"),
      sha2(col("content"), 256), col("commit"), col("lang"))))).collect()(0).getLong(0))
  }

  private def replayWith(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      cfg: gen.GenConfig, epochs: Int): LakeTable = {
    val table = LakeTable.createIfNotExists(spark, tmpDir("conv"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val all = gen.changeEvents(spark, cfg)
    val per = cfg.n / epochs
    (0 until epochs).foreach { e =>
      val slice = all.filter(col("lsn") >= e * per && col("lsn") < (e + 1) * per)
      engine.applyEpoch(transform(slice), e)
    }
    table
  }

  test("order-insensitive: shuffled event order within each epoch converges identically") {
    val cfg = gen.GenConfig(n = 9000, nKeys = 1500, numPartitions = 4)
    val base = replayWith(identity, cfg, 3)
    val shuffled = replayWith(df => df.orderBy(xxhash64(col("lsn"), lit(99L))).repartition(7), cfg, 3)
    assert(stateHash(base) == stateHash(shuffled))
  }

  test("duplication-insensitive: redelivered events within an epoch converge identically") {
    val cfg = gen.GenConfig(n = 9000, nKeys = 1500, numPartitions = 4)
    val base = replayWith(identity, cfg, 3)
    // redeliver ~40% of each epoch's events twice more, in arbitrary order
    val duplicated = replayWith({ df =>
      val dups = df.filter(pmod(xxhash64(col("lsn"), lit(7L)), lit(5)) < 2)
      df.unionAll(dups).unionAll(dups).orderBy(xxhash64(col("lsn"), lit(13L)))
    }, cfg, 3)
    assert(stateHash(base) == stateHash(duplicated))
  }

  test("quality gate aborts the epoch atomically; the fixed batch then applies") {
    import spark.implicits._
    val table = LakeTable.createIfNotExists(spark, tmpDir("gate"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val gate = new QualityGate(Seq(
      Check("lang_allowed", "lang", Criticality.Error,
        col("lang").isNotNull && !col("lang").isin("scala", "py"))))
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1), gate = Some(gate))
    val bad = Seq((1L, "U", "r", "p1", "c", "scala", "x"), (2L, "U", "r", "p2", "c", "COBOL", "y"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content")
    intercept[QualityGateError] { engine.applyEpoch(bad, 0) }
    assert(table.snapshot.epochId == -1 && table.read().count() == 0, "abort must leave zero state")
    val good = bad.filter(col("lang") === "scala")
    val r = engine.applyEpoch(good, 0)
    assert(r.committed && table.read().count() == 1)
  }

  test("property: replay equals the oracle for randomized generator configs") {
    import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}
    val cfgGen = for {
      n <- SGen.choose(2000L, 6000L)
      keys <- SGen.choose(200L, 2000L)
      del <- SGen.choose(0, 40)
      epochs <- SGen.choose(1, 5)
      buckets <- SGen.oneOf(2, 4, 8)
    } yield (gen.GenConfig(n = n, nKeys = keys, deletePct = del, numPartitions = 4), epochs, buckets)
    val prop = Prop.forAllNoShrink(cfgGen) { case (cfg, epochs, buckets) =>
      val table = LakeTable.createIfNotExists(spark, tmpDir("prop"), "t",
        RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = buckets)
      val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
      val all = gen.changeEvents(spark, cfg)
      val per = (cfg.n + epochs - 1) / epochs
      (0 until epochs).foreach { e =>
        engine.applyEpoch(all.filter(col("lsn") >= e * per && col("lsn") < (e + 1) * per), e)
      }
      val got = table.read()
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      val exp = gen.oracleFinalState(cfg)
      got.size == exp.size && exp.forall { case (k, e) =>
        got.get(k).contains(gen.sha256Hex(e.content))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: random cross-epoch REDELIVERY (delete-free) converges via stored row LSNs") {
    import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}
    // deletePct = 0: with no tombstones, the stored row _lsn makes replay
    // robust to ARBITRARY stale redelivery into later epochs without any
    // upstream dedup — the oracle is the plain final state. (Deleted-key
    // anti-resurrection is the dedup watermark's contract, tested in q41.)
    val cfgGen = for {
      n <- SGen.choose(2000L, 5000L)
      keys <- SGen.choose(200L, 1500L)
      epochs <- SGen.choose(2, 5)
      mod <- SGen.choose(3, 11) // every mod-th earlier event redelivers
      mode <- SGen.oneOf(MergeMode.CoW, MergeMode.MoR)
    } yield (gen.GenConfig(n = n, nKeys = keys, deletePct = 0, numPartitions = 4),
      epochs, mod, mode)
    val prop = Prop.forAllNoShrink(cfgGen) { case (cfg, epochs, mod, mode) =>
      val table = LakeTable.createIfNotExists(spark, tmpDir("redeliver"), "t",
        RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
      val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1), mode = mode)
      val all = gen.changeEvents(spark, cfg)
      val per = (cfg.n + epochs - 1) / epochs
      (0 until epochs).foreach { e =>
        val fresh = all.filter(col("lsn") >= e * per && col("lsn") < (e + 1) * per)
        val stale = all.filter(col("lsn") < e * per && pmod(col("lsn"), lit(mod)) === 0)
        engine.applyEpoch(fresh.unionByName(stale), e)
      }
      if (mode == MergeMode.MoR) table.compactDeltas()
      val got = table.read()
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      val exp = gen.oracleFinalState(cfg)
      got.size == exp.size && exp.forall { case (k, e) =>
        got.get(k).contains(gen.sha256Hex(e.content))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: random maintenance interleavings mid-replay never change the state") {
    import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}
    // every maintenance op is CONTRACTUALLY a logical no-op; this fuzzes
    // arbitrary interleavings of them into a live replay (the shape a real
    // operator produces: compactions and re-layouts racing the stream) and
    // requires byte-exact convergence to the pure-replay oracle
    val cfgGen = for {
      n <- SGen.choose(2000L, 5000L)
      keys <- SGen.choose(200L, 1200L)
      del <- SGen.choose(0, 30)
      epochs <- SGen.choose(2, 4)
      ops <- SGen.listOfN(4, SGen.choose(0, 5)) // op slot after each epoch
      mode <- SGen.oneOf(MergeMode.CoW, MergeMode.MoR)
      cap <- SGen.oneOf(100L, 400L)
    } yield (gen.GenConfig(n = n, nKeys = keys, deletePct = del, numPartitions = 4),
      epochs, ops, mode, cap)
    val prop = Prop.forAllNoShrink(cfgGen) { case (cfg, epochs, ops, mode, cap) =>
      val table = LakeTable.createIfNotExists(spark, tmpDir("maintfuzz"), "t",
        RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
      val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1), mode = mode)
      val all = gen.changeEvents(spark, cfg)
      val per = (cfg.n + epochs - 1) / epochs
      (0 until epochs).foreach { e =>
        engine.applyEpoch(all.filter(col("lsn") >= e * per && col("lsn") < (e + 1) * per), e)
        ops(e) match {
          case 1 => table.compact(); ()
          case 2 => table.compactDeltas(); ()
          case 3 => table.cluster(Seq("commit"), maxRowsPerFile = cap); ()
          case 4 => table.rebucket(if (table.snapshot.numBuckets == 4) 16 else 4); ()
          case 5 => table.vacuum(keepSnapshots = 1); ()
          case _ => ()
        }
      }
      if (mode == MergeMode.MoR) table.compactDeltas()
      val got = table.read()
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      val exp = gen.oracleFinalState(cfg)
      got.size == exp.size && exp.forall { case (k, e) =>
        got.get(k).contains(gen.sha256Hex(e.content))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: MIXED CoW/MoR epochs converge to the oracle (CoW merges fold outstanding deltas)") {
    import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}
    val cfgGen = for {
      n <- SGen.choose(2000L, 5000L)
      keys <- SGen.choose(200L, 1500L)
      del <- SGen.choose(0, 40)
      epochs <- SGen.choose(2, 5)
      modes <- SGen.listOfN(epochs, SGen.oneOf(true, false)) // true = MoR epoch
      compactAtEnd <- SGen.oneOf(true, false)
    } yield (gen.GenConfig(n = n, nKeys = keys, deletePct = del, numPartitions = 4),
      modes, compactAtEnd)
    val prop = Prop.forAllNoShrink(cfgGen) { case (cfg, modes, compactAtEnd) =>
      val table = LakeTable.createIfNotExists(spark, tmpDir("prop-mixed"), "t",
        RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
      val reg = SchemaRegistry.single(RepoRow.schemaV1)
      val cow = new ReplayEngine(table, reg, mode = MergeMode.CoW)
      val mor = new ReplayEngine(table, reg, mode = MergeMode.MoR)
      val all = gen.changeEvents(spark, cfg)
      val epochs = modes.size
      val per = (cfg.n + epochs - 1) / epochs
      modes.zipWithIndex.foreach { case (isMor, e) =>
        val eng = if (isMor) mor else cow
        eng.applyEpoch(all.filter(col("lsn") >= e * per && col("lsn") < (e + 1) * per), e)
      }
      if (compactAtEnd) table.compactDeltas()
      val got = table.read()
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      val exp = gen.oracleFinalState(cfg)
      got.size == exp.size && exp.forall { case (k, e) =>
        got.get(k).contains(gen.sha256Hex(e.content))
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("optimistic concurrency: losing a commit race is rejected, state intact") {
    val root = tmpDir("race")
    val a = LakeTable.createIfNotExists(spark, root, "t", RepoRow.schemaV1, RepoRow.keyColumns, 4)
    val b = LakeTable.load(spark, root, "t")
    val s = a.snapshot
    assert(a.commit(s.copy(version = s.version + 1, epochId = 0)))
    // the stale writer is stopped by the version check (or, if it raced past
    // it, by the fail-if-exists claim of the existing manifest -> CommitConflict)
    val e = intercept[Exception] { b.commit(s.copy(version = s.version + 1, epochId = 1)) }
    assert(e.isInstanceOf[CommitConflictException] || e.isInstanceOf[IllegalArgumentException],
      e.toString)
    assert(b.snapshot.epochId == 0, "winner's commit must stand")
  }

  test("commit race INSIDE the version-check window raises CommitConflict (fail-if-exists claim)") {
    // Simulate the race where both writers pass the version pre-check before
    // either claims the manifest: the winner's v<N+1>.json appears AFTER the
    // loser read the current version but BEFORE its claim (the loser's store
    // plants it at the claim step). The hard-link claim must refuse to
    // replace it (ATOMIC_MOVE silently would — the round-1 bug), so the
    // loser gets CommitConflictException, not data loss.
    val root = tmpDir("race-window")
    val t = LakeTable.createIfNotExists(spark, root, "t", RepoRow.schemaV1, RepoRow.keyColumns, 4)
    val s = t.snapshot
    val winner = s.copy(version = s.version + 1, epochId = 7)
    val vPath = java.nio.file.Paths.get(root, "meta", f"v${s.version + 1}%016d.json")
    val loser = new LakeTable(spark, root, "t", new RivalAtClaim(vPath,
      org.json4s.jackson.Serialization.write(winner)(
        org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints))))
    intercept[CommitConflictException] {
      loser.commit(s.copy(version = s.version + 1, epochId = 1))
    }
    // the winner's manifest content is untouched
    assert(loser.snapshotAt(s.version + 1).epochId == 7)
  }
}
