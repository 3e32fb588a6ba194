package graft

import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** Lake maintenance: time travel, compaction, vacuum. */
class MaintenanceSpec extends SparkSuite {

  private def build(nEpochs: Int): (LakeTable, gen.GenConfig) = {
    val cfg = gen.GenConfig(n = 4000L * nEpochs, nKeys = 800, numPartitions = 4)
    val table = LakeTable.createIfNotExists(spark, tmpDir("maint"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val all = gen.changeEvents(spark, cfg)
    (0 until nEpochs).foreach { e =>
      engine.applyEpoch(all.filter(col("lsn") >= e * 4000 && col("lsn") < (e + 1) * 4000), e)
    }
    (table, cfg)
  }

  test("time travel: every historical snapshot reads exactly; history is ordered") {
    val (table, cfg) = build(3)
    val hist = table.history()
    assert(hist == hist.sorted && hist.size == 4) // v0 (empty) + 3 epochs
    assert(table.readAt(hist.head).count() == 0)
    val counts = hist.map(v => table.readAt(v).count())
    assert(counts == counts.sorted, s"row counts should grow: $counts") // inserts dominate deletes here
    // as-of epoch 1 state equals replaying only epochs 0..1
    val cfg2 = cfg.copy(n = 8000)
    val expected = gen.oracleFinalState(cfg2)
    assert(table.readAt(hist(2)).count() == expected.size)
  }

  test("createView binds a snapshot: MVCC reads are stable across later commits") {
    val (table, _) = build(2)
    table.createView("mvcc_v")
    val before = spark.sql("SELECT count(*) FROM mvcc_v").collect()(0).getLong(0)
    // a later epoch commits more data; the bound view must NOT shift
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val more = gen.changeEvents(spark, gen.GenConfig(n = 12000, nKeys = 800, numPartitions = 4))
    assert(engine.applyEpoch(more.filter(col("lsn") >= 8000), 2).committed)
    assert(spark.sql("SELECT count(*) FROM mvcc_v").collect()(0).getLong(0) == before,
      "a view bound before the commit must keep reading its snapshot")
    // re-binding picks up the new state
    table.createView("mvcc_v")
    assert(spark.sql("SELECT count(*) FROM mvcc_v").collect()(0).getLong(0) > before)
  }

  test("compaction merges small files and preserves content exactly") {
    // small files accumulate on APPEND-shaped tables (audit/lineage/metrics);
    // merge tables rewrite whole buckets so they stay one file per bucket
    val table = LakeTable.createIfNotExists(spark, tmpDir("maint-app"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val all = gen.changeEvents(spark, gen.GenConfig(n = 9000, nKeys = 9000, deletePct = 0,
      numPartitions = 4))
    (0 until 3).foreach { e =>
      table.append(all.filter(col("lsn") >= e * 3000 && col("lsn") < (e + 1) * 3000)
        .drop("lsn", "op", "schema_version"))
    }
    val before = table.snapshot
    val rowsBefore = table.read().agg(sum(crc32(concat_ws("|", col("repo"), col("path"),
      sha2(col("content"), 256))))).collect()(0).getLong(0)
    assert(table.filesOf(before).groupBy(_.bucket).exists(_._2.size >= 2), "need multi-file buckets")
    val n = table.compact(minFiles = 2)
    assert(n > 0)
    val after = table.snapshot
    assert(table.filesOf(after).groupBy(_.bucket).forall(_._2.size == 1))
    val rowsAfter = table.read().agg(sum(crc32(concat_ws("|", col("repo"), col("path"),
      sha2(col("content"), 256))))).collect()(0).getLong(0)
    assert(rowsAfter == rowsBefore)
    assert(after.epochId == before.epochId, "compaction must not advance the epoch fence")
  }

  test("bucket manifests: full lifecycle round-trips and vacuum GCs manifest files") {
    // a small bucket count keeps the whole lifecycle cheap to exercise:
    // CoW epochs, MoR deltas, changesSince, compaction, time travel, reload
    // from disk, vacuum incl. manifest-file GC
    val cfg = gen.GenConfig(n = 9000, nKeys = 1500, deletePct = 10, numPartitions = 4)
    val root = tmpDir("chunked")
    val table = LakeTable.createIfNotExists(spark, root, "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val mor = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1),
      mode = MergeMode.MoR)
    val all = gen.changeEvents(spark, cfg)
    engine.applyEpoch(all.filter(col("lsn") < 3000), 0)
    val mark = table.snapshot.version
    mor.applyEpoch(all.filter(col("lsn") >= 3000 && col("lsn") < 6000), 1)
    // per-bucket manifests with their delta counts set
    val snap = table.snapshot
    assert(snap.manifests.nonEmpty, "data commits must write per-bucket manifests")
    assert(snap.manifests.exists(_.deltaFiles > 0), "MoR epoch must register delta manifests")
    // CDC-out across the manifests
    assert(table.changesSince(mark).count() > 0)
    engine.applyEpoch(all.filter(col("lsn") >= 6000), 2)
    table.compactDeltas()
    // golden vs the independent oracle
    val exp = gen.oracleFinalState(cfg)
    def golden(t: LakeTable): Unit = {
      val got = t.read().select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      assert(got.size == exp.size, s"got ${got.size}, expected ${exp.size}")
      exp.foreach { case (k, e) => assert(got.get(k).contains(gen.sha256Hex(e.content))) }
    }
    golden(table)
    // a FRESH handle (empty manifest cache) resolves from disk identically
    golden(LakeTable.load(spark, root, "t"))
    // time travel reads an older snapshot exactly
    assert(table.readAt(mark).count() > 0)
    // vacuum GCs unreferenced manifest JSONs along with snapshots/data
    val mBefore = java.nio.file.Files.list(java.nio.file.Paths.get(root, "meta", "m")).count()
    val (ms, fs) = table.vacuum(keepSnapshots = 1)
    assert(ms > 0 && fs > 0)
    val mAfter = java.nio.file.Files.list(java.nio.file.Paths.get(root, "meta", "m")).count()
    assert(mAfter < mBefore, "vacuum must delete unreferenced manifest files")
    assert(mAfter == table.snapshot.manifests.size.toLong)
    golden(table)
  }

  test("cluster: sorted bounded files per bucket; non-key range predicates skip files") {
    val cfg = gen.GenConfig(n = 12000, nKeys = 1500, numPartitions = 4)
    val root = tmpDir("cluster")
    val table = LakeTable.createIfNotExists(spark, root, "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val all = gen.changeEvents(spark, cfg)
    engine.applyEpoch(all.filter(col("lsn") < 6000), 0)
    engine.applyEpoch(all.filter(col("lsn") >= 6000), 1)
    val before = table.read().orderBy("repo", "path").collect().toSeq
    val filesBefore = table.filesOf(table.snapshot)
    // cluster by commit hash — a column unrelated to the bucket key
    val v = table.cluster(Seq("commit"), maxRowsPerFile = 100)
    val snap = table.snapshot
    assert(snap.version == v && snap.numBuckets == 4, "layout untouched")
    val files = table.filesOf(snap)
    assert(files.size > filesBefore.size && files.forall(_.kind == "base"),
      s"expected several bounded files per bucket, got ${files.size} (was ${filesBefore.size})")
    assert(files.forall(_.rows <= 100), "maxRowsPerFile must cap every file")
    // per-bucket files carry DISJOINT commit bounds (sorted contiguous runs)
    files.groupBy(_.bucket).foreach { case (b, fs) =>
      val bounds = fs.flatMap(f => f.stats.flatMap(_.get("commit"))
        .flatMap(cs => cs.min.zip(cs.max))).sortBy(_._1)
      assert(bounds.nonEmpty, s"bucket $b files must carry commit bounds")
      bounds.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"bucket $b bounds overlap: $hi > $lo2")
        case _ =>
      }
    }
    // logical no-op
    assert(table.read().orderBy("repo", "path").collect().toSeq == before)
    // a selective non-key equality now skips most files at planning time
    val probe = before.head.getAs[String]("commit")
    skipping.ScanStats.last.set(None)
    val (planned, _) = table.planScan(snap, Seq(org.apache.spark.sql.sources.EqualTo("commit", probe)))
    // the planned files still hold the probed row
    val hits = spark.read.parquet(planned.map(f => s"${table.root}/${f.path}"): _*)
      .where(col("commit") === probe).collect()
    assert(hits.nonEmpty)
    val Some((_, _, filesRead, filesTotal)) = skipping.ScanStats.last.get()
    // floor = one file per bucket (disjoint sorted runs -> the probe value
    // can live in at most one file of each bucket)
    assert(filesTotal == files.size && filesRead <= snap.numBuckets,
      s"clustered equality should skip to <= 1 file per bucket: read $filesRead of $filesTotal")
    // merges after clustering stay exact: per-row _lsn survived the rewrite
    val stamped = table.filesOf(snap).filter(_.rowLsn)
    assert(stamped.nonEmpty, "clustered base files must keep the row-lsn column")
    // SQL surface
    spark.conf.set("spark.sql.catalog.gcl", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcl.warehouse", tmpDir("cluster-wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcl.db")
    spark.sql("CREATE TABLE gcl.db.c (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='2')")
    spark.sql("INSERT INTO gcl.db.c SELECT id, concat('v', id % 50) FROM range(0, 5000)")
    val res = spark.sql(
      "CALL gcl.system.cluster(`table` => 'db.c', sort_by => 'v', max_rows_per_file => 500)")
    assert(res.collect()(0).getLong(0) > 0)
    assert(spark.sql("SELECT count(*) c FROM gcl.db.c WHERE v = 'v7'").collect()(0).getLong(0) == 100)
  }

  test("cluster-on-write policy: merges and compactions keep the sorted bounded layout") {
    val cfg = gen.GenConfig(n = 8000, nKeys = 1200, numPartitions = 4)
    val table = LakeTable.createIfNotExists(spark, tmpDir("clpol"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4,
      properties = Map("graft.cluster.by" -> "commit", "graft.cluster.maxRowsPerFile" -> "150"))
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val all = gen.changeEvents(spark, cfg)
    engine.applyEpoch(all.filter(col("lsn") < 4000), 0)
    engine.applyEpoch(all.filter(col("lsn") >= 4000), 1)
    // merge output honors the policy: capped sorted files, several per bucket
    val files = table.filesOf(table.snapshot)
    assert(files.forall(_.rows <= 150), s"policy cap violated: ${files.map(_.rows).max}")
    assert(files.groupBy(_.bucket).values.exists(_.size > 1), "expected split files")
    assert(files.forall(_.stats.exists(_.contains("commit"))), "sort-column bounds missing")
    // push buckets past their policy target with two appends, then compact:
    // it must rewrite under the policy (capped, per-bucket DISJOINT sorted
    // runs) and then CONVERGE — a bucket at its ceil(rows/cap) target is
    // done, so the next compact is a no-op instead of an eternal rewrite
    import spark.implicits._
    (0 until 2).foreach { a =>
      table.append((0 until 40).map(i =>
        (s"rx$i", s"px$i-$a", s"zz$a$i", "scala", "body")).toDF(
        RepoRow.schemaV1.fieldNames.toIndexedSeq: _*))
    }
    val before = table.read().orderBy("repo", "path").collect().toSeq
    assert(table.compact(minFiles = 2) > 0, "over-target buckets must compact")
    val after = table.filesOf(table.snapshot)
    assert(after.forall(_.rows <= 150) && after.forall(_.kind == "base"))
    after.groupBy(_.bucket).foreach { case (b, fs) =>
      val bounds = fs.flatMap(_.stats.flatMap(_.get("commit")).flatMap(cs => cs.min.zip(cs.max)))
        .sortBy(_._1)
      bounds.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"bucket $b overlap after compact")
        case _ =>
      }
    }
    assert(table.read().orderBy("repo", "path").collect().toSeq == before, "logical no-op")
    assert(table.compact(minFiles = 2) == 0, "compact must converge under the policy")
  }

  test("rebucket: 4 -> 128 flips layout+chunking, absorbs deltas, merge continues exactly") {
    val cfg = gen.GenConfig(n = 12000, nKeys = 1500, deletePct = 10, numPartitions = 4)
    val root = tmpDir("rebucket")
    val table = LakeTable.createIfNotExists(spark, root, "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val mor = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1),
      mode = MergeMode.MoR)
    val all = gen.changeEvents(spark, cfg)
    engine.applyEpoch(all.filter(col("lsn") < 4000), 0)
    val mark = table.snapshot.version // pre-delta snapshot, for the folded-loss check
    mor.applyEpoch(all.filter(col("lsn") >= 4000 && col("lsn") < 8000), 1)
    val before = table.snapshot
    assert(table.filesOf(before).exists(_.kind == "delta"), "setup must leave MoR deltas")
    // same-count rebucket is a no-op (no rewrite, no commit)
    assert(table.rebucket(4) == before.version)
    val v = table.rebucket(128)
    val snap = table.snapshot
    assert(v == before.version + 1 && snap.version == v)
    assert(snap.numBuckets == 128)
    assert(snap.epochId == before.epochId, "rebucket must not advance the epoch fence")
    assert(snap.manifests.nonEmpty && snap.manifests.map(_.bucket).forall(b => b >= 0 && b < 128),
      "the rewrite must write manifests under the new layout")
    val newFiles = table.filesOf(snap)
    assert(newFiles.nonEmpty && newFiles.forall(_.kind == "base"),
      "the rewrite must absorb outstanding deltas")
    assert(newFiles.forall(f => f.bucket >= 0 && f.bucket < 128))
    // absorbed deltas fold into the high-watermark: a feed older than the
    // fold must REFUSE (silent loss otherwise), the current feed stays fine
    assert(snap.foldedLsnHigh.exists(_ >= 7000L))
    intercept[Exception](table.changesSince(mark).count())
    assert(table.changesSince(snap.version).count() == 0)
    // fence intact: a replay of epoch 1 after the rebucket is a no-op
    assert(!mor.applyEpoch(all.filter(col("lsn") >= 4000 && col("lsn") < 8000), 1).committed)
    // merge continues on the new layout (CoW epoch over 128 buckets)
    engine.applyEpoch(all.filter(col("lsn") >= 8000), 2)
    val exp = gen.oracleFinalState(cfg)
    def golden(t: LakeTable): Unit = {
      val got = t.read().select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      assert(got.size == exp.size, s"got ${got.size}, expected ${exp.size}")
      exp.foreach { case (k, e) => assert(got.get(k).contains(gen.sha256Hex(e.content))) }
    }
    golden(table)
    // a fresh handle resolves the rebucketed table from disk identically
    golden(LakeTable.load(spark, root, "t"))
    // pre-rebucket snapshots still time-travel under their OLD layout
    assert(table.readAt(mark).count() > 0)
  }

  test("rebucket losing a commit race fails loudly; state intact, orphans swept, retry works") {
    val cfg = gen.GenConfig(n = 6000, nKeys = 900, deletePct = 10, numPartitions = 4)
    val root = tmpDir("rebucket-race")
    val table = LakeTable.createIfNotExists(spark, root, "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val all = gen.changeEvents(spark, cfg)
    engine.applyEpoch(all.filter(col("lsn") < 3000), 0)
    val s = table.snapshot
    val hashBefore = table.read().agg(sum(crc32(concat_ws("|", col("repo"), col("path"),
      sha2(col("content"), 256))))).collect()(0).getLong(0)
    // a concurrent writer claims the next manifest mid-commit-window, just
    // before the rebucket's own claim (the same simulation as
    // ConvergenceSpec's fail-if-exists test): the rebucket must LOSE —
    // loudly, never silently replacing the claim
    val vPath = java.nio.file.Paths.get(root, "meta", f"v${s.version + 1}%016d.json")
    val loser = new LakeTable(spark, root, "t", new RivalAtClaim(vPath,
      org.json4s.jackson.Serialization.write(s.copy(version = s.version + 1, epochId = 9))(
        org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints))))
    intercept[CommitConflictException](loser.rebucket(64))
    // the rival's claim stands as the committed v<N+1>; the table still reads
    // its data under the OLD layout, and the aborted rewrite's files are
    // mere orphans
    assert(table.snapshot.version == s.version + 1 && table.snapshot.epochId == 9 &&
      table.snapshot.numBuckets == 4)
    assert(table.read().agg(sum(crc32(concat_ws("|", col("repo"), col("path"),
      sha2(col("content"), 256))))).collect()(0).getLong(0) == hashBefore)
    // clear the simulated winner; vacuum sweeps the aborted rewrite's files
    java.nio.file.Files.delete(vPath)
    val (_, orphans) = table.vacuum(keepSnapshots = Int.MaxValue)
    assert(orphans > 0, "the failed rebucket's uncommitted files must sweep as orphans")
    // the retry succeeds, and a STALE pre-race engine handle merges on the
    // new layout straight to the oracle state
    assert(table.rebucket(64) == s.version + 1)
    engine.applyEpoch(all.filter(col("lsn") >= 3000), 1)
    val exp = gen.oracleFinalState(cfg)
    val got = table.read().select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got.size == exp.size, s"got ${got.size}, expected ${exp.size}")
    exp.foreach { case (k, e) => assert(got.get(k).contains(gen.sha256Hex(e.content))) }
  }

  test("4096-bucket manifests: commit is O(touched buckets), untouched refs carried by reference") {
    import org.json4s.NoTypeHints
    import org.json4s.jackson.Serialization
    implicit val fmts: org.json4s.Formats = Serialization.formats(NoTypeHints)
    val root = tmpDir("manifest-4k")
    val nb = 4096
    val table = LakeTable.createIfNotExists(spark, root, "big",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = nb)
    // synthesize the 100 TB envelope's metadata: 4096 per-bucket manifests of
    // 8 synthetic files each (32k files) referenced by a committed snapshot —
    // the data files never exist because this test never reads them
    val mDir = java.nio.file.Paths.get(root, "meta", "m")
    java.nio.file.Files.createDirectories(mDir)
    val refs = (0 until nb).map { b =>
      val files = (0 until 8).map(i => DataFile(
        s"data/seed/_b=$b/part-$i.parquet", b, 1000L, 1L << 20, 1, 0L, 99L, "base"))
      val rel = s"meta/m/seed-b$b.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(root, rel),
        Serialization.write(ManifestData(files)))
      ManifestRef(rel, b, 8, 0)
    }
    val cur = table.snapshot
    assert(table.commit(cur.copy(version = cur.version + 1, epochId = 0L, lsnHigh = 99L,
      manifests = refs)))
    // a sparse write touching a handful of buckets: commit must rewrite ONLY
    // those buckets' manifests and read none of the others
    val t2 = LakeTable.load(spark, root, "big") // fresh handle: cold manifest cache
    import spark.implicits._
    val tiny = Seq(
      ("rA", "p/1", "c1", "scala", "x1"),
      ("rB", "p/2", "c2", "scala", "x2"),
      ("rC", "p/3", "c3", "scala", "x3"))
      .toDF("repo", "path", "commit", "lang", "content")
    val t0 = System.nanoTime()
    val res = t2.append(tiny)
    val commitMs = (System.nanoTime() - t0) / 1e6
    assert(res.committed)
    val next = t2.snapshot
    assert(next.manifests.size == nb, s"every bucket keeps a manifest: ${next.manifests.size}")
    val prevPaths = refs.map(_.path).toSet
    val carried = next.manifests.count(m => prevPaths(m.path))
    val touched = nb - carried
    assert(touched <= 3, s"append of 3 rows may touch at most 3 buckets' manifests, touched $touched")
    assert(t2.manifestReads.get() <= 3,
      s"commit must read only touched manifests, read ${t2.manifestReads.get()}")
    // structural O(touched) is the real assertion; the wall clock is a
    // generous regression guard for accidental O(all-buckets) work
    assert(commitMs < 30000, s"sparse commit took ${commitMs}ms")
    info(f"4096-bucket sparse append commit: $commitMs%.0f ms, $touched touched manifests, " +
      s"${t2.manifestReads.get()} manifest reads")
  }

  test("distributed vacuum: 32k-file tree sweeps orphans in a Spark job, keeps referenced files") {
    val root = tmpDir("dvac")
    val nFiles = 32768
    val table = LakeTable.createIfNotExists(spark, root, "big",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    // synthesize the 100 TB envelope's data tree: 32k referenced (empty)
    // files spread over FOUR committed snapshot dirs (so the per-dir
    // referenced-slice shipping is observable), 2k orphans from a
    // "crashed" write
    val nSeedDirs = 4
    (0 until nSeedDirs).foreach { d =>
      val seed = java.nio.file.Paths.get(root, "data", s"seed$d")
      (0 until 8).foreach(b => java.nio.file.Files.createDirectories(seed.resolve(s"_b=$b")))
    }
    val refs = (0 until nFiles).map { i =>
      val f = DataFile(s"data/seed${i % nSeedDirs}/_b=${i % 8}/part-$i.parquet",
        i % 8, 10L, 1L, 1, 0L, 9L, "base")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(root, f.path))
      f
    }
    // the referenced set, as one manifest per bucket
    val manifests = refs.groupBy(_.bucket).toSeq.map { case (b, fs) =>
      val rel = s"meta/m/seed-b$b.json"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "meta", "m"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(root, rel),
        org.json4s.jackson.Serialization.write(ManifestData(fs))(
          org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)))
      ManifestRef(rel, b, fs.size, 0)
    }
    val cur = table.snapshot
    assert(table.commit(cur.copy(version = cur.version + 1, manifests = manifests)))
    val orphanDir = java.nio.file.Paths.get(root, "data", "crashed", "_b=0")
    java.nio.file.Files.createDirectories(orphanDir)
    val nOrphans = 2048
    (0 until nOrphans).foreach(i =>
      java.nio.file.Files.createFile(orphanDir.resolve(s"part-$i.parquet")))
    table.sweepThreshold = 0 // sweep in a Spark job at any size
    val t0 = System.nanoTime()
    val (_, removed) = table.vacuum(keepSnapshots = 1)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(removed == nOrphans, s"must remove exactly the orphans, removed $removed")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, refs.head.path)),
      "referenced files survive the sweep")
    assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, "data", "crashed")),
      "fully-orphaned data dirs are pruned")
    // latency guard: the sweep is one job over per-dir tasks, not a
    // driver-side walk of 34k paths followed by 2k serial deletes
    assert(ms < 30000, s"distributed sweep took $ms ms")
    info(f"distributed sweep over ${nFiles + nOrphans} files: $ms%.0f ms")
    // per-task payload bound: no task received more than ITS dir's slice
    // of the referenced set (the pre-fix full-set broadcast shipped all
    // 32k paths to every executor; at 10M+ files that is a
    // multi-hundred-MB object per executor)
    val maxTask = Vacuum.lastMaxTaskRefs.get()
    assert(maxTask == nFiles / nSeedDirs && maxTask < nFiles,
      s"largest per-task slice must be one dir's ${nFiles / nSeedDirs}, saw $maxTask")
  }

  test("age-based vacuum retention drops old snapshots; current always survives") {
    val (table, _) = build(2)
    assert(table.history().size == 3) // v0 + 2 epochs
    // everything is seconds old: a 1-day horizon removes nothing
    val (m0, _) = table.vacuum(java.time.Duration.ofDays(1))
    assert(m0 == 0 && table.history().size == 3)
    // a zero horizon keeps only the current snapshot
    val (m1, _) = table.vacuum(java.time.Duration.ZERO)
    assert(m1 > 0 && table.history().size == 1)
    assert(table.read().count() > 0, "the surviving current snapshot still reads")
  }

  test("formatVersion gate: snapshots above the supported format are refused loudly") {
    import spark.implicits._
    val root = tmpDir("fmtgate")
    val table = LakeTable.createIfNotExists(spark, root, "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 2)
    // simulate a FUTURE writer: bump the current manifest's formatVersion
    val v = table.currentVersionOpt.get
    val p = java.nio.file.Paths.get(root, "meta", f"v$v%016d.json")
    java.nio.file.Files.writeString(p, java.nio.file.Files.readString(p)
      .replace("\"formatVersion\":1", "\"formatVersion\":99"))
    val e = intercept[IllegalArgumentException] { LakeTable.load(spark, root, "t").snapshot }
    assert(e.getMessage.contains("formatVersion"), e.getMessage)
    // snapshots with manifests persist formatVersion 2 (manifests are a
    // format-2 feature) and read back fine; an empty create stays format 1
    val c = LakeTable.createIfNotExists(spark, tmpDir("fmt2"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 2)
    assert(c.snapshot.formatVersion == 1, "empty create carries no manifests yet")
    c.append(Seq(("r", "p", "c", "l", "x")).toDF("repo", "path", "commit", "lang", "content"))
    assert(c.snapshot.formatVersion == 2 && c.snapshot.manifests.nonEmpty)
    assert(c.read().count() == 1)
  }

  test("a snapshot that lists its data files inline is refused, never read as an empty table") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.{JsonMethods, Serialization}
    implicit val fmts: Formats = Serialization.formats(NoTypeHints)
    val root = tmpDir("inline-gate")
    val table = LakeTable.createIfNotExists(spark, root, "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 2)
    table.append(Seq(("r", "p", "c", "l", "x")).toDF("repo", "path", "commit", "lang", "content"))
    val cur = table.snapshot
    val files = table.filesOf(cur)
    assert(files.nonEmpty)
    // the next version as an earlier format-1 writer laid it out: the same
    // files listed inline in the snapshot, no manifest refs
    val inline = JsonMethods.parse(Serialization.write(cur.copy(version = cur.version + 1,
      formatVersion = 1, manifests = Nil))) merge JObject("files" -> Extraction.decompose(files))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "meta", f"v${cur.version + 1}%016d.json"),
      JsonMethods.compact(JsonMethods.render(inline)))
    val e = intercept[IllegalArgumentException](table.snapshotAt(cur.version + 1))
    assert(e.getMessage.contains("inline"), e.getMessage)
    // the inline snapshot is the newest version: loading the table refuses
    // it too, and so does every read of the current snapshot
    val e2 = intercept[IllegalArgumentException](LakeTable.load(spark, root, "t"))
    assert(e2.getMessage.contains("inline"), e2.getMessage)
    intercept[IllegalArgumentException](table.read())
    // an older snapshot without inline files still reads
    assert(table.readAt(cur.version).count() == 1)
  }

  test("committedAt stamps every commit; versionAt resolves timestamp time travel") {
    import spark.implicits._
    def row(p: String) = Seq(("r", p, "c", "l", "x")).toDF("repo", "path", "commit", "lang", "content")
    val table = LakeTable.createIfNotExists(spark, tmpDir("cts"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 2)
    val t0 = table.snapshot.committedAt.getOrElse(fail("create must be stamped"))
    table.append(row("a"))
    val v1 = table.snapshot.version
    val ts1 = table.snapshot.committedAt.get
    assert(ts1 >= t0)
    Thread.sleep(20)
    table.append(row("b"))
    val v2 = table.snapshot.version
    assert(table.versionAt(ts1) == v1, "largest version committed at or before ts1")
    assert(table.versionAt(System.currentTimeMillis()) == v2)
    val e = intercept[IllegalArgumentException] { table.versionAt(t0 - 3600000L) }
    assert(e.getMessage.contains("predates"), e.getMessage)
  }

  test("concurrent appends from independent handles: conflict losers retry, no rows lost") {
    import spark.implicits._
    val root = tmpDir("concapp")
    LakeTable.createIfNotExists(spark, root, "t", RepoRow.schemaV1, RepoRow.keyColumns,
      numBuckets = 4)
    def rows(tag: String) = (0 until 10).map(i => (s"r$tag", s"p$i", "c", "l", "x"))
      .toDF("repo", "path", "commit", "lang", "content")
    // two INDEPENDENT handles (separate commit locks) race on versions; the
    // loser of each optimistic claim must retry, not drop its rows
    val handles = Seq(LakeTable.load(spark, root, "t"), LakeTable.load(spark, root, "t"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = handles.zipWithIndex.map { case (h, i) =>
      new Thread(() => {
        try (0 until 4).foreach(j => assert(h.append(rows(s"$i-$j")).committed))
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must all land: ${errs.peek()}")
    val t = LakeTable.load(spark, root, "t")
    assert(t.read().count() == 80, "every append's rows survive the races")
    assert(t.snapshot.version == 8L, "8 appends = 8 committed versions")
  }

  test("per-source fence scope: engines sharing one audit table never fence each other out") {
    val shared = LakeTable.createIfNotExists(spark, tmpDir("sharedaudit"), "dq",
      quality.DataQualityChecks.schema, Seq("table_name", "check_name"), numBuckets = 2)
    def rows(tbl: String) = quality.DataQualityChecks.auditRows(spark,
      Seq(quality.CheckFailure("is_in_list", "lang", "warn", 3L)), tbl, jobId = 1, runId = 1)
    // engine A commits its epoch-5 audit rows first; B's LATER append for
    // epoch 3 must not be dropped by A's higher epoch (the pre-fix failure)
    assert(shared.append(rows("tableA"), epochId = 5L, fenceScope = Some("tableA")).committed)
    assert(shared.append(rows("tableB"), epochId = 3L, fenceScope = Some("tableB")).committed)
    // replaying an already-committed epoch of the SAME scope stays fenced
    assert(!shared.append(rows("tableA"), epochId = 5L, fenceScope = Some("tableA")).committed)
    assert(!shared.append(rows("tableB"), epochId = 2L, fenceScope = Some("tableB")).committed)
    // scoped appends leave the global epoch fence untouched
    assert(shared.snapshot.epochId == -1L)
    assert(shared.read().count() == 2)
  }

  test("vacuum removes unreferenced files and old manifests; current read unaffected") {
    val (table, _) = build(3)
    table.compact()
    val checksum = table.read().count()
    val (manifests, files) = table.vacuum(keepSnapshots = 1)
    assert(manifests > 0 && files > 0, s"removed ($manifests, $files)")
    assert(table.read().count() == checksum)
    assert(table.history().size == 1)
    // a second vacuum is a no-op
    val (m2, f2) = table.vacuum(keepSnapshots = 1)
    assert(m2 == 0 && f2 == 0)
  }
}
