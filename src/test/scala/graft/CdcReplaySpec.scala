package graft

import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** Golden-state replay: the end-to-end correctness gate of the north rule.
  * Deterministic seeded change stream -> multi-epoch replay -> row-by-row
  * sha256(content) equality vs an independent driver-side oracle; plus
  * exactly-once (epoch fence) and resume-from-checkpoint equivalence. */
class CdcReplaySpec extends SparkSuite {

  private def replay(root: String, cfg: gen.GenConfig, epochs: Int,
      fromEpoch: Int = 0, ledgerDir: Option[String] = None): LakeTable = {
    val table = LakeTable.createIfNotExists(spark, root, "repo_files",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1),
      ledger = ledgerDir.map(new CheckpointLedger(_)))
    val all = gen.changeEvents(spark, cfg)
    val perEpoch = cfg.n / epochs
    (fromEpoch until epochs).foreach { e =>
      val lo = e * perEpoch
      val hi = if (e == epochs - 1) cfg.n else (e + 1) * perEpoch
      engine.applyEpoch(all.filter(col("lsn") >= lo && col("lsn") < hi), e)
    }
    table
  }

  private def assertGolden(table: LakeTable, cfg: gen.GenConfig): Unit = {
    val got = table.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"),
        col("commit"), col("lang"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    val expected = gen.oracleFinalState(cfg)
    assert(got.size == expected.size,
      s"row count: got ${got.size}, expected ${expected.size}")
    expected.foreach { case (k, e) =>
      val g = got.getOrElse(k, fail(s"missing key $k"))
      assert(g._1 == gen.sha256Hex(e.content), s"content sha mismatch for $k")
      assert(g._2 == e.commit && g._3 == e.lang, s"payload mismatch for $k")
    }
  }

  test("applyEpoch with and without knownInputCount: identical lineage, metrics and committed buckets") {
    val cfg = gen.GenConfig(n = 8000, nKeys = 1200, numPartitions = 4)
    val all = gen.changeEvents(spark, cfg)
    val exp = gen.oracleFinalState(cfg)
    /** Per epoch: lineage rows (committed_at dropped), metrics counts, and
      * the buckets whose files the commit changed. */
    def run(mode: MergeMode, hint: Boolean) = {
      val t = LakeTable.createIfNotExists(spark, tmpDir(s"hint-$mode-$hint"), "repo_files",
        RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
      val eng = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1), mode = mode)
      val epochs = (0 until 2).map { e =>
        val before = t.filesOf(t.snapshot)
        // 4000 events into 8 buckets: a dense-sized epoch, every bucket touched
        val r = eng.applyEpoch(all.filter(col("lsn") >= e * 4000 && col("lsn") < (e + 1) * 4000), e,
          knownInputCount = if (hint) Some(4000L) else None)
        assert(r.committed)
        val after = t.filesOf(t.snapshot)
        val (b, a) = (before.map(_.path).toSet, after.map(_.path).toSet)
        val changed = (after.filterNot(f => b(f.path)) ++ before.filterNot(f => a(f.path))).map(_.bucket).toSet
        val m = r.metrics
        assert(m.events_in == 4000L && m.events_applied == r.lineage.map(l => l.rows_upserted + l.rows_deleted).sum)
        (r.lineage.map(_.copy(committed_at = null)).sortBy(_.partition),
          (m.events_in, m.events_deduped, m.events_applied), changed)
      }
      if (mode == MergeMode.MoR) t.compactDeltas()
      val got = t.read().select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      assert(got.size == exp.size)
      exp.foreach { case (k, e) => assert(got.get(k).contains(gen.sha256Hex(e.content))) }
      epochs
    }
    for (mode <- Seq(MergeMode.CoW, MergeMode.MoR)) {
      val (hinted, plain) = (run(mode, hint = true), run(mode, hint = false))
      hinted.zip(plain).zipWithIndex.foreach { case ((h, p), e) =>
        assert(h._1 == p._1, s"$mode epoch $e: lineage rows differ")
        assert(h._2 == p._2, s"$mode epoch $e: metrics counts differ")
        assert(h._3 == p._3, s"$mode epoch $e: committed bucket sets differ")
      }
      // lineage counts per-key winners, so the batch's redeliveries show as deduped
      assert(hinted.forall(_._2._2 > 0), s"$mode: events_deduped must count the batch's superseded events")
    }
  }

  test("gate on the stats pre-pass: a clean gated dense epoch runs 2 Spark jobs; errors abort pre-write") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val cols = Seq(
      ColumnDef("repo", StringType, nullable = false, isPrimaryKey = true),
      ColumnDef("path", StringType, nullable = false, isPrimaryKey = true),
      ColumnDef("commit", StringType),
      ColumnDef("lang", StringType, qualityRule =
        Some(QualityRule(Criticality.Error, allowedValues = Some(Seq("scala", "java"))))),
      ColumnDef("content", StringType))
    val gate = new quality.QualityGate(quality.Check.fromColumns(cols))
    val table = LakeTable.createIfNotExists(spark, tmpDir("fgate"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val audit = LakeTable.createIfNotExists(spark, tmpDir("fgate-audit"), "dq",
      quality.DataQualityChecks.schema, Seq("table_name", "check_name"), numBuckets = 2)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1),
      gate = Some(gate), auditTable = Some(audit))
    val n = 256 // 64 events per bucket: a dense-sized epoch
    def batch(lsn0: Long, badLang: Boolean) =
      (0 until n).map { i =>
        val lang = if (badLang && i % 16 == 0) "cobol" else "scala"
        (lsn0 + i, "U", s"r${i % 7}", s"p/$i", s"c$i", lang, s"content-$i")
      }.toDF("lsn", "op", "repo", "path", "commit", "lang", "content")

    // 2 jobs per clean gated epoch: the stats pre-pass, which also sums the
    // gate's violation counts, and the write — no separate gate scan. AQE
    // is pinned off for the measurement: it submits each shuffle map stage
    // as its own job, which would count the SAME single pass twice.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = engine.applyEpoch(batch(0, badLang = false), 0, knownInputCount = Some(n.toLong))
      assert(r.committed)
      // the listener bus is async: poll until the job count is stable
      var last = -1; var stableFor = 0
      while (stableFor < 5) {
        val c = jobs.get()
        if (c == last) stableFor += 1 else { stableFor = 0; last = c }
        Thread.sleep(100)
      }
      assert(jobs.get() == 2, s"clean gated dense epoch must be 2 Spark jobs, saw ${jobs.get()}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }

    // error-level failures: totalled by the stats pre-pass, abort BEFORE
    // the write — zero committed state, audit rows persisted
    val vBefore = table.snapshot.version
    intercept[quality.QualityGateError] {
      engine.applyEpoch(batch(1000, badLang = true), 1, knownInputCount = Some(n.toLong))
    }
    assert(table.snapshot.version == vBefore, "error abort must leave zero committed state")
    val auditRows = audit.read().filter(col("criticality") === "error").collect()
    assert(auditRows.nonEmpty, "error failures must be audited before the abort")
    assert(auditRows.map(_.getAs[Long]("failed_rows")).sum == n / 16)

    // the corrected batch then applies
    val ok = engine.applyEpoch(batch(1000, badLang = false), 1, knownInputCount = Some(n.toLong))
    assert(ok.committed)
    assert(table.read().count() == n)
  }

  test("an error-level gate failure on a dense-sized CoW or MoR epoch writes no data file") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val gate = new quality.QualityGate(quality.Check.fromColumns(Seq(
      ColumnDef("repo", StringType, nullable = false, isPrimaryKey = true),
      ColumnDef("path", StringType, nullable = false, isPrimaryKey = true),
      ColumnDef("lang", StringType, qualityRule =
        Some(QualityRule(Criticality.Error, allowedValues = Some(Seq("scala", "java"))))))))
    val n = 256 // 64 events per bucket: a dense-sized epoch
    def batch(lsn0: Long, badLang: Boolean) =
      (0 until n).map { i =>
        val lang = if (badLang && i % 16 == 0) "cobol" else "scala"
        (lsn0 + i, "U", s"r${i % 7}", s"p/$i", s"c$i", lang, s"content-$i")
      }.toDF("lsn", "op", "repo", "path", "commit", "lang", "content")
    def dataListing(t: LakeTable): Set[String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data"))
      try w.toArray.map(_.toString).toSet finally w.close()
    }
    for (mode <- Seq(MergeMode.CoW, MergeMode.MoR)) {
      val t = LakeTable.createIfNotExists(spark, tmpDir(s"gate-nowrite-$mode"), "t",
        RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
      val engine = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1),
        gate = Some(gate), mode = mode)
      assert(engine.applyEpoch(batch(0, badLang = false), 0, knownInputCount = Some(n.toLong)).committed)
      val (listing, version) = (dataListing(t), t.snapshot.version)
      intercept[quality.QualityGateError] {
        engine.applyEpoch(batch(1000, badLang = true), 1, knownInputCount = Some(n.toLong))
      }
      assert(t.snapshot.version == version, s"$mode: the abort must commit nothing")
      assert(dataListing(t) == listing, s"$mode: the abort must leave data/ unchanged")
    }
  }

  test("quarantine-attached FAILING epoch: stats pre-pass + 2 small appends on the cache + merge (4 jobs)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val cols = Seq(
      ColumnDef("repo", StringType, nullable = false, isPrimaryKey = true),
      ColumnDef("path", StringType, nullable = false, isPrimaryKey = true),
      ColumnDef("commit", StringType),
      ColumnDef("lang", StringType, qualityRule =
        Some(QualityRule(Criticality.Warn, allowedValues = Some(Seq("scala", "java"))))),
      ColumnDef("content", StringType))
    val gate = new quality.QualityGate(quality.Check.fromColumns(cols))
    val table = LakeTable.createIfNotExists(spark, tmpDir("qbudget"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val audit = LakeTable.createIfNotExists(spark, tmpDir("qbudget-audit"), "dq",
      quality.DataQualityChecks.schema, Seq("table_name", "check_name"), numBuckets = 2)
    val quarantineSchema = StructType(Seq(
      StructField("lsn", LongType, nullable = false),
      StructField("epoch", LongType, nullable = false),
      StructField("repo", StringType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("lang", StringType),
      StructField("_warnings", StringType)))
    val quarantine = LakeTable.createIfNotExists(spark, tmpDir("qbudget-q"), "qr",
      quarantineSchema, Seq("lsn"), numBuckets = 2)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1),
      gate = Some(gate), auditTable = Some(audit), quarantineTable = Some(quarantine))
    val n = 256
    val batch = (0 until n).map { i =>
      val lang = if (i % 16 == 0) "cobol" else "scala" // seeded warn failures
      (i.toLong, "U", s"r${i % 7}", s"p/$i", s"c$i", lang, s"content-$i")
    }.toDF("lsn", "op", "repo", "path", "commit", "lang", "content")

    // explicit job budget: 1 stats pre-pass (gate sums + cache-populating)
    // + 1 audit append + 1 quarantine append and 1 merge write, both
    // reading the CACHED batch — the round-3 dirty path paid a second full
    // source scan here
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = engine.applyEpoch(batch, 0, knownInputCount = Some(n.toLong))
      assert(r.committed, "warn-only failures must still commit")
      var last = -1; var stableFor = 0
      while (stableFor < 5) {
        val c = jobs.get()
        if (c == last) stableFor += 1 else { stableFor = 0; last = c }
        Thread.sleep(100)
      }
      assert(jobs.get() == 4,
        s"failure-bearing quarantine epoch budget is 4 Spark jobs, saw ${jobs.get()}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
    assert(table.read().count() == n)
    assert(quarantine.read().count() == n / 16, "every failing row lands in quarantine")
    assert(audit.read().filter(col("criticality") === "warn").count() == 1)
  }

  test("row-level LSN: stale cross-epoch redeliveries cannot regress existing keys") {
    import spark.implicits._
    def batch(rows: Seq[(Long, String, String, String, String)]) =
      rows.map { case (lsn, op, path, c, content) => (lsn, op, "r1", path, c, "scala", content) }
        .toDF("lsn", "op", "repo", "path", "commit", "lang", "content")
    // CoW: epoch 0 applies K@10 (content A); epoch 1 REDELIVERS K@5 (stale
    // B). Base rows re-enter the merge at their stored row LSN, so the
    // stale event loses — pre row-LSN, base rows raced at -1 and B won.
    val t1 = LakeTable.createIfNotExists(spark, tmpDir("rowlsn-cow"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    assert(t1.merge(batch(Seq((10L, "U", "K", "c10", "A"), (11L, "U", "L", "c11", "x"))), 0).committed)
    assert(t1.merge(batch(Seq((5L, "U", "K", "c5", "B"), (12L, "U", "M", "c12", "y"))), 1).committed)
    def k(t: LakeTable) = t.read().filter(col("path") === "K")
      .select("content").collect()(0).getString(0)
    assert(k(t1) == "A", s"stale K@5 must lose to the stored row LSN 10")
    assert(t1.read().count() == 3)
    // MoR: a stale delta below the base row's LSN loses at read time AND
    // the resolution survives compaction
    val t2 = LakeTable.createIfNotExists(spark, tmpDir("rowlsn-mor"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    assert(t2.merge(batch(Seq((10L, "U", "K", "c10", "A"))), 0).committed)
    assert(t2.deltaAppend(batch(Seq((5L, "U", "K", "c5", "B"), (20L, "U", "L", "c20", "z"))), 1).committed)
    assert(k(t2) == "A", "stale MoR delta must lose to the stored base row LSN")
    t2.compactDeltas()
    assert(k(t2) == "A", "compaction must preserve the stored-LSN resolution")
    // the system column never leaks through public reads
    assert(!t1.read().columns.contains("_lsn") && !t2.read().columns.contains("_lsn"))
  }

  test("multi-epoch replay converges to the oracle final state (sha256 row equality)") {
    val cfg = gen.GenConfig(n = 20000, nKeys = 3000, numPartitions = 8)
    val table = replay(tmpDir("lake"), cfg, epochs = 5)
    assertGolden(table, cfg)
    // lineage sanity: snapshot per committed epoch, monotone lsnHigh
    assert(table.snapshot.epochId == 4)
    assert(table.snapshot.lsnHigh == cfg.n - 1)
  }

  test("exactly-once: re-applying a committed epoch is a fenced no-op") {
    val cfg = gen.GenConfig(n = 5000, nKeys = 800, numPartitions = 4)
    val root = tmpDir("lake")
    val table = replay(root, cfg, epochs = 4)
    val vBefore = table.snapshot.version
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    val all = gen.changeEvents(spark, cfg)
    // replay epochs 0..3 again, in order and out of order
    Seq(2, 0, 3, 1).foreach { e =>
      val r = engine.applyEpoch(all.filter(col("lsn") < 1250 * (e + 1) && col("lsn") >= 1250 * e), e)
      assert(!r.committed, s"epoch $e must be fenced")
    }
    assert(table.snapshot.version == vBefore)
    assertGolden(table, cfg)

    // an UNFENCED ad-hoc merge (epochId = -1) must carry the fence forward,
    // not regress it — otherwise the fenced replays above would re-apply
    import org.apache.spark.sql.functions.lit
    val adhoc = all.filter(col("lsn") < 10)
      .select(lit(999999L).as("lsn"), lit("U").as("op"),
        lit("rX").as("repo"), lit("pX").as("path"),
        col("commit"), col("lang"), col("content"))
    assert(table.merge(adhoc, epochId = -1L).committed, "unfenced merge must apply")
    assert(table.snapshot.epochId == 3L, "unfenced merge must not regress the epoch fence")
    val again = engine.applyEpoch(all.filter(col("lsn") < 1250), 0)
    assert(!again.committed, "committed epochs must stay fenced after an unfenced merge")
  }

  test("resume from checkpoint: restart mid-stream reconverges to the same state") {
    val cfg = gen.GenConfig(n = 12000, nKeys = 2000, numPartitions = 8)
    val root = tmpDir("lake")
    val ledgerDir = tmpDir("ledger")
    // first run: only epochs 0..2 of 6 (simulated crash)
    val t1 = LakeTable.createIfNotExists(spark, root, "repo_files",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val ledger = new CheckpointLedger(ledgerDir)
    val engine1 = new ReplayEngine(t1, SchemaRegistry.single(RepoRow.schemaV1), ledger = Some(ledger))
    val all = gen.changeEvents(spark, cfg)
    (0 until 3).foreach { e =>
      engine1.applyEpoch(all.filter(col("lsn") >= e * 2000 && col("lsn") < (e + 1) * 2000), e)
    }
    assert(ledger.read().lastEpoch == 2)
    // "restart": new table handle + engine, resume from ledger, replay an
    // overlapping range (epochs 1..5) — fence makes the overlap harmless
    val t2 = LakeTable.load(spark, root, "repo_files")
    val engine2 = new ReplayEngine(t2, SchemaRegistry.single(RepoRow.schemaV1), ledger = Some(ledger))
    (1 until 6).foreach { e =>
      engine2.applyEpoch(all.filter(col("lsn") >= e * 2000 && col("lsn") < (e + 1) * 2000), e)
    }
    assertGolden(t2, cfg)
    assert(ledger.read().lastEpoch == 5)
  }

  test("replay is chunking-insensitive: 2 epochs vs 7 epochs yield identical state") {
    val cfg = gen.GenConfig(n = 7000, nKeys = 1200, numPartitions = 4)
    val a = replay(tmpDir("lakeA"), cfg, epochs = 2)
    val b = replay(tmpDir("lakeB"), cfg, epochs = 7)
    val ha = a.read().agg(sum(crc32(concat_ws("|", col("repo"), col("path"),
      sha2(col("content"), 256), col("commit"))))).collect()(0).getLong(0)
    val hb = b.read().agg(sum(crc32(concat_ws("|", col("repo"), col("path"),
      sha2(col("content"), 256), col("commit"))))).collect()(0).getLong(0)
    assert(a.read().count() == b.read().count())
    assert(ha == hb)
  }

  test("deletes drop keys; duplicate-PK check on final state is clean") {
    val cfg = gen.GenConfig(n = 8000, nKeys = 1500, deletePct = 30, numPartitions = 4)
    val table = replay(tmpDir("lake"), cfg, epochs = 3)
    assertGolden(table, cfg)
    val dups = table.read().groupBy("repo", "path").count().filter(col("count") > 1).count()
    assert(dups == 0)
  }
}
