package graft

/** Manifest-answered aggregates (graft.sql.GraftAgg through DSv2
  * SupportsPushDownAggregates): count(*)/count(col)/min/max computed from
  * per-file manifest stats — the query plans as a LocalTableScan, zero data
  * files opened, zero tasks. Every pushed answer is value-checked against
  * the same query over a temp view of the table (the row path).
  */
class AggPushSpec extends SparkSuite {

  private def freshCatalog(tag: String): String = {
    val cat = s"agg$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir(s"wh-agg-$tag"))
    spark.sql(s"CREATE NAMESPACE $cat.db")
    cat
  }

  private def isLocal(sql: String): Boolean =
    spark.sql(sql).queryExecution.executedPlan.toString.contains("LocalTableScan")

  private def rowOf(sql: String): String = spark.sql(sql).collect().mkString

  /** The pushed answer must be plan-local AND bit-equal to the row path:
    * the same SQL over a temp view of the table (`LakeTable.createView`),
    * which no DSv2 pushdown reaches. `sql` reads `<cat>.db.t`. */
  private def assertPushedAndEqual(cat: String, sql: String): Unit = {
    assert(isLocal(sql), s"expected manifest-answered plan for: $sql")
    val pushed = rowOf(sql)
    graft.cdc.lake.LakeTable.load(spark,
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t", "t").createView("agg_row_path")
    val rowPath = sql.replace(s"$cat.db.t", "agg_row_path")
    assert(!isLocal(rowPath), s"the row path must scan for: $rowPath")
    assert(rowOf(rowPath) == pushed, s"pushed answer diverges from the scan for: $sql")
  }

  test("count/min/max answer from the manifest and match the scan path") {
    val cat = freshCatalog("a")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, lang STRING, n INT, ok BOOLEAN) TBLPROPERTIES ('primary_key'='k','buckets'='4')")
    // n is null every 10th row; lang ascii (stats kept, bounds truncated)
    spark.sql(s"""INSERT INTO $cat.db.t
      SELECT id, concat('l', id % 3), IF(id % 10 = 0, NULL, CAST(id % 100 AS INT)), id % 2 = 0
      FROM range(0, 1000)""")
    assertPushedAndEqual(cat, s"SELECT count(*) AS c FROM $cat.db.t")
    assertPushedAndEqual(cat, s"SELECT count(n) AS c FROM $cat.db.t") // 900, nulls subtracted
    assertPushedAndEqual(cat,
      s"SELECT count(*) AS c, count(n) AS cn, min(k) AS mk, max(k) AS xk, " +
        s"min(n) AS mn, max(n) AS xn, min(ok) AS mo, max(ok) AS xo FROM $cat.db.t")
    // sanity on the actual values, not just parity
    val r = spark.sql(
      s"SELECT count(*), count(n), min(k), max(k), min(ok), max(ok) FROM $cat.db.t").collect()(0)
    assert(r.getLong(0) == 1000 && r.getLong(1) == 900)
    assert(r.getLong(2) == 0 && r.getLong(3) == 999)
    assert(!r.getBoolean(4) && r.getBoolean(5))
  }

  test("refusals: strings, floats, filters, GROUP BY, DISTINCT stay on the scan path") {
    val cat = freshCatalog("r")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, lang STRING, x DOUBLE) TBLPROPERTIES ('primary_key'='k','buckets'='4')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('l', id % 3), id / 7.0 FROM range(0, 100)")
    for (q <- Seq(
      s"SELECT min(lang) m FROM $cat.db.t", // truncated bounds: not the true extremum
      s"SELECT max(x) m FROM $cat.db.t", // NaN-unsound footer bounds
      s"SELECT count(*) c FROM $cat.db.t WHERE k > 10",
      s"SELECT lang, count(*) c FROM $cat.db.t GROUP BY lang",
      s"SELECT count(DISTINCT lang) c FROM $cat.db.t"))
      assert(!isLocal(q), s"must NOT push: $q")
    // and they are still correct
    assert(rowOf(s"SELECT min(lang) m FROM $cat.db.t") == "[l0]")
    assert(rowOf(s"SELECT count(*) c FROM $cat.db.t WHERE k > 10") == "[89]")
  }

  test("MoR deltas refuse; post-merge and post-compaction answers track table state") {
    val cat = freshCatalog("m")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v INT) TBLPROPERTIES ('primary_key'='k','buckets'='4')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, CAST(id AS INT) FROM range(0, 100)")
    assertPushedAndEqual(cat, s"SELECT count(*) c, max(k) xk FROM $cat.db.t")
    // CoW merge: delete the max key, upsert a new one — manifest stats must follow
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = graft.cdc.lake.LakeTable.load(spark, s"$wh/db/t", "t")
    import spark.implicits._
    val batch = Seq((99L, 0, 10L, "D"), (500L, 500, 11L, "U")).toDF("k", "v", "lsn", "op")
    assert(t.merge(batch, epochId = 1).committed)
    assert(isLocal(s"SELECT count(*) c FROM $cat.db.t"))
    assert(rowOf(s"SELECT count(*) c, max(k) xk FROM $cat.db.t") == "[100,500]")
    // outstanding MoR deltas: raw file rows are change rows -> refuse, stay correct
    val d = Seq((500L, 501, 12L, "U"), (0L, 0, 13L, "D")).toDF("k", "v", "lsn", "op")
    assert(t.deltaAppend(d, epochId = 2).committed)
    val q = s"SELECT count(*) c, max(k) xk FROM $cat.db.t"
    assert(!isLocal(q), "MoR snapshot must not answer from the manifest")
    assert(rowOf(q) == "[99,500]")
    // compaction folds -> manifest answers again, with the folded state
    assert(t.compactDeltas() > 0)
    assertPushedAndEqual(cat, q)
    assert(rowOf(q) == "[99,500]")
  }

  test("count(*) on a 128-bucket table answers from the refs, zero manifest reads") {
    import graft.cdc.lake._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", StringType)))
    val table = LakeTable.createIfNotExists(spark, tmpDir("agg-refs"), "t",
      schema, Seq("k"), numBuckets = 128)
    import spark.implicits._
    table.append((0L until 3000L).map(i => (i, s"v$i")).toDF("k", "v"))
    val fresh = LakeTable.load(spark, table.root, "t")
    val snap = fresh.snapshot
    assert(snap.manifests.nonEmpty, "precondition: the append wrote manifests")
    import org.apache.spark.sql.connector.expressions.aggregate._
    val countStar = new Aggregation(Array[AggregateFunc](new CountStar()), Array.empty)
    val g0 = graft.cdc.lake.manifestReadsGlobal.get()
    val ans = graft.sql.GraftAgg.answerFromRefs(snap, countStar)
    assert(ans.exists(_._2.getLong(0) == 3000L), s"refs must answer count(*): $ans")
    assert(graft.cdc.lake.manifestReadsGlobal.get() == g0,
      "refs-only count must not open manifests (any handle)")
    // min/max still needs the per-file stats -> refs path refuses
    val minAgg = new Aggregation(Array[AggregateFunc](
      new Min(org.apache.spark.sql.connector.expressions.Expressions.column("k"))), Array.empty)
    assert(graft.sql.GraftAgg.answerFromRefs(snap, minAgg).isEmpty)
    // pre-sum (legacy) refs refuse: unknown rows must never answer as 0
    val legacy = snap.copy(manifests = snap.manifests.map(_.copy(rows = 0L)))
    assert(graft.sql.GraftAgg.answerFromRefs(legacy, countStar).isEmpty)
  }

  test("empty table, all-null column, and time travel") {
    val cat = freshCatalog("e")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, n INT) TBLPROPERTIES ('primary_key'='k','buckets'='4')")
    // empty: count 0 / min NULL, answered without a scan (zero files = all base)
    assert(isLocal(s"SELECT count(*) c, min(k) mk FROM $cat.db.t"))
    assert(rowOf(s"SELECT count(*) c, min(k) mk FROM $cat.db.t") == "[0,null]")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, CAST(NULL AS INT) FROM range(0, 50)")
    val v1 = graft.cdc.lake.LakeTable.load(
      spark, spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t", "t").snapshot.version
    // all-null column: min/max NULL, count(n) 0 — all manifest-answered
    assertPushedAndEqual(cat, s"SELECT count(n) cn, min(n) mn, max(n) xn FROM $cat.db.t")
    assert(rowOf(s"SELECT count(n) cn, min(n) mn, max(n) xn FROM $cat.db.t") == "[0,null,null]")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id + 100, CAST(id AS INT) FROM range(0, 25)")
    assert(rowOf(s"SELECT count(*) c, max(n) xn FROM $cat.db.t") == "[75,24]")
    // time travel answers from the PINNED snapshot's manifest
    val tt = s"SELECT count(*) c, max(k) xk FROM $cat.db.t VERSION AS OF $v1"
    assert(isLocal(tt))
    assert(rowOf(tt) == "[50,49]")
  }
}
