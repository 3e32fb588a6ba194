package graft

/** Storage-partitioned reads (graft.sql.GraftSpj): the lake's hash-bucket
  * layout reported through DSv2 KeyGroupedPartitioning so key-aligned SQL
  * joins and aggregations plan WITHOUT an Exchange.
  *
  * Plan-shape pins use the EnsureRequirements output (the AQE initial plan
  * string): SPJ is decided there, not at runtime.
  */
class SpjSpec extends SparkSuite {

  private def freshCatalog(tag: String): String = {
    val cat = s"spj$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir(s"wh-spj-$tag"))
    spark.sql(s"CREATE NAMESPACE $cat.db")
    cat
  }

  /** Run `body` with SPJ-relevant session confs pinned, restoring after. */
  private def withSpj[A](enabled: Boolean = true)(body: => A): A = {
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", enabled.toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def planOf(sql: String): String =
    spark.sql(sql).queryExecution.executedPlan.toString

  private def hasHashExchange(sql: String): Boolean =
    planOf(sql).linesIterator.exists(_.contains("Exchange hashpartitioning"))

  private def rowsOf(sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.toString).toSeq.sorted

  test("single-key co-partitioned join and full-key aggregation plan zero Exchange") {
    val cat = freshCatalog("j1")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='8')")
    spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, w STRING) TBLPROPERTIES ('primary_key'='k','buckets'='8')")
    spark.sql(s"INSERT INTO $cat.db.a SELECT id, concat('a', id) FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $cat.db.b SELECT id, concat('b', id) FROM range(0, 800)")
    withSpj() {
      val join = s"SELECT a.k, a.v, b.w FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k"
      val agg = s"SELECT k, count(*) c FROM $cat.db.a GROUP BY k"
      // the keyed scan is in the plan, and no Exchange of ANY kind in the join
      assert(planOf(join).contains("graft keyed scan"), "keyed scan path not taken")
      assert(!planOf(join).contains("Exchange"), s"SPJ join still shuffles:\n${planOf(join)}")
      assert(!hasHashExchange(agg), s"full-key agg still shuffles:\n${planOf(agg)}")
      // self-join co-partitions too (same scan both sides)
      val self = s"SELECT x.k, y.v FROM $cat.db.a x JOIN $cat.db.a y ON x.k = y.k"
      assert(!planOf(self).contains("Exchange hashpartitioning"))
      // results match the non-SPJ path bit-for-bit
      val spjRows = rowsOf(join)
      val refRows = withSpj(enabled = false)(rowsOf(join))
      assert(spjRows == refRows && spjRows.length == 800)
    }
  }

  test("mismatched bucket counts and partial-key grouping stay correct (shuffle allowed)") {
    val cat = freshCatalog("j2")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='8')")
    spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, w STRING) TBLPROPERTIES ('primary_key'='k','buckets'='16')")
    spark.sql(s"INSERT INTO $cat.db.a SELECT id, concat('a', id) FROM range(0, 500)")
    spark.sql(s"INSERT INTO $cat.db.b SELECT id, concat('b', id) FROM range(0, 400)")
    withSpj() {
      val join = s"SELECT a.k, b.w FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k"
      assert(spark.sql(join).count() == 400)
      val partial = s"SELECT k, count(*) c FROM $cat.db.a WHERE k < 10 GROUP BY k"
      assert(spark.sql(partial).count() == 10)
    }
  }

  test("composite keys: correct results; stock Spark 4.1 cannot SPJ multi-column transforms") {
    val cat = freshCatalog("ck")
    spark.sql(s"CREATE TABLE $cat.db.c (k1 BIGINT, k2 STRING, v STRING) TBLPROPERTIES ('primary_key'='k1,k2','buckets'='8')")
    spark.sql(s"CREATE TABLE $cat.db.d (k1 BIGINT, k2 STRING, w STRING) TBLPROPERTIES ('primary_key'='k1,k2','buckets'='8')")
    spark.sql(s"INSERT INTO $cat.db.c SELECT id % 100, concat('s', id % 7), concat('c', id) FROM range(0, 500)")
    spark.sql(s"INSERT INTO $cat.db.d SELECT id % 80, concat('s', id % 7), concat('d', id) FROM range(0, 400)")
    withSpj() {
      val join = s"SELECT c.k1, c.k2, d.w FROM $cat.db.c c JOIN $cat.db.d d ON c.k1 = d.k1 AND c.k2 = d.k2"
      val spjRows = rowsOf(join)
      assert(spjRows == withSpj(enabled = false)(rowsOf(join)))
      // KeyGroupedPartitioning$.isSupportedTransform (spark-catalyst 4.1.2
      // bytecode) requires TransformExpression.children.size == 1, so the
      // composite graft_bucket_N(k1,k2) transform is reported but ignored
      // and the join shuffles. If this pin ever FAILS, Spark gained
      // multi-column SPJ — delete the assertion and celebrate.
      assert(hasHashExchange(join))
    }
  }

  test("MoR deltas and pre-evolution files read through the one keyed scan") {
    val cat = freshCatalog("el")
    spark.sql(s"CREATE TABLE $cat.db.m (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='4')")
    spark.sql(s"INSERT INTO $cat.db.m SELECT id, concat('x', id) FROM range(0, 100)")
    withSpj() {
      // base-only snapshot: the keyed scan
      assert(planOf(s"SELECT * FROM $cat.db.m").contains("graft keyed scan"))
      // outstanding MoR delta files (engine-API deltaAppend at the same
      // root) are folded per bucket inside the keyed scan
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val t = graft.cdc.lake.LakeTable.load(spark, s"$wh/db/m", "m")
      import spark.implicits._
      val delta = Seq((3L, "y3", 1L, "U"), (200L, "y200", 2L, "U"))
        .toDF("k", "v", "lsn", "op")
      assert(t.deltaAppend(delta, epochId = 100).committed)
      assert(t.filesOf(t.snapshot).exists(_.kind == "delta"), "precondition: deltas outstanding")
      val p = planOf(s"SELECT * FROM $cat.db.m")
      assert(p.contains("graft keyed scan"), s"MoR snapshot must take the keyed scan:\n$p")
      assert(spark.sql(s"SELECT v FROM $cat.db.m WHERE k = 3").collect()
        .map(_.getString(0)).toSeq == Seq("y3"))
      assert(spark.sql(s"SELECT count(*) c FROM $cat.db.m").collect()(0).getLong(0) == 101)
      // compaction folds the deltas into the base -> still the keyed scan
      assert(t.compactDeltas() > 0)
      assert(planOf(s"SELECT * FROM $cat.db.m").contains("graft keyed scan"))
      assert(spark.sql(s"SELECT v FROM $cat.db.m WHERE k = 200").collect()
        .map(_.getString(0)).toSeq == Seq("y200"))
      // old-schema files after ADD COLUMNS are conformed inside the keyed scan
      val cat2 = freshCatalog("el2")
      spark.sql(s"CREATE TABLE $cat2.db.s (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='4')")
      spark.sql(s"INSERT INTO $cat2.db.s SELECT id, concat('x', id) FROM range(0, 10)")
      spark.sql(s"ALTER TABLE $cat2.db.s ADD COLUMNS (extra INT)")
      val p2 = planOf(s"SELECT * FROM $cat2.db.s")
      assert(p2.contains("graft keyed scan"))
      assert(spark.sql(s"SELECT * FROM $cat2.db.s WHERE extra IS NULL").count() == 10)
    }
  }

  test("keyed scan still bucket-prunes point lookups and supports empty read schemas") {
    val cat = freshCatalog("pr")
    spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='8')")
    spark.sql(s"INSERT INTO $cat.db.a SELECT id, concat('a', id) FROM range(0, 1000)")
    withSpj() {
      assert(spark.sql(s"SELECT count(*) c FROM $cat.db.a").collect()(0).getLong(0) == 1000)
      graft.cdc.skipping.ScanStats.last.set(None)
      val got = spark.sql(s"SELECT v FROM $cat.db.a WHERE k = 7").collect()
      assert(got.length == 1 && got(0).getString(0) == "a7")
      val Some((bucketsRead, bucketsTotal, filesRead, _)) = graft.cdc.skipping.ScanStats.last.get()
      assert(bucketsRead == 1 && bucketsTotal == 8, s"point lookup read $bucketsRead/$bucketsTotal buckets")
      assert(filesRead <= 1)
      // residual filters are re-applied above the scan (pushdown is row-group
      // elision only): a predicate parquet can't fully evaluate stays correct
      assert(spark.sql(s"SELECT count(*) c FROM $cat.db.a WHERE k >= 990 AND v != 'a991'")
        .collect()(0).getLong(0) == 9)
    }
  }

  test("one-side shuffle: an incremental batch joins the table without re-shuffling the table") {
    // The 100 TB shape: a small/medium batch (no reported partitioning)
    // joins the huge keyed table. With v2.bucketing.shuffle.enabled, Spark
    // shuffles ONLY the batch side into the table's KeyGroupedPartitioning
    // (via the catalog bucket function) — the big side moves zero bytes.
    val cat = freshCatalog("os")
    spark.sql(s"CREATE TABLE $cat.db.big (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='8')")
    spark.sql(s"INSERT INTO $cat.db.big SELECT id, concat('v', id) FROM range(0, 10000)")
    spark.range(0, 500).selectExpr("id AS k", "concat('b', id) AS w")
      .createOrReplaceTempView("spj_batch")
    withSpj() {
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      try {
        val q = s"SELECT t.k, t.v, b.w FROM $cat.db.big t JOIN spj_batch b ON t.k = b.k"
        // plan-string checks (executedPlan is an AdaptiveSparkPlanExec LEAF —
        // tree collect() cannot see the inner Exchanges, toString can)
        val plan = planOf(q)
        val exchangeCount = plan.linesIterator.count(_.contains("Exchange"))
        assert(exchangeCount == 1, s"expected exactly the batch-side shuffle:\n$plan")
        assert(plan.contains("Exchange keygroupedpartitioning"),
          s"batch side must shuffle INTO the table's layout:\n$plan")
        assert(plan.contains("graft keyed scan"))
        // the keyed (table) side prints before the shuffled (batch) side in
        // this join: the scan must not sit under the Exchange subtree
        assert(plan.indexOf("graft keyed scan") < plan.indexOf("Exchange"),
          s"the TABLE side must not shuffle:\n$plan")
        assert(rowsOf(q) == withSpj(enabled = false)(rowsOf(q)) && rowsOf(q).length == 500)
        // mismatched bucket counts (8 vs 16) also collapse to ONE exchange
        spark.sql(s"CREATE TABLE $cat.db.b16 (k BIGINT, w STRING) TBLPROPERTIES ('primary_key'='k','buckets'='16')")
        spark.sql(s"INSERT INTO $cat.db.b16 SELECT id, concat('w', id) FROM range(0, 5000)")
        val q2 = s"SELECT t.k, t.v, s.w FROM $cat.db.big t JOIN $cat.db.b16 s ON t.k = s.k"
        assert(planOf(q2).linesIterator.count(_.contains("Exchange")) <= 1,
          s"mismatched bucket counts must shuffle at most one side:\n${planOf(q2)}")
        assert(spark.sql(q2).count() == 5000)
      } finally spark.conf.unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
    }
  }

  test("runtime filtering: a broadcast dim join dynamically prunes fact buckets/files") {
    val cat = freshCatalog("rf")
    spark.sql(s"CREATE TABLE $cat.db.fact (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='16')")
    spark.sql(s"INSERT INTO $cat.db.fact SELECT id, concat('v', id) FROM range(0, 100000)")
    spark.sql(s"CREATE TABLE $cat.db.dim (k BIGINT, cls STRING) TBLPROPERTIES ('primary_key'='k','buckets'='4')")
    spark.sql(s"INSERT INTO $cat.db.dim SELECT id * 1000, concat('c', id % 3) FROM range(0, 20)")
    val q = s"SELECT f.k, f.v, d.cls FROM $cat.db.fact f JOIN $cat.db.dim d ON f.k = d.k WHERE d.cls = 'c1'"
    graft.cdc.skipping.ScanStats.last.set(None)
    val df = spark.sql(q)
    val got = df.collect().map(_.toString).sorted.toSeq
    // the DPP expression landed on the fact scan...
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"), s"no runtime filter on the scan:\n$plan")
    // ...and actually elided I/O: only the buckets/files that can hold the
    // dim's 7 surviving keys were read (16 files live, one per bucket)
    val Some((bucketsRead, bucketsTotal, filesRead, filesTotal)) =
      graft.cdc.skipping.ScanStats.last.get()
    assert(bucketsTotal == 16 && filesTotal == 16, s"unexpected layout: $bucketsTotal/$filesTotal")
    assert(bucketsRead < 16 && filesRead < 16,
      s"runtime filter did not prune: read $bucketsRead buckets / $filesRead files of 16")
    // value parity with dynamic pruning off
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    try assert(spark.sql(q).collect().map(_.toString).sorted.toSeq == got && got.length == 7)
    finally spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.enabled")
  }

  test("pushed LIMIT plans a covering file prefix; filters disable the truncation") {
    val cat = freshCatalog("lim")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='16')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(0, 16000)")
    withSpj() {
      graft.cdc.skipping.ScanStats.last.set(None)
      assert(spark.sql(s"SELECT * FROM $cat.db.t LIMIT 5").collect().length == 5)
      val Some((_, _, filesRead, filesTotal)) = graft.cdc.skipping.ScanStats.last.get()
      assert(filesTotal == 16 && filesRead < 16,
        s"LIMIT 5 must not plan the whole table: $filesRead/$filesTotal files")
      // a WHERE disables the file truncation (filtered yield is unknown) —
      // the limit still holds, applied by Spark above the scan
      graft.cdc.skipping.ScanStats.last.set(None)
      val got = spark.sql(s"SELECT * FROM $cat.db.t WHERE v LIKE 'v1%' LIMIT 100000").collect()
      assert(got.length == 1 + 10 + 100 + 1000 + 6000) // v1, v1x..v1xxxx (ids < 16000)
    }
  }

  test("a 128-bucket table: count(*) opens no manifest, a MoR point read only its bucket's") {
    val cat = freshCatalog("mrd")
    spark.sql(s"CREATE TABLE $cat.db.big (k BIGINT, v STRING) TBLPROPERTIES ('primary_key'='k','buckets'='128')")
    spark.sql(s"INSERT INTO $cat.db.big SELECT id, concat('v', id) FROM range(0, 2000)")
    // a delta-free count(*) answers from the refs: zero manifests opened
    val g0 = graft.cdc.lake.manifestReadsGlobal.get()
    assert(spark.sql(s"SELECT count(*) c FROM $cat.db.big").collect()(0).getLong(0) == 2000)
    assert(graft.cdc.lake.manifestReadsGlobal.get() == g0, "count(*) must answer from the refs")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = graft.cdc.lake.LakeTable.load(spark, s"$wh/db/big", "big")
    import spark.implicits._
    assert(t.deltaAppend((0L until 2000L by 3).map(i => (i, s"w$i", 1L, "U")).toDF("k", "v", "lsn", "op"),
      epochId = 1).committed)
    assert(t.snapshot.manifests.count(_.deltaFiles > 0) > 64, "precondition: most buckets hold deltas")
    // every statement resolves a fresh table handle (empty manifest cache):
    // the point read plans, folds and reads one bucket's manifest, never
    // the 128 the snapshot lists
    val c0 = graft.cdc.lake.manifestReadsGlobal.get()
    assert(spark.sql(s"SELECT v FROM $cat.db.big WHERE k = 6").collect()
      .map(_.getString(0)).toSeq == Seq("w6"))
    val c1 = graft.cdc.lake.manifestReadsGlobal.get()
    assert(c1 - c0 >= 1 && c1 - c0 <= 2,
      s"point lookup must read only the pruned bucket's manifest, read ${c1 - c0} of 128")
  }

  test("catalog bucket functions match the write layout hash exactly") {
    val cat = freshCatalog("fn")
    // parity oracle: the layout hash is pmod(hash(keys), nb) (lake.bucketExpr)
    val expected = spark.sql(
      "SELECT pmod(hash(CAST(7 AS BIGINT)), 8), pmod(hash(CAST(7 AS BIGINT), 's3'), 8)").collect()(0)
    val viaFn = spark.sql(
      s"SELECT $cat.system.bucket(8, CAST(7 AS BIGINT)), $cat.system.graft_bucket_8(CAST(7 AS BIGINT), 's3')").collect()(0)
    assert(viaFn.getInt(0) == expected.getInt(0), "bucket() diverges from layout hash")
    assert(viaFn.getInt(1) == expected.getInt(1), "graft_bucket_N() diverges from layout hash")
    // and across a value sweep (both arities, nulls included)
    val sweep = spark.sql(
      s"""SELECT sum(CASE WHEN $cat.system.bucket(8, k) = pmod(hash(k), 8) THEN 0 ELSE 1 END) d1,
                 sum(CASE WHEN $cat.system.graft_bucket_8(k, s) = pmod(hash(k, s), 8) THEN 0 ELSE 1 END) d2
          FROM (SELECT CASE WHEN id = 99 THEN NULL ELSE id END k, concat('s', id % 11) s
                FROM range(0, 100))""").collect()(0)
    assert(sweep.getLong(0) == 0 && sweep.getLong(1) == 0)
  }
}
