package graft

import org.apache.spark.sql.functions._
import graft.cdc.{lake, skipping}
import graft.cdc.lake.LakeTable

/** File-level data skipping + key-hash bucket pruning (skipping.scala,
  * LakeTable.planScan, the SQL keyed scan). */
class SkippingSpec extends SparkSuite {
  import org.apache.spark.sql.sources._

  private var n = 0
  private def freshCatalog(tag: String): String = {
    n += 1
    val cat = s"skip${tag}$n"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir(s"skip$n"))
    cat
  }
  private def lakeOf(cat: String, t: String = "t"): LakeTable =
    LakeTable.load(spark, spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + s"/db/$t", t)

  test("commit harvests per-column bounds from the footers it already opens") {
    val cat = freshCatalog("harvest")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, n BIGINT, score DOUBLE, note STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='1')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('aa', 5, 1.5, 'x'), ('zz', 42, -2.0, NULL)")
    val t = lakeOf(cat)
    val files = t.filesOfBuckets(t.snapshot, None)
    assert(files.size == 1)
    val st = files.head.stats.getOrElse(fail("stats must be harvested at commit"))
    assert(st("k") == skipping.ColStats(Some("aa"), Some("zz"), 0L))
    assert(st("n") == skipping.ColStats(Some("5"), Some("42"), 0L))
    assert(st("score").min.get.toDouble == -2.0 && st("score").max.get.toDouble == 1.5)
    assert(st("note") == skipping.ColStats(Some("x"), Some("x"), 1L), s"got ${st("note")}")
  }

  test("bucketsForKeys replicates the layout hash exactly (Murmur3 parity)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("repo", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val keys = Seq("repo", "path")
    import spark.implicits._
    val tuples = Seq(("r1", "a/b.scala"), ("r2", "x.py"), ("", "weird/…/п.txt"))
    val expected = spark.createDataset(tuples).toDF("repo", "path")
      .select(pmod(hash(col("repo"), col("path")), lit(32)).cast("int"))
      .collect().map(_.getInt(0)).toSeq
    tuples.zip(expected).foreach { case ((r, p), want) =>
      val got = skipping.bucketsForKeys(
        Seq(EqualTo("repo", r), EqualTo("path", p)), keys, schema, 32)
      assert(got.contains(Set(want)), s"($r,$p): got $got want Set($want)")
    }
    // IN lists cross-product; a missing key column disables pruning
    val multi = skipping.bucketsForKeys(
      Seq(In("repo", Array("r1", "r2")), EqualTo("path", "x.py")), keys, schema, 32)
    assert(multi.exists(s => s.nonEmpty && s.size <= 2))
    assert(skipping.bucketsForKeys(Seq(EqualTo("repo", "r1")), keys, schema, 32).isEmpty)
    // contradictory conjuncts (empty candidate intersection) disable pruning
    // rather than claiming an empty bucket set incorrectly... they could
    // legitimately claim zero buckets, but we stay conservative
    assert(skipping.bucketsForKeys(
      Seq(EqualTo("repo", "r1"), EqualTo("repo", "r2"), EqualTo("path", "p")),
      keys, schema, 32).isEmpty)
  }

  test("SQL point lookup plans one bucket; range predicate skips refuted files") {
    val cat = freshCatalog("prune")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, grp STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='8')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES " +
      (0 until 400).map(i => s"($i,'g${i % 4}',$i)").mkString(", "))
    // point lookup: exactly one bucket planned
    skipping.ScanStats.last.set(None)
    val row = spark.sql(s"SELECT k, grp, n FROM $cat.db.t WHERE k = 7").collect()
    assert(row.toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2))) == Seq((7L, "g3", 7L)))
    val (b1, bTot1, f1, fTot1) = skipping.ScanStats.last.get()
      .getOrElse(fail("SQL scan must plan through planScan"))
    assert(b1 == 1 && bTot1 == 8, s"point lookup must plan 1/8 buckets, planned $b1/$bTot1")
    assert(f1 < fTot1, s"planned $f1 of $fTot1 files")
    // IN over two keys: at most two buckets
    skipping.ScanStats.last.set(None)
    assert(spark.sql(s"SELECT k FROM $cat.db.t WHERE k IN (7, 250)").collect().length == 2)
    assert(skipping.ScanStats.last.get().exists(_._1 <= 2))
    // non-key range: bucket pruning can't apply, but file bounds do —
    // append four disjoint n-ranges into ONE bucket, then scan one range
    val cat2 = freshCatalog("ranges")
    spark.sql(s"""CREATE TABLE $cat2.db.t (k BIGINT, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='1')""")
    (0 until 4).foreach { b =>
      spark.sql(s"INSERT INTO $cat2.db.t VALUES " +
        (0 until 50).map(i => s"(${b * 50 + i},${b * 1000 + i})").mkString(", "))
    }
    val t2 = lakeOf(cat2)
    assert(t2.filesOfBuckets(t2.snapshot, None).size == 4)
    skipping.ScanStats.last.set(None)
    val hits = spark.sql(s"SELECT k FROM $cat2.db.t WHERE n >= 3000").collect()
    assert(hits.length == 50)
    val (_, _, f2, fTot2) = skipping.ScanStats.last.get().get
    assert(f2 == 1 && fTot2 == 4, s"bounds must skip 3 of 4 files, read $f2/$fTot2")
    // string bounds prune too
    val catS = freshCatalog("str")
    spark.sql(s"""CREATE TABLE $catS.db.t (k BIGINT, lang STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='1')""")
    spark.sql(s"INSERT INTO $catS.db.t VALUES (1,'ada'), (2,'cobol')")
    spark.sql(s"INSERT INTO $catS.db.t VALUES (3,'scala'), (4,'zig')")
    skipping.ScanStats.last.set(None)
    assert(spark.sql(s"SELECT k FROM $catS.db.t WHERE lang = 'scala'")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(skipping.ScanStats.last.get().get._3 == 1, "string bounds must skip the ada/cobol file")
  }

  test("MoR safety: buckets holding deltas never stats-prune base files") {
    val cat = freshCatalog("mor")
    spark.sql(s"""CREATE TABLE $cat.db.t (k STRING, v BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='1')""")
    spark.sql(s"INSERT INTO $cat.db.t VALUES ('a', 5), ('b', 6)")
    val t = lakeOf(cat)
    val engine = new graft.cdc.ingest.ReplayEngine(t, t.snapshot.registry,
      mode = graft.cdc.ingest.MergeMode.MoR)
    import spark.implicits._
    // the delta moves k='a' to v=50 — OUTSIDE the base file's [5,6] bounds;
    // pruning the base file by `v >= 50` would resolve 'a' from the delta
    // alone (correct here) but a STALE redelivery could then win, and a
    // filter that matched the base row would lose it — so the bucket opts out
    engine.applyEpoch(Seq((1000L, "U", "a", 50L)).toDF("lsn", "op", "k", "v"), 0)
    val got = spark.sql(s"SELECT k, v FROM $cat.db.t WHERE v >= 50").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 50L)), s"delta'd bucket must not skip its base files: $got")
    // after compaction the bucket is delta-free and pruning resumes, same answer
    t.compactDeltas()
    val got2 = spark.sql(s"SELECT k, v FROM $cat.db.t WHERE v >= 50").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got2 == Seq(("a", 50L)))
  }

  test("mayMatch edges: nulls, truncated string bounds, unsupported types never prune") {
    import skipping._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType)))
    val st = Map(
      "s" -> ColStats(Some("m"), Some("p"), 2L),
      "n" -> ColStats(Some("10"), Some("20"), 0L))
    assert(!mayMatch(st, 10, schema, EqualTo("n", java.lang.Long.valueOf(9L))))
    assert(mayMatch(st, 10, schema, EqualTo("n", java.lang.Long.valueOf(15L))))
    assert(!mayMatch(st, 10, schema, GreaterThan("n", java.lang.Long.valueOf(20L))))
    assert(mayMatch(st, 10, schema, GreaterThanOrEqual("n", java.lang.Long.valueOf(20L))))
    assert(!mayMatch(st, 10, schema, Or(EqualTo("s", "a"), EqualTo("s", "z"))))
    assert(mayMatch(st, 10, schema, Or(EqualTo("s", "a"), EqualTo("s", "n"))))
    assert(mayMatch(st, 10, schema, IsNull("s")) && !mayMatch(st, 10, schema, IsNull("n")))
    // all-null column: EqualTo refuted, IsNotNull refuted, IsNull kept
    val allNull = Map("s" -> ColStats(None, None, 10L))
    assert(!mayMatch(allNull, 10, schema, EqualTo("s", "x")))
    assert(!mayMatch(allNull, 10, schema, IsNotNull("s")))
    assert(mayMatch(allNull, 10, schema, IsNull("s")))
    // columns without stats / unknown filters never prune
    assert(mayMatch(st, 10, schema, EqualTo("other", "x")))
    assert(mayMatch(st, 10, schema, Not(EqualTo("n", java.lang.Long.valueOf(9L)))))
    // StringStartsWith against bounds
    assert(!mayMatch(st, 10, schema, StringStartsWith("s", "q")))
    assert(mayMatch(st, 10, schema, StringStartsWith("s", "n")))
  }

  test("DATE->TIMESTAMP widening: old day-encoded bounds never prune or answer as micros") {
    import org.apache.spark.sql.types._
    // unit level: compatibleStats drops bounds (keeps nulls) across the
    // encoding-class change, passes through same-class widenings and
    // columns outside the registry schema (feed lsn/op)
    val fileSchema = StructType(Seq(
      StructField("d", DateType), StructField("n", IntegerType)))
    val curSchema = StructType(Seq(
      StructField("d", TimestampType), StructField("n", LongType)))
    val st = Map(
      "d" -> skipping.ColStats(Some("19723"), Some("19730"), 3L), // epoch DAYS
      "n" -> skipping.ColStats(Some("1"), Some("9"), 0L),
      "lsn" -> skipping.ColStats(Some("5"), Some("8"), 0L))
    val proj = skipping.compatibleStats(st, fileSchema, curSchema)
    assert(proj("d") == skipping.ColStats(None, None, 3L), "day bounds must drop, nulls survive")
    assert(proj("n") == st("n"), "int->long bounds stay valid")
    assert(proj("lsn") == st("lsn"), "physical feed columns pass through")
    // end to end: data under DATE, ALTER to TIMESTAMP, midnight-equality
    // lookup must return the row (pre-fix the micros-vs-days comparison
    // pruned the file)
    val cat = freshCatalog("dw")
    spark.sql(s"CREATE TABLE $cat.db.w (k BIGINT, d DATE) TBLPROPERTIES ('primary_key'='k','buckets'='2')")
    spark.sql(s"INSERT INTO $cat.db.w VALUES (1, DATE'2024-01-01'), (2, DATE'2024-01-05')")
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN d TYPE TIMESTAMP")
    val hit = spark.sql(
      s"SELECT k FROM $cat.db.w WHERE d = TIMESTAMP'2024-01-01 00:00:00'").collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(1L),
      "old-schema file must not be pruned by day-encoded bounds")
    // manifest-answered min/max must refuse (bounds dropped), count still answers
    val aggPlan = spark.sql(s"SELECT min(d) m FROM $cat.db.w")
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("LocalTableScan"), "min over dropped bounds must take the scan")
    assert(spark.sql(s"SELECT CAST(min(d) AS DATE) m FROM $cat.db.w").collect()(0)
      .getDate(0).toString == "2024-01-01")
  }

  test("pre-epoch fractional timestamps canonicalize with floored seconds") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("ts", TimestampType)))
    // file really contains ts = 1969-12-31 23:59:59.5 -> -500000 micros
    val st = Map("ts" -> skipping.ColStats(Some("-500000"), Some("-500000"), 0L))
    val probe = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")
    val utcProbe = new java.sql.Timestamp(-500L); utcProbe.setNanos(500000000)
    // pre-fix the truncating division canonicalized the probe to +500000
    // and EqualTo pruned the only matching file
    assert(skipping.mayMatch(st, 1, schema, EqualTo("ts", utcProbe)),
      s"pre-epoch probe must stay within its own file's bounds (probe=$probe)")
    assert(!skipping.mayMatch(st, 1, schema, EqualTo("ts", new java.sql.Timestamp(1000L))))
  }

  test("multi-row-group footers merge bounds for every accumulated column") {
    // >1 row group with ascending values: fromFooter must widen an early
    // column's bounds across ALL groups (pre-fix the MaxStatsColumns guard
    // stopped merging once the accumulator was full)
    import org.apache.spark.sql.functions._
    val dir = tmpDir("rg-merge")
    val wide = (1 to 60).foldLeft(spark.range(0, 20000).toDF("c0")) {
      (df, i) => df.withColumn(s"c$i", col("c0") + i)
    }
    wide.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "65536") // tiny groups -> many per file
      .parquet(dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(f.getPath))
    assume(footer.getBlocks.size() > 1, "need multiple row groups to exercise the merge")
    val stats = skipping.fromFooter(footer).get
    assert(stats("c0") == skipping.ColStats(Some("0"), Some("19999"), 0L),
      s"bounds must span every row group, got ${stats("c0")}")
  }

  test("long/non-ASCII strings: bounds truncate with a bumped upper, or drop") {
    val cat = freshCatalog("trunc")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, body STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='1')""")
    val big = "m" * 500
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'aaa'), (2, '$big')")
    val t = lakeOf(cat)
    val st = t.filesOfBuckets(t.snapshot, None).head.stats.get
    val bs = st("body")
    assert(bs.min.contains("aaa"))
    assert(bs.max.get.length <= 64 && bs.max.get > big.take(64),
      s"upper bound must be a bumped truncation: ${bs.max}")
    // the bound still admits the real value
    assert(spark.sql(s"SELECT k FROM $cat.db.t WHERE body = '$big'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // non-ASCII bounds are dropped, not mis-ordered
    val cat2 = freshCatalog("uni")
    spark.sql(s"""CREATE TABLE $cat2.db.t (k BIGINT, s STRING)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='1')""")
    spark.sql(s"INSERT INTO $cat2.db.t VALUES (1, 'ascii'), (2, '世界')")
    val t2 = lakeOf(cat2)
    assert(!t2.filesOfBuckets(t2.snapshot, None).head.stats.exists(_.contains("s")))
    assert(spark.sql(s"SELECT k FROM $cat2.db.t WHERE s = '世界'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("pruned plans return exactly what full scans return (cross-check sweep)") {
    val cat = freshCatalog("xcheck")
    spark.sql(s"""CREATE TABLE $cat.db.t (k BIGINT, grp STRING, n BIGINT)
                  TBLPROPERTIES ('primary_key'='k', 'buckets'='4')""")
    (0 until 3).foreach { b =>
      spark.sql(s"INSERT INTO $cat.db.t VALUES " +
        (0 until 60).map(i => s"(${b * 60 + i},'g${i % 3}',${b * 100 + i})").mkString(", "))
    }
    val t = lakeOf(cat)
    val full = t.read().collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val preds = Seq("k = 61", "k IN (0, 100, 179)", "n >= 250", "n < 5 OR n > 290",
      "grp = 'g1' AND n BETWEEN 100 AND 120", "grp >= 'g2'", "k = -1")
    preds.foreach { p =>
      val got = spark.sql(s"SELECT k, grp, n FROM $cat.db.t WHERE $p").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = full.filter { case (k, grp, nn) => p match {
        case "k = 61" => k == 61
        case "k IN (0, 100, 179)" => Set(0L, 100L, 179L)(k)
        case "n >= 250" => nn >= 250
        case "n < 5 OR n > 290" => nn < 5 || nn > 290
        case "grp = 'g1' AND n BETWEEN 100 AND 120" => grp == "g1" && nn >= 100 && nn <= 120
        case "grp >= 'g2'" => grp >= "g2"
        case "k = -1" => false
      }}
      assert(got == want, s"pruned scan diverged for [$p]: got ${got.size}, want ${want.size}")
    }
  }
}
