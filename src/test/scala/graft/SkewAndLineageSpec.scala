package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** Hot-key/hot-repo skew behavior and the lineage/metrics side tables. */
class SkewAndLineageSpec extends SparkSuite {

  test("pathological skew: one key owns 50% of events, one repo owns ~25% of keys") {
    // adversarial stream: half the events hammer a single (repo, path)
    val n = 40000L
    val ev = spark.range(0, n, 1, 8).toDF("lsn")
      .withColumn("hot", pmod(col("lsn"), lit(2)) === 0)
      .withColumn("repo", when(col("hot"), lit("hot/repo"))
        .otherwise(concat(lit("r"), pmod(xxhash64(col("lsn")), lit(40)))))
      .withColumn("path", when(col("hot"), lit("hot/path"))
        .otherwise(concat(lit("p"), pmod(xxhash64(col("lsn"), lit(1L)), lit(500)))))
      .withColumn("op", lit("U"))
      .withColumn("commit", lower(hex(xxhash64(col("lsn")))))
      .withColumn("lang", lit("scala"))
      .withColumn("content", concat(lit("content-"), col("lsn")))
      .drop("hot")
    val root = tmpDir("skew-lake")
    val table = LakeTable.createIfNotExists(spark, root, "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    (0 until 2).foreach { e =>
      val r = engine.applyEpoch(ev.filter(col("lsn") >= e * 20000 && col("lsn") < (e + 1) * 20000), e)
      assert(r.committed)
    }
    val rows = table.read()
    // the hot key collapses to exactly one row with the max-LSN content
    val hot = rows.filter(col("repo") === "hot/repo").collect()
    assert(hot.length == 1)
    assert(hot(0).getAs[String]("content") == s"content-${n - 2}") // last even lsn
    // per-bucket file sizes stay balanced: hot key cannot pin a bucket beyond
    // its single surviving row
    val byBucket = table.filesOf(table.snapshot).groupBy(_.bucket).view.mapValues(_.map(_.rows).sum)
    val (mn, mx) = (byBucket.values.min, byBucket.values.max)
    assert(mx <= mn * 6 + 10, s"bucket row imbalance: $byBucket")
  }

  test("hot repo: its paths spread across every bucket (full-key bucket hashing)") {
    // one repo owns every key: a repo-only bucket hash would pin it to one
    // bucket; hashing the full (repo, path) key must spread it
    val n = 4000
    val ev = spark.range(0, n, 1, 4).toDF("lsn")
      .withColumn("repo", lit("hot/repo"))
      .withColumn("path", concat(lit("p"), col("lsn")))
      .withColumn("op", lit("I"))
      .withColumn("commit", lower(hex(xxhash64(col("lsn")))))
      .withColumn("lang", lit("scala"))
      .withColumn("content", concat(lit("content-"), col("lsn")))
    val nb = 8
    val table = LakeTable.createIfNotExists(spark, tmpDir("hot-repo"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = nb)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1))
    assert(engine.applyEpoch(ev, 0).committed)
    val rowsByBucket = table.filesOf(table.snapshot).groupBy(_.bucket).view.mapValues(_.map(_.rows).sum).toMap
    assert(rowsByBucket.size == nb, s"hot repo landed in ${rowsByBucket.size} of $nb buckets")
    assert(rowsByBucket.values.sum == n)
    assert(rowsByBucket.values.max <= 2 * n / nb, s"bucket row imbalance: $rowsByBucket")
  }

  test("lineage + metrics lake tables accumulate per epoch") {
    val cfg = gen.GenConfig(n = 6000, nKeys = 900, numPartitions = 4)
    val root = tmpDir("lin-lake")
    val table = LakeTable.createIfNotExists(spark, root, "repo_files",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)
    val lineageSchema = org.apache.spark.sql.Encoders.product[LineageEntry].schema
    val metricsSchema = org.apache.spark.sql.Encoders.product[ingest.EpochMetrics].schema
    val lt = LakeTable.createIfNotExists(spark, tmpDir("lin-t"), "lineage",
      lineageSchema, Seq("table", "snapshot_version", "partition"), numBuckets = 4)
    val mt = LakeTable.createIfNotExists(spark, tmpDir("met-t"), "metrics",
      metricsSchema, Seq("epoch"), numBuckets = 2)
    val engine = new ReplayEngine(table, SchemaRegistry.single(RepoRow.schemaV1),
      lineageTable = Some(lt), metricsTable = Some(mt))
    val all = gen.changeEvents(spark, cfg)
    (0 until 3).foreach { e =>
      engine.applyEpoch(all.filter(col("lsn") >= e * 2000 && col("lsn") < (e + 1) * 2000), e)
    }
    val lin = lt.read()
    assert(lin.select("epoch").distinct().count() == 3)
    // applied rows accounted per bucket; lsn ranges within epoch bounds
    val bad = lin.filter(col("lsn_min") < 0 || col("lsn_max") > 5999 ||
      col("rows_upserted") + col("rows_deleted") <= 0).count()
    assert(bad == 0)
    val met = mt.read().orderBy("epoch").collect()
    assert(met.length == 3)
    assert(met.forall(_.getAs[Long]("events_in") == 2000L))
    assert(met.forall(_.getAs[Double]("events_per_sec") > 0))
  }
}
