package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** Lake reads are planned from the snapshot's file list: a read of more
  * than 32 files (Spark's parallel-listing threshold) starts no leaf-file
  * listing job, and a file the snapshot references but the disk lost fails
  * the read instead of dropping its rows. */
class ManifestScanSpec extends SparkSuite {

  /** Upsert events for paths `ids`, LSNs from `lsn0`, in the RepoRow shape. */
  private def events(ids: Seq[Long], lsn0: Long): DataFrame = {
    import spark.implicits._
    ids.map(i => (lsn0 + i, "U", s"r${i % 7}", s"p$i", s"c$lsn0-$i", "scala", s"x$lsn0-$i"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content")
  }

  private def listings(jobs: Seq[String]): Seq[String] =
    jobs.filter(_.startsWith("Listing leaf files"))

  test("wide CoW reads and a 33+-bucket CoW epoch start no listing job") {
    val t = LakeTable.createIfNotExists(spark, tmpDir("wide-cow"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 64)
    val engine = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1))
    assert(engine.applyEpoch(events((0L until 2000L).toSeq, 0), 0).committed)
    val files = t.filesOf(t.snapshot)
    assert(files.size == 64 && files.map(_.bucket).toSet.size == 64, "one file per bucket")
    val v = t.snapshot.version
    val (n, readJobs) = jobsOf(t.read().agg(count(lit(1)), countDistinct("path")).collect()(0))
    assert(n.getLong(0) == 2000 && n.getLong(1) == 2000)
    assert(listings(readJobs).isEmpty, s"read(): ${readJobs.mkString(" | ")}")
    assert(readJobs.size == 1, s"read() aggregate: ${readJobs.mkString(" | ")}")
    val (m, atJobs) = jobsOf(t.readAt(v).agg(count(lit(1))).collect()(0).getLong(0))
    assert(m == 2000)
    assert(listings(atJobs).isEmpty && atJobs.size == 1, s"readAt($v): ${atJobs.mkString(" | ")}")

    val ids = (0L until 300L).toSeq
    val touched = events(ids, 5000).select(t.bucketExpr(t.snapshot)).distinct().count()
    assert(touched >= 33, s"the epoch must read more than 32 old files: $touched buckets")
    val (r, applyJobs) = jobsOf(engine.applyEpoch(events(ids, 5000), 1))
    assert(r.committed && r.metrics.events_in == ids.size)
    assert(listings(applyJobs).isEmpty, s"CoW epoch: ${applyJobs.mkString(" | ")}")
    assert(applyJobs.size == 2, s"CoW epoch over $touched buckets: ${applyJobs.mkString(" | ")}")
    assert(t.read().count() == 2000)
  }

  test("MoR with more than 32 delta files: changesSince and SQL count(*) start no listing job") {
    val cat = "mscan"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir("wh-mscan"))
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (repo STRING, path STRING, commit STRING, lang STRING, " +
      "content STRING) TBLPROPERTIES ('primary_key'='repo,path','buckets'='64')")
    val t = LakeTable.load(spark, spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/t", "t")
    val engine = new ReplayEngine(t, SchemaRegistry.single(t.snapshot.schema), mode = MergeMode.MoR)
    assert(engine.applyEpoch(events((0L until 2000L).toSeq, 0), 0).committed)
    val mark = t.snapshot.version
    assert(engine.applyEpoch(events((0L until 3000L).toSeq, 10000), 1).committed)
    val deltas = t.filesOf(t.snapshot).count(_.kind == "delta")
    assert(deltas > 32, s"$deltas delta files")

    val (changes, feedJobs) = jobsOf(t.changesSince(mark).count())
    assert(changes == 3000)
    assert(listings(feedJobs).isEmpty, s"changesSince: ${feedJobs.mkString(" | ")}")
    val (rows, sqlJobs) = jobsOf(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect()(0).getLong(0))
    assert(rows == 3000)
    assert(listings(sqlJobs).isEmpty, s"SQL count(*): ${sqlJobs.mkString(" | ")}")
  }

  test("a referenced file that is gone fails the read and names the file") {
    val t = LakeTable.createIfNotExists(spark, tmpDir("lost-file"), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 4)
    val engine = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1))
    assert(engine.applyEpoch(events((0L until 400L).toSeq, 0), 0).committed)
    val lost = t.filesOf(t.snapshot).head
    Files.delete(Paths.get(t.root, lost.path))
    val name = Paths.get(lost.path).getFileName.toString
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    val e1 = intercept[Exception](t.read().collect())
    assert(messages(e1).contains(name), s"default settings: ${messages(e1)}")
    // the session's ignoreMissingFiles must not turn a lost file into lost rows
    val before = spark.conf.getOption("spark.sql.files.ignoreMissingFiles")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      val e2 = intercept[Exception](t.read().collect())
      assert(messages(e2).contains(name), s"ignoreMissingFiles=true: ${messages(e2)}")
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreMissingFiles", v)
      case None => spark.conf.unset("spark.sql.files.ignoreMissingFiles")
    }
  }
}
