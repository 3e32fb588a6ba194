package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** The CDC-apply kernel behind `merge` and `deltaAppend`: what a dense-sized
  * epoch does to the buckets its batch misses, and how many Spark jobs an
  * epoch runs in CoW and MoR mode, with or without `knownInputCount`. */
class ApplyKernelSpec extends SparkSuite {

  /** Upsert events for paths `ids`, LSNs from `lsn0`, in the RepoRow shape. */
  private def events(ids: Seq[Long], lsn0: Long): DataFrame = {
    import spark.implicits._
    ids.map(i => (lsn0 + i, "U", s"r${i % 7}", s"p$i", s"c$lsn0-$i", "scala", s"x$lsn0-$i"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content")
  }

  private def newTable(prefix: String): LakeTable =
    LakeTable.createIfNotExists(spark, tmpDir(prefix), "t",
      RepoRow.schemaV1, RepoRow.keyColumns, numBuckets = 8)

  test("dense CoW epoch: buckets the batch misses keep their old lsn range and get no lineage row") {
    val t = newTable("stamp")
    val engine = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1))
    val seedIds = (0L until 200L).toSeq
    assert(engine.applyEpoch(events(seedIds, 0), 0).committed)
    val bucket = t.bucketExpr(t.snapshot)
    val missed = events(seedIds, 0).select(bucket).distinct().collect().map(_.getInt(0)).sorted.take(2).toSet
    assert(missed.size == 2)
    // an unstamped (-1) append file in a missed bucket: it must carry over
    // unstamped, beside the stamped files
    val extra = events((5000L until 5200L).toSeq, 0).where(bucket === missed.head).drop("lsn", "op")
    assert(t.append(extra).committed)
    val before = t.filesOf(t.snapshot)
    assert(before.exists(f => f.bucket == missed.head && f.lsnMin < 0))

    val batch = events((0L until 600L).toSeq, 1000).where(!bucket.isin(missed.toSeq: _*))
    val rows = batch.select(bucket.as("b"), col("lsn")).collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(rows.length >= 8 * 32, "the epoch must be dense (>= 32 events per bucket)")
    val batchRange = rows.groupBy(_._1).map { case (b, ls) => b -> (ls.map(_._2).min, ls.map(_._2).max) }
    assert(batchRange.size == 6)

    val r = engine.applyEpoch(batch, 1, knownInputCount = Some(rows.length.toLong))
    assert(r.committed)
    val after = t.filesOf(t.snapshot)
    // a missed bucket carries over by reference: same files, same ranges
    def refs(fs: Seq[DataFile], b: Int) =
      fs.filter(_.bucket == b).map(f => (f.path, f.lsnMin, f.lsnMax)).toSet
    missed.foreach(b => assert(refs(after, b) == refs(before, b), s"bucket $b must carry over"))
    batchRange.foreach { case (b, range) =>
      after.filter(_.bucket == b).foreach(f => assert((f.lsnMin, f.lsnMax) == range, s"bucket $b: $f"))
    }
    assert(r.lineage.map(_.partition).toSet == batchRange.keySet, "no lineage row for a missed bucket")
    r.lineage.foreach(l => assert((l.lsn_min, l.lsn_max) == batchRange(l.partition)))
    val keys = Seq(events(seedIds, 0), batch, extra).map(_.select("repo", "path"))
    assert(t.read().count() == keys.reduce(_ union _).distinct().count())
  }

  private def dataDirs(t: LakeTable): Set[String] = {
    val d = Paths.get(t.root, "data")
    if (!Files.isDirectory(d)) Set.empty
    else {
      val s = Files.list(d)
      try s.toArray.map(_.toString).toSet finally s.close()
    }
  }

  for (mode <- Seq(MergeMode.CoW, MergeMode.MoR)) {
    test(s"$mode applyEpoch job counts: 2 with or without knownInputCount; an empty epoch writes no data") {
      // the stats pre-pass (which also counts the input) and the write
      for (hint <- Seq(true, false)) {
        val t = newTable(s"jobs-$mode-$hint")
        val engine = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1), mode = mode)
        assert(engine.applyEpoch(events((0L until 400L).toSeq, 0), 0).committed)
        val ids = (0L until 512L).toSeq
        val (r, jobs) = jobsOf(engine.applyEpoch(events(ids, 1000), 1,
          knownInputCount = if (hint) Some(ids.size.toLong) else None))
        assert(r.committed && r.metrics.events_in == ids.size)
        assert(jobs.size == 2, s"$mode epoch (knownInputCount ${if (hint) "set" else "absent"}): ${jobs.size} Spark jobs")
        assert(t.read().count() == 512)
      }
      val t = newTable(s"empty-$mode")
      val engine = new ReplayEngine(t, SchemaRegistry.single(RepoRow.schemaV1), mode = mode)
      assert(engine.applyEpoch(events((0L until 40L).toSeq, 0), 0).committed)
      val dirs = dataDirs(t)
      val v = t.snapshot.version
      val r = engine.applyEpoch(events(Nil, 100), 1)
      assert(!r.committed && t.snapshot.version == v)
      assert(dataDirs(t) == dirs, "an empty epoch must write no data dir")
    }
  }
}
