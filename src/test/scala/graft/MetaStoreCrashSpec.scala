package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.model._

/** A crash at ANY metadata step of any table operation reconverges: every
  * mutating call of the metadata store (manifest writes, the claim, the
  * `_CURRENT` hint, vacuum's deletes) is a crash point. After each crash a
  * fresh handle reads exactly the pre-op or the post-op rows, redoing the
  * op lands on the clean run's rows, vacuum leaves exactly the referenced
  * files, and the next commit claims on its first attempt. */
class MetaStoreCrashSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = gen.GenConfig(n = 3000, nKeys = 400, numPartitions = 4)
  private def slice(lo: Long, hi: Long) =
    gen.changeEvents(spark, cfg).filter(col("lsn") >= lo && col("lsn") < hi)

  /** The table every op starts from: 4 buckets (each commit's manifest
    * writes are steps too), a CoW base and one MoR delta per
    * bucket (so compact and compactDeltas have work). Built once; every
    * crash point runs on a copy. */
  private lazy val preOp: String = {
    val root = tmpDir("crash-pre")
    val t = LakeTable.createIfNotExists(spark, root, "t", RepoRow.schemaV1, RepoRow.keyColumns,
      numBuckets = 4)
    assert(t.merge(slice(0, 1000), epochId = 0).committed)
    assert(t.deltaAppend(slice(1000, 2000), epochId = 1).committed)
    root
  }

  private val ops: Seq[(String, LakeTable => Unit)] = Seq(
    "merge (CoW)" -> (t => t.merge(slice(2000, 3000), epochId = 2)),
    "deltaAppend" -> (t => t.deltaAppend(slice(2000, 3000), epochId = 2)),
    "append" -> (t => t.append((0 until 8).map(i => ("crash", s"p$i", "c", "md", s"x$i"))
      .toDF("repo", "path", "commit", "lang", "content"), epochId = 2)),
    "compact" -> (t => t.compact()),
    "compactDeltas" -> (t => t.compactDeltas()),
    "rebucket" -> (t => t.rebucket(8)),
    "cluster" -> (t => t.cluster(Seq("lang"))),
    "evolveSchema" -> (t => t.evolveSchema(RepoRow.schemaV1.add("stars", LongType))),
    "vacuum" -> (t => t.vacuum(keepSnapshots = 1)))

  private def copyOf(src: String): String = {
    val dst = Paths.get(tmpDir("crash"))
    val w = Files.walk(Paths.get(src))
    try w.iterator().asScala.foreach { p =>
      val to = dst.resolve(Paths.get(src).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally w.close()
    dst.toString
  }

  /** sha256 of the schema and the sorted rows a fresh POSIX handle reads. */
  private def rowsHash(root: String): String = {
    val df = LakeTable.load(spark, root, "t").read()
    val rows = df.select(to_json(struct(df.columns.map(col): _*))).as[String].collect().sorted
    gen.sha256Hex(df.schema.json + "\n" + rows.mkString("\n"))
  }

  private def filesUnder(root: String, sub: String, ext: String): Set[String] = {
    val dir = Paths.get(root, sub)
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(ext))
        .map(p => Paths.get(root).relativize(p).toString).toSet
      finally w.close()
    }
  }

  test("a crash at every metadata step of every op reconverges; vacuum sweeps; next commit claims first try") {
    val t0 = System.nanoTime()
    val pre = rowsHash(preOp)
    var points = 0
    ops.foreach { case (name, op) =>
      // the clean run: its steps, its rows, its referenced data files
      val cleanDir = copyOf(preOp)
      val clean = new HookedStore
      op(new LakeTable(spark, cleanDir, "t", clean))
      val steps = clean.steps.toList
      val post = rowsHash(cleanDir)
      val cleanRefs = {
        val t = LakeTable.load(spark, cleanDir, "t")
        t.filesOf(t.snapshot).size
      }
      val claimAt = steps.indexOf("putIfAbsent") + 1 // 1-based; 0 = the op claims nothing
      if (name == "vacuum") assert(claimAt == 0 && steps.forall(_ == "delete") && steps.nonEmpty, steps)
      else assert(steps.takeRight(2) == List("putIfAbsent", "replace") && steps.count(_ == "putIfAbsent") == 1,
        s"$name: $steps")
      info(s"$name: ${steps.size} steps (${steps.groupBy(identity).map { case (s, n) => s"${n.size} $s" }.mkString(", ")})")
      (1 to steps.size).foreach { k =>
        val dir = copyOf(preOp)
        intercept[InjectedCrash](op(new LakeTable(spark, dir, "t", new CrashingStore(k))))
        val expected = if (claimAt == 0 || k <= claimAt) pre else post
        assert(rowsHash(dir) == expected, s"$name, crash at step $k of $steps: a partial or wrong state")
        op(LakeTable.load(spark, dir, "t"))
        assert(rowsHash(dir) == post, s"$name, crash at step $k: redo did not reach the clean state")
        val t = LakeTable.load(spark, dir, "t")
        t.vacuum(keepSnapshots = 1)
        val snap = t.snapshot
        val refs = t.filesOf(snap).map(_.path).toSet
        assert(filesUnder(dir, "data", ".parquet") == refs && refs.size == cleanRefs,
          s"$name, crash at step $k: vacuum must leave exactly the referenced data files")
        assert(filesUnder(dir, "meta/m", ".json") == snap.manifests.map(_.path).toSet,
          s"$name, crash at step $k: vacuum must leave exactly the referenced manifests")
        val next = new HookedStore
        new LakeTable(spark, dir, "t", next).setProperties(Map("crash.point" -> k.toString))
        assert(next.steps == Seq("putIfAbsent", "replace"),
          s"$name, crash at step $k: the next commit must claim on its first attempt")
        points += 1
      }
    }
    info(f"$points crash points over ${ops.size} ops in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
