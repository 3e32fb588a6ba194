package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions._

import graft.cdc._
import graft.cdc.lake._
import graft.cdc.ingest._
import graft.cdc.model._

/** Lake writes and stream checkpoints start no operating-system process.
  * Without Hadoop's native library, `RawLocalFileSystem` forks `chmod` for
  * every file and directory it creates and `readlink` for every checkpoint
  * rename; the engine's `file:` binding sets the same modes in-process. Forks
  * are counted from a JFR recording of `jdk.ProcessStart` events. */
class ForkFreeIoSpec extends SparkSuite {

  /** The commands of every process the JVM starts while `f` runs. */
  private def processStarts[T](f: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try f finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      (out, RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  /** `dir` as a command would name it: as given and as its real path, with a
    * trailing separator so `/tmp/t1` does not match `/tmp/t12`. */
  private def prefixes(dir: String): Seq[String] =
    Seq(Paths.get(dir), Paths.get(dir).toRealPath()).map(_.toString + "/").distinct

  private def mode(p: Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def tree(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.toList finally s.close()
  }

  test("the recording sees the chmod RawLocalFileSystem forks (instrument check)") {
    assume(!org.apache.hadoop.io.nativeio.NativeIO.isAvailable,
      "with Hadoop's native library RawLocalFileSystem forks nothing")
    val dir = tmpDir("fork-control")
    val f = Paths.get(dir, "x")
    Files.createFile(f)
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
    val (_, cmds) = processStarts(fs.setPermission(new org.apache.hadoop.fs.Path(f.toUri),
      new org.apache.hadoop.fs.permission.FsPermission("640")))
    assert(cmds.exists(c => prefixes(dir).exists(c.contains)), s"commands: $cmds")
    assert(mode(f) == "rw-r-----")
  }

  test("CoW and MoR epochs, side tables, compaction and a streamed replay fork no process") {
    val cfg = gen.GenConfig(n = 2000, nKeys = 400, numPartitions = 2)
    val all = gen.changeEvents(spark, cfg).cache()
    def slice(e: Int) = all.filter(col("lsn") >= e * 500 && col("lsn") < (e + 1) * 500)
    val cowRoot = tmpDir("ff-cow")
    val linRoot = tmpDir("ff-lineage")
    val metRoot = tmpDir("ff-metrics")
    val morRoot = tmpDir("ff-mor")
    val streamRoot = tmpDir("ff-stream")
    val srcDir = tmpDir("ff-src")
    val ckDir = tmpDir("ff-ck")
    (2 until 4).foreach(e => slice(e).coalesce(1).write.mode("append").parquet(srcDir))
    val cow = LakeTable.createIfNotExists(spark, cowRoot, "t", RepoRow.schemaV1,
      RepoRow.keyColumns, numBuckets = 8)
    val lt = LakeTable.createIfNotExists(spark, linRoot, "lineage",
      org.apache.spark.sql.Encoders.product[LineageEntry].schema,
      Seq("table", "snapshot_version", "partition"), numBuckets = 4)
    val mt = LakeTable.createIfNotExists(spark, metRoot, "metrics",
      org.apache.spark.sql.Encoders.product[EpochMetrics].schema, Seq("epoch"), numBuckets = 2)
    val mor = LakeTable.createIfNotExists(spark, morRoot, "m", RepoRow.schemaV1,
      RepoRow.keyColumns, numBuckets = 8)
    val streamed = LakeTable.createIfNotExists(spark, streamRoot, "s", RepoRow.schemaV1,
      RepoRow.keyColumns, numBuckets = 8)
    val reg = SchemaRegistry.single(RepoRow.schemaV1)

    val (batches, cmds) = processStarts {
      val cowEngine = new ReplayEngine(cow, reg, lineageTable = Some(lt), metricsTable = Some(mt))
      assert(cowEngine.applyEpoch(slice(0), 0).committed)
      assert(cowEngine.applyEpoch(slice(1), 1).committed)
      val morEngine = new ReplayEngine(mor, reg, mode = MergeMode.MoR)
      assert(morEngine.applyEpoch(slice(0), 0).committed)
      assert(morEngine.applyEpoch(slice(1), 1).committed)
      assert(mor.compactDeltas() > 0)
      val q = streaming.replayStream(
        streaming.changeStream(spark, srcDir, all.schema, maxFilesPerTrigger = Some(1)),
        new ReplayEngine(streamed, reg), ckDir)
      q.awaitTermination(120000)
      q.recentProgress.count(_.numInputRows > 0)
    }
    all.unpersist()
    assert(batches == 2, s"$batches data batches")
    assert(streamed.snapshot.epochId == 1 && lt.read().count() > 0 && mt.read().count() == 2)

    val watched = Seq(cowRoot, linRoot, metRoot, morRoot, streamRoot).flatMap(prefixes) ++
      Seq("offsets", "commits").flatMap(d => prefixes(Paths.get(ckDir, d).toString))
    val hits = cmds.filter(c => watched.exists(c.contains))
    assert(hits.isEmpty, s"${hits.size} forked process(es), e.g. ${hits.take(5).mkString(" | ")}")

    // the modes RawLocalFileSystem set under Hadoop's default umask (022)
    Seq(cowRoot, linRoot, metRoot, morRoot, streamRoot).foreach { root =>
      val paths = tree(root)
      val files = paths.filter(_.toString.endsWith(".parquet"))
      val dirs = paths.filter(_.getFileName.toString.startsWith("_b="))
      assert(files.nonEmpty && dirs.nonEmpty, s"$root holds no data files")
      files.foreach(p => assert(mode(p) == "rw-r--r--", s"$p: ${mode(p)}"))
      dirs.foreach(p => assert(mode(p) == "rwxr-xr-x", s"$p: ${mode(p)}"))
    }
  }
}
