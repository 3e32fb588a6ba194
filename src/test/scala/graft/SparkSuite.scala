package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "1048576")
      // SQL MERGE INTO lowering for GraftCatalog tables (GraftSqlSpec)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Listener buses deliver asynchronously: poll `count` until it has held
    * still for half a second. */
  def awaitStable(count: => Int): Unit = {
    var last = -1; var stableFor = 0
    while (stableFor < 5) {
      val c = count
      if (c == last) stableFor += 1 else { stableFor = 0; last = c }
      Thread.sleep(100)
    }
  }

  /** The Spark jobs `f` starts, by `spark.job.description` ("" when unset),
    * recorded with AQE off: AQE submits each shuffle map stage as its own
    * job, which would count one pass twice. */
  def jobsOf[T](f: => T): (T, Seq[String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")); ()
      }
    }
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      awaitStable(jobs.size)
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }
}
