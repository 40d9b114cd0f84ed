package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt runs them in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Fixture dirs (`target/<family>/fx<source path>_<key>`) keyed on a
    * source whose path starts with `srcPrefix`. */
  def fixtureDirsOf(srcPrefix: String): Seq[java.io.File] = {
    val prefix = "fx" + srcPrefix.replaceAll("[^A-Za-z0-9._-]", "_")
    Option(new java.io.File("target").listFiles()).toSeq.flatten
      .flatMap(family => Option(family.listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith(prefix))
  }

  /** Delete the fixture dirs keyed on a source under `srcPrefix`. */
  def dropFixturesOf(srcPrefix: String): Unit =
    fixtureDirsOf(srcPrefix)
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)

  /** Specs write their planted sources under `target/tmp-*`; every
    * rewrite mints a new data-fingerprint key, so each suite deletes
    * the fixture dirs keyed on those sources when it ends instead of
    * leaving one more set per run. */
  override def afterAll(): Unit =
    try dropFixturesOf("target/tmp-") finally super.afterAll()

  /** Spark jobs started while `f` runs, counted by the one src/main
    * listener after a bus drain. */
  def jobsIn(f: => Unit): Int = {
    val rec = Dev.recorder(spark)
    try {
      rec.drain()
      val j0 = rec.jobCount
      f
      rec.drain().jobCount - j0
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  /** SHA-256-prefix 60-bit hash — the ONE in-test twin of
    * graft.expr.Sha60 (previously copied per suite; a drifting copy
    * would silently weaken every twin that hashes). */
  def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }
}
