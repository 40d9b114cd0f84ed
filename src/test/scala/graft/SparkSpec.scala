package graft

import org.apache.spark.sql.SparkSession
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

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

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
