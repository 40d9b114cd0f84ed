package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One iteration's outcome: the timed wall, whether every output check
  * passed, and named facts (end-to-end extras and, when traced,
  * per-layer numbers). */
final case class Iter(wallS: Double, ok: Boolean, why: String, facts: Map[String, Double])

/** A closed-loop workload: one client, each iteration starts when the
  * previous one ends. `iteration` times only the calls into the program;
  * preparation and output checks around them stay outside the wall. */
trait Workload {
  def inputRows: Long
  def setup(): Unit
  def iteration(i: Int, traced: Boolean): Iter
  /** Per-layer numbers measured once per traced run (kernels). */
  def layersOnce(): Map[String, Double] = Map.empty
}

object Util {
  def group(spark: SparkSession, name: String): Unit =
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)

  /** Wait until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerBusAccess.drain(spark.sparkContext)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, secs(t0))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def percentile(sorted: Array[Long], p: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1 max 0))

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(from.toFile, to.toFile)

  def treeBytes(p: java.nio.file.Path): Long =
    if (java.nio.file.Files.exists(p)) org.apache.commons.io.FileUtils.sizeOfDirectory(p.toFile)
    else 0L
}
