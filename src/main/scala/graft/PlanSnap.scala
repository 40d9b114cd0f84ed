package graft

import java.nio.file.{Files, Paths}

/** Round-14 instrumentation: write `explain("formatted")` of chosen
  * registered queries to individual files — the before/after plan
  * evidence the optimization rounds commit under `plans/rNN/`.
  * Usage: runMain graft.PlanSnap <sfDir> <outDir> <suffix> <q1,q2,...>
  * (file name = <query>_<suffix>.txt). */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    val wanted = args(3).split(",").toSeq
    val spark = Dev.local("4", "ERROR", Dev.Utc)
    Files.createDirectories(outDir)
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    wanted.foreach { name =>
      val df = byName(name).fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
