package graft

/** Dev tool: print a registered query's result rows. Usage:
  *   runMain graft.Show <sfDir> <name> [maxRows]
  */
object Show {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val maxRows = if (args.length > 2) args(2).toInt else 50
    val spark = Dev.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "ERROR", Dev.Utc)
    SparkEntry.queries(name)(spark, sfDir).show(maxRows, truncate = false)
    spark.stop()
  }
}
