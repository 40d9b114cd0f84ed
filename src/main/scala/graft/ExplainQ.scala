package graft

/** Dev tool: print one registered query's formatted physical plan.
  * Usage: runMain graft.ExplainQ <sfDir> <name>
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val spark = Dev.local("8", "ERROR")
    println(SparkEntry.queries(args(1))(spark, args(0)).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
