package graft

/** Local replica of the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Dev.local("4", "WARN", Dev.Utc)
    val n = SparkEntry.entry(spark).count()
    println(s"""{"smoke_rows":$n,"ok":${n > 0}}""")
    spark.stop()
  }
}
