package graft

/** Dev tool: time a subset of registered queries, N repetitions each,
  * on a chosen SF dir — the inner loop for performance work without
  * paying for the whole bench. Usage:
  *   runMain graft.Profile <sfDir> <reps> <q1,q2,...>
  *
  * Each rep prints its wall split into frame CONSTRUCTION (the eager
  * driver-side part: model fixture loads, routing collects) and the
  * noop-write execution, plus its Spark job count — the iterative and
  * eager queries are job-count-bound at bench scale (each job is
  * ~10-100 ms of scheduler and stage overhead against trivial data),
  * so the job count is the number to shrink. `codegen N` counts the
  * rep's Janino compiles: a class missing from Spark's codegen cache
  * (100 entries) is compiled again, at ~20 ms each.
  * SPARK_GRAFT_PROFILE_JOBS=1 additionally prints one line per Spark
  * job (duration, description): WHICH eager step mints the jobs.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = Dev.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val wanted =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq
    val traceJobs = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    val jobs = Dev.recorder(spark)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    for (name <- wanted; fn = SparkEntry.queries(name); r <- 1 to reps) {
      val j0 = jobs.jobCount
      val c0 = compiles.getCount
      val t0 = System.nanoTime()
      // full materialization (see Bench): count() would let the
      // optimizer time a smaller query than the one users run
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val jBuild = jobs.jobCount - j0
      df.write.format("noop").mode("overwrite").save()
      spark.sqlContext.clearCache()
      val total = (System.nanoTime() - t0) / 1e9
      // the count is the whole point, so drain the bus first: a fixed
      // sleep undercounted the rep just measured on a loaded host
      val spans = jobs.drain().jobsAfter(j0)
      if (traceJobs)
        spans.filter(_.endNs != 0L).foreach { j =>
          println(f"JOB ${j.id}%5d ${(j.endNs - j.startNs) / 1e6}%8.1f ms  ${j.description}%s")
        }
      println(f"PROFILE $name rep$r $total%.3f s (build $tBuild%.3f s, exec ${total - tBuild}%.3f s, jobs ${spans.size}%d of which build $jBuild%d, codegen ${compiles.getCount - c0}%d)")
    }
    spark.stop()
  }
}
