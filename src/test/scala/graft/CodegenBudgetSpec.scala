package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.ext.Extensions

/** The warm daily corpus pass (the four queries of the benchmark's
  * `corpus_daily` workload) must fit Spark's codegen cache: 100 entries
  * in 4 LRU segments, two entries per whole-stage class (DESIGN.md "The
  * codegen budget"). A pass that needs more keys than the cache holds
  * evicts its own classes and compiles nearly all of them again on
  * every pass; one that fits compiles only the few its segments
  * overflow. */
class CodegenBudgetSpec extends SparkSpec {

  /** Janino compiles of one pass over the four queries, each collected
    * and its caches released, as the daily pass runs them. */
  private def pass(): Long = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    for (q <- Seq(Extensions.corpusCurateFull, Extensions.dedupMinhash,
                  Extensions.topkIvfpq, Extensions.topkCosine)) {
      q.fn(spark, sf0001).collect()
      spark.sqlContext.clearCache()
    }
    compiles.getCount - c0
  }

  test("a warm daily corpus pass compiles at most 60 classes in the default codegen cache") {
    pass() // stored models, fixtures, memos and the pass's own classes
    val second = pass()
    info(s"second pass: $second compiles")
    assert(second <= 60,
      s"the second pass compiled $second classes: its generated classes no longer fit the codegen cache")
  }
}
