package graft

import org.apache.spark.sql.functions._
import graft.ext.Extensions
import graft.model.Tables

/** The shared component-label fixture (cc-cache): the five CC-family
  * queries must read ONE persisted label frame per input instead of
  * each re-running pair generation + iterative CC. */
class CcCacheSpec extends SparkSpec {

  test("minhash labels: fixture equals a live CC run and is served from disk") {
    val live = graft.ops.Graph.connectedComponents(
        Extensions.minhashPairs(spark, sf0001).select("id_a", "id_b"),
        Tables.documents(spark, sf0001).select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Extensions.releaseCaches()

    val fixture = Extensions.minhashComponentLabels(spark, sf0001)
    assert(fixture.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == live)
    // ONE key per input: the fingerprint must be stable across calls —
    // session-global counters in the plan string (expr ids, lambda
    // variable names) once minted a fresh key per call, so every
    // consumer silently re-ran CC into a new fixture dir. Compared as
    // the dir set before and after the repeat call, so an older key
    // left in target/ by a previous plan version cannot fail it
    // (.tmp_ dirs are a crashed build's leftovers, never served)
    def mhDirs(): Set[String] = new java.io.File("target/cc-cache").listFiles()
      .map(_.getName).filter(n => n.contains("sf0.001_documents") &&
        n.contains("_mh_") && !n.startsWith(".tmp_")).toSet
    val before = mhDirs()
    // second call must be served from the persisted fixture: the
    // executed plan is a parquet scan of target/cc-cache, no CC loop
    val plan = Extensions.minhashComponentLabels(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cc-cache"), s"expected a cc-cache scan, got:\n$plan")
    assert(mhDirs() == before,
      s"unstable fixture key: ${mhDirs().diff(before).mkString(", ")}")
    Extensions.releaseCaches()
  }

  test("all three minhash-family queries consume the shared fixture") {
    Extensions.minhashComponentLabels(spark, sf0001).count() // ensure built
    for (q <- Seq(Extensions.dedupClusters, Extensions.clusterRepresentative,
                  Extensions.clusterWeightedSample)) {
      val plan = q.fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(plan.contains("cc-cache"), s"${q.name} does not read the shared labels")
      Extensions.releaseCaches()
    }
  }

  test("both semantic-family queries consume the shared semantic fixture") {
    Extensions.semanticComponentLabels(spark, sf0001).count()
    for (q <- Seq(Extensions.semanticClusters, Extensions.corpusCurateSemantic)) {
      val plan = q.fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(plan.contains("cc-cache"), s"${q.name} does not read the shared labels")
      Extensions.releaseCaches()
    }
  }

  test("unigram/bigram LM queries read the persisted model (lm-cache)") {
    def lmDirs(): Set[String] = new java.io.File("target/lm-cache").listFiles()
      .map(_.getName)
      .filter(n => n.contains("sf0.001") && !n.startsWith(".tmp_")).toSet
    for (q <- Seq(Extensions.unigramLogprob, Extensions.bigramLogprob)) {
      q.fn(spark, sf0001).count() // ensure the model fixture is built
      val before = lmDirs()
      val plan = q.fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(plan.contains("lm-cache"), s"${q.name} does not read the persisted LM")
      // ONE key per (input, model order): the repeat call adds no dir
      assert(lmDirs() == before,
        s"${q.name}: unstable fixture key: ${lmDirs().diff(before).mkString(", ")}")
      Extensions.releaseCaches()
    }
  }

  test("data change orphans the fixture: a different source file builds a new key") {
    import spark.implicits._
    val dir = "target/tmp-cc-key"
    dropFixturesOf(s"$dir/")
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
        .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = "a planted sentence that is long enough to carry shingles and bands"
    write(Seq(1L -> t, 2L -> t, 3L -> "something entirely different and unrelated here"))
    val first = Extensions.minhashComponentLabels(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first == Set((1L, 1L), (2L, 1L), (3L, 3L)))
    Extensions.releaseCaches()
    // rewrite with doc 2 now unique → labels MUST change (stale fixture
    // would keep serving the old clustering). No mtime-tick sleep: the
    // fixture key aggregates the part-files' byte lengths, so a
    // same-second rewrite with different content still flips the key
    write(Seq(1L -> t, 2L -> "no longer a duplicate of number one at all",
      3L -> "something entirely different and unrelated here"))
    val second = Extensions.minhashComponentLabels(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(second == Set((1L, 1L), (2L, 2L), (3L, 3L)))
    Extensions.releaseCaches()
    // each rewrite keyed its own labels; the spec deletes what it keyed
    // on its planted source, so no run leaves a set behind
    val labelDirs = fixtureDirsOf(s"$dir/")
      .filter(_.getParentFile.getName == "cc-cache")
    assert(labelDirs.length == 2,
      s"want one label key per source version: ${labelDirs.map(_.getName).mkString(", ")}")
    dropFixturesOf(s"$dir/")
    assert(fixtureDirsOf(s"$dir/").isEmpty,
      s"fixture dirs keyed on $dir remain: ${fixtureDirsOf(s"$dir/").mkString(", ")}")
  }
}
