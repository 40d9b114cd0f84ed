package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Extensions

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: distinct char n-grams; short text degrades to itself") {
    val got = Seq("abcdefg").toDF("text")
      .select(Extensions.shingles(col("text"), 5).as("s")).collect()(0)
      .getSeq[String](0)
    assert(got == Seq("abcde", "bcdef", "cdefg"))
    val short = Seq("ab").toDF("text")
      .select(Extensions.shingles(col("text"), 5).as("s")).collect()(0)
      .getSeq[String](0)
    assert(short == Seq("ab"))
  }

  test("minhash: identical docs have identical signatures; disjoint docs don't") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                   (2L, "the quick brown fox jumps over the lazy dog"),
                   (3L, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr"))
      .toDF("doc_id", "text")
    val sig = Extensions.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("substringDedupStats: planted spans, hand-computed interval union") {
    // W=8. doc1/doc2 share a 10-token span (3 dup gram starts each,
    // union covers exactly the 10 span tokens); doc3 is clean; doc4
    // self-repeats an 8-token run (both occurrences duplicated, 16
    // covered); doc5/doc6 are identical SHORT docs (< W tokens → one
    // whole-doc gram each, full coverage clipped to doc length).
    val docs = Seq(
      (1L, "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u3 u4"),
      (2L, "v1 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 v2 v3 v4 v5"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      (4L, "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8"),
      (5L, "a b c"), (6L, "a b c")).toDF("doc_id", "text")
    val got = Extensions.substringDedupStats(docs).collect().map(r =>
      r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(got(1L) == ((14L, 7L, 3L, 10L, 0.7143)))
    assert(got(2L) == ((15L, 8L, 3L, 10L, 0.6667)))
    assert(got(3L) == ((9L, 2L, 0L, 0L, 0.0)))
    assert(got(4L) == ((17L, 10L, 2L, 16L, 0.9412)))
    assert(got(5L) == ((3L, 1L, 1L, 3L, 1.0)))
    assert(got(6L) == ((3L, 1L, 1L, 3L, 1.0)))
  }

  test("ext_top_terms_cms: one-sided estimates, top-10 agrees with exact") {
    val cms = Extensions.topTermsCms.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // CMS never underestimates: every estimate >= the true count
    val exact = Extensions.topTerms.fn(spark, sf0001)
    val trueN = model.Tables.documents(spark, sf0001)
      .select(col("lang"),
        explode(split(Extensions.edgeTrim(lower(col("text"))), "\\s+")).as("t"))
      .filter(length(col("t")) > 2)
      .groupBy("lang", "t").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    cms.foreach { case (l, t, est) =>
      assert(est >= trueN((l, t)), s"underestimate for ($l,$t)") }
    // and with d=4 x w=4096 the top-10 per lang matches the exact query
    // (measured 10/10 at sf0.001 and sf0.01; floor 9 allows one
    // collision-induced boundary flip)
    val exSet = exact.select("lang", "token").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val byLang = cms.groupBy(_._1)
    byLang.foreach { case (l, rows) =>
      val hit = rows.count(r => exSet.contains((r._1, r._2)))
      assert(hit >= 9, s"lang $l: only $hit/10 CMS top terms match exact") }
  }

  test("ext_top_terms_cmm: debiased median clamped by the CMS min, top-10 agrees with exact") {
    val cmm = Extensions.topTermsCmm.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val trueN = model.Tables.documents(spark, sf0001)
      .select(col("lang"),
        explode(split(Extensions.edgeTrim(lower(col("text"))), "\\s+")).as("t"))
      .filter(length(col("t")) > 2)
      .groupBy("lang", "t").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    cmm.foreach { case (l, t, nEst, nCmm) =>
      // the carried CMS min keeps its one-sided guarantee...
      assert(nEst >= trueN((l, t)), s"CMS min underestimates ($l,$t)")
      // ...and the debiased median sits inside [0, CMS min] — it may
      // under- OR over-shoot the truth (it traded one-sidedness for a
      // centered estimate), but never escapes the clamp
      assert(nCmm >= 0.0 && nCmm <= nEst.toDouble,
        s"debiased estimate outside [0, min] for ($l,$t): $nCmm vs $nEst")
    }
    val exSet = Extensions.topTerms.fn(spark, sf0001)
      .select("lang", "token").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    cmm.groupBy(_._1).foreach { case (l, rows) =>
      val hit = rows.count(r => exSet.contains((r._1, r._2)))
      assert(hit >= 9, s"lang $l: only $hit/10 CMM top terms match exact")
    }
  }

  test("substringDedupRewrite: canonical occurrence kept, every copy removed") {
    // same planted corpus as the stats test. Canonical = global first
    // (min doc, then min pos): doc1 owns the shared 10-token span so it
    // keeps everything and doc2 loses exactly the span; doc4's
    // self-repeat keeps its first 8-token run and drops the second;
    // doc5 (canonical) keeps the short dup whole-doc gram, doc6 loses
    // its entire text.
    val docs = Seq(
      (1L, "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u3 u4"),
      (2L, "v1 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 v2 v3 v4 v5"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      (4L, "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8"),
      (5L, "a b c"), (6L, "a b c")).toDF("doc_id", "text")
    val got = Extensions.substringDedupRewrite(docs).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((14L, 14L, "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u3 u4")))
    assert(got(2L) == ((15L, 5L, "v1 v2 v3 v4 v5")))
    assert(got(3L) == ((9L, 9L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")))
    assert(got(4L) == ((17L, 9L, "r1 r2 r3 r4 r5 r6 r7 r8 x")))
    assert(got(5L) == ((3L, 3L, "a b c")))
    assert(got(6L) == ((3L, 0L, "")))
  }

  test("substr compaction fold == monolithic gram index (counts AND canonicals fold)") {
    import org.apache.spark.sql.functions.{col => c}
    val bucket = pmod(
      graft.expr.Scalars.hash60(c("doc_id").cast("string")), lit(100L))
    val base = model.Tables.documents(spark, sf0001)
      .select(c("doc_id"), c("text"), bucket.as("bucket"))
    val corpus = base.filter(c("bucket") < 80).select("doc_id", "text")
    val day1 = base.filter(c("bucket") >= 80 && c("bucket") < 90)
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    // the same monoid fold substrGramsCompacted runs: sum the counts,
    // min-struct the canonicals
    val folded = rows(Extensions.substringGramIndex(corpus)
      .unionByName(Extensions.substringGramIndex(day1))
      .groupBy("g").agg(sum("cnt").as("cnt"),
        min(struct(c("cdoc").as("d"), c("cpos").as("p"))).as("canon"))
      .select(c("g"), c("cnt"), c("canon.d"), c("canon.p")))
    val mono = rows(Extensions.substringGramIndex(
      base.filter(c("bucket") < 90).select("doc_id", "text")))
    assert(folded == mono)
  }

  test("substrRewriteAgainst: cross-split canonicals (corpus-held, batch-held, self-repeat)") {
    // the keep-one policy is GLOBAL min (doc_id, pos): the arrival must
    // honor a canonical wherever it lives. Corpus doc 10 owns the
    // s-span; batch doc 5 (lowest id anywhere) owns the t-span even
    // though corpus doc 30 also carries it; batch doc 40 self-repeats.
    val corpus = Seq(
      (10L, "u1 u2 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 u3 u4"),
      (30L, "z1 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 z2")).toDF("doc_id", "text")
    val batch = Seq(
      (5L,  "q1 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 q2"),
      (20L, "v1 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 v2 v3 v4 v5"),
      (40L, "r1 r2 r3 r4 r5 r6 r7 r8 x r1 r2 r3 r4 r5 r6 r7 r8"),
      (50L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")).toDF("doc_id", "text")
    val got = Extensions.substrRewriteAgainst(batch,
        Extensions.substringGramIndex(corpus)).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == Set(5L, 20L, 40L, 50L),
      "arrival output must cover exactly the batch docs")
    // batch-held canonical: doc 5 < corpus doc 30 → the batch keeps its span
    assert(got(5L) == ((12L, 12L, "q1 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 q2")))
    // corpus-held canonical: merged count 1+1 ≥ 2, doc 10 is first → doc 20
    // loses the whole span
    assert(got(20L) == ((15L, 5L, "v1 v2 v3 v4 v5")))
    // self-repeat within the batch: the first occurrence is the canonical
    assert(got(40L) == ((17L, 9L, "r1 r2 r3 r4 r5 r6 r7 r8 x")))
    // clean doc passes through untouched
    assert(got(50L) == ((9L, 9L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")))
    Extensions.releaseCaches()
  }

  test("substr arrival bloom prefilter: forced-on path output-identical to plain") {
    // the ≥ SubstrBloomMinIndexRows branch never fires at driver SFs
    // (its win is the index-side exchange at scale — ScaleProbe substr
    // measures 1.42×), so the correctness claim — FPs die in the join,
    // FNs impossible — gets direct coverage by forcing the branch
    val bucket = pmod(
      graft.expr.Scalars.hash60(col("doc_id").cast("string")), lit(100L))
    val base = model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"), bucket.as("bucket"))
    val corpus = base.filter(col("bucket") < 80).select("doc_id", "text")
    val batch = base.filter(col("bucket") >= 80).select("doc_id", "text")
    val idx = Extensions.substringGramIndex(corpus)
    val plainStats = Extensions.substrStatsAgainst(batch, idx)
    val bloomStats = Extensions.substrStatsAgainst(batch, idx,
      indexRows = Some(Long.MaxValue))
    assert(plainStats.exceptAll(bloomStats).count() == 0 &&
      bloomStats.exceptAll(plainStats).count() == 0,
      "bloom-prefiltered stats arrival diverged from the plain path")
    val plainRw = Extensions.substrRewriteAgainst(batch, idx)
    val bloomRw = Extensions.substrRewriteAgainst(batch, idx,
      indexRows = Some(Long.MaxValue))
    assert(plainRw.exceptAll(bloomRw).count() == 0 &&
      bloomRw.exceptAll(plainRw).count() == 0,
      "bloom-prefiltered rewrite arrival diverged from the plain path")
    Extensions.releaseCaches()
  }

  test("ext_compact_report: per-family coverage, exact counts, threshold rule") {
    val got = Extensions.compactReport.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.keySet == Set("ivfpq-codes", "imipq-codes", "ivfpqr-codes",
      "bm25-postings", "lsh-buckets", "substr-grams"),
      s"report must cover every stored index family, got ${got.keySet}")
    got.foreach { case (f, (base, batch, ratio, files, _)) =>
      assert(base > 0 && batch > 0 && files > 0, s"$f reports empty state")
      assert(ratio == math.rint(batch.toDouble / base * 1e4) / 1e4,
        s"$f ratio $ratio is not batch/base rounded")
    }
    // exact arrival rows: the code tables write 1 row/vector, the
    // bucket table 3 (nTables) rows/vector — the report's derived
    // counts must equal the real batch cardinalities
    val batchVecs = model.Tables.embeddings(spark, sf0001)
      .filter(pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
        lit(100L)) >= 90).count()
    assert(got("ivfpq-codes")._2 == batchVecs)
    assert(got("imipq-codes")._2 == batchVecs)
    assert(got("ivfpqr-codes")._2 == batchVecs)
    assert(got("lsh-buckets")._2 == 3 * batchVecs)
    // the threshold rule, pinned on planted states the driver SFs
    // never reach: the flag derives from the RATIO alone (a fresh
    // hive-partitioned base legitimately holds cells × writers files,
    // so no universal file count separates layout from debt); an
    // empty base with arrivals always recommends
    assert(!Extensions.compactReportRow("x", 1000, 100, 2)._6,
      "under the ratio threshold must not recommend")
    assert(Extensions.compactReportRow("x", 1000, 250, 2)._6,
      "ratio at threshold must recommend")
    assert(!Extensions.compactReportRow("x", 1000, 100, 10000)._6,
      "file count alone must not trip the flag (layout-relative metric)")
    assert(Extensions.compactReportRow("x", 0, 5, 1)._6,
      "arrivals with no base must recommend (fold into a real base)")
    assert(!Extensions.compactReportRow("x", 0, 0, 1)._6)
    Extensions.releaseCaches()
  }

  test("ext_substr_rewrite_incremental == monolithic rewrite restricted to the batch split") {
    val inc = Extensions.substrRewriteIncremental.fn(spark, sf0001)
    val bucket = pmod(
      graft.expr.Scalars.hash60(col("doc_id").cast("string")), lit(100L))
    val mono = Extensions.substringDedupRewrite(
        model.Tables.documents(spark, sf0001).select(col("doc_id"), col("text")))
      .filter(bucket >= Extensions.IncrementalCorpusPct)
    assert(inc.exceptAll(mono).count() == 0 &&
      mono.exceptAll(inc).count() == 0,
      "arrival rewrite must equal the monolithic rewrite on the batch split")
    Extensions.releaseCaches()
  }

  test("mmrSelect: negative similarity is a diversity bonus; NaN pool degrades") {
    // Carbonell & Goldstein: penalty = (1−λ)·max cos, which REWARDS a
    // candidate anti-correlated with everything selected. A at rel 0.50
    // / cos −0.4 to the first pick scores 0.7·0.50+0.3·0.4 = 0.47 and
    // must beat B at rel 0.52 / cos 0.0 (0.364); a 0-clamped maxSim
    // would pick B.
    val first = Seq(1.0, 0.0, 0.0)
    val a = Seq(-0.4, math.sqrt(1 - 0.16), 0.0)
    val b = Seq(0.0, 0.0, 1.0)
    val pool = Seq((9L, 1L, 0.9, first), (9L, 2L, 0.50, a), (9L, 3L, 0.52, b))
    val got = Extensions.mmrSelect(9L, pool).toSeq
    assert(got.map(_._2) == Seq(1L, 2L, 3L),
      s"negative-cos candidate must be selected second, got ${got.map(_._2)}")
    // all-NaN relevance (a zero embedding normalizes to NaN): no crash,
    // empty selection — degrade like the sibling searches
    val nan = Seq((9L, 1L, Double.NaN, first), (9L, 2L, Double.NaN, b))
    assert(Extensions.mmrSelect(9L, nan).isEmpty)
  }

  test("ext_mmr_rerank equals an independent in-memory MMR; rank 1 = exact NN") {
    val out = Extensions.mmrRerank.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4)))
    // independent reference: plain-scala normalize, pool, greedy
    val raw = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val unit = raw.map { case (id, v) =>
      val n = math.sqrt(dot(v, v)); id -> v.map(_ / n) }
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val lam = 0.7
    for (q <- out.map(_._1).distinct) {
      val qv = unit(q)
      val pool = unit.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, r6(dot(qv, v)), v) }
        .sortBy(t => (-t._2, t._1)).take(30).toArray
      var selected = List.empty[(Long, Double, Double, Int)]
      // -inf, not 0: negative similarity to the selected set is a
      // diversity BONUS under the paper's formula (matches mmrSelect)
      var simState = pool.map(_ => Double.NegativeInfinity)
      val taken = pool.map(_ => false)
      for (r <- 1 to 10) {
        val scores = pool.indices.map { i =>
          if (taken(i)) Double.NegativeInfinity
          else if (r == 1) pool(i)._2
          else lam * pool(i)._2 - (1 - lam) * simState(i)
        }
        // ties → earliest pool index (pool is (rel desc, id asc) sorted)
        val best = scores.indices.maxBy(i => (scores(i), -i))
        taken(best) = true
        selected ::= ((pool(best)._1, pool(best)._2, r6(scores(best)), r))
        simState = pool.indices.map(i =>
          if (taken(i)) simState(i)
          else math.max(simState(i), dot(pool(i)._3, pool(best)._3))).toArray
      }
      val ref = selected.reverse
      val got = out.filter(_._1 == q).sortBy(_._5)
      assert(got.map(t => (t._2, t._5)).toSeq == ref.map(t => (t._1, t._4)),
        s"selection order diverges for query $q")
      got.zip(ref).foreach { case (g, e) =>
        assert(math.abs(g._3 - e._2) <= 1e-6 && math.abs(g._4 - e._3) <= 1e-6,
          s"scores diverge for query $q rank ${g._5}") }
      // diversification never changes the FIRST pick: pure relevance
      assert(got.head._2 == ref.head._1 && got.head._5 == 1)
    }
    // and λ<1 must actually diversify somewhere: at least one query's
    // MMR order differs from its pure-relevance (rel desc, id asc)
    // order — guards a degenerate wiring where the penalty term is 0
    val reordered = out.groupBy(_._1).count { case (_, rows) =>
      val byRank = rows.sortBy(_._5).map(_._2).toSeq
      val byRel = rows.sortBy(t => (-t._3, t._2)).map(_._2).toSeq
      byRank != byRel
    }
    assert(reordered > 0, "MMR output is pure relevance order for every query")
  }

  test("ext_mmr_rerank_ivfpq: routing-bound overlap with the exact-pool MMR") {
    // the indexed composition shares mmrSelect, so any divergence from
    // ext_mmr_rerank is pool recall, not selection logic — overlap is
    // bounded by ivfpq's own recall (0.63-0.675). Measured mean
    // overlap@10: 0.59 at sf0.001, 0.64 at sf0.01; floor 0.4.
    val ex = Extensions.mmrRerank.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
    val iv = Extensions.mmrRerankIvfpq.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
    val exBy = ex.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivBy = iv.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ovs = exBy.keys.toSeq.sorted
      .map(q => (ivBy.getOrElse(q, Set.empty[Long]) & exBy(q)).size / 10.0)
    assert(ovs.sum / ovs.size >= 0.4,
      s"mean MMR overlap ${ovs.sum / ovs.size} below the 0.4 floor")
    // rank 1 is the pool's pure-relevance argmax = ivfpq's rank 1
    val ivfpqTop = Extensions.topkIvfpq.fn(spark, sf0001).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    iv.filter(_._3 == 1).foreach { case (q, c, _) =>
      assert(ivfpqTop(q) == c, s"query $q: MMR rank 1 != ivfpq rank 1") }
  }

  test("topk cosine: nearest neighbor of a vector family is its closest variant") {
    val df = Extensions.topkCosine.fn(spark, sf0001)
    // rank 1 must have the highest cos per query
    val bad = df.withColumn("prev", lag("cos", 1).over(
      org.apache.spark.sql.expressions.Window.partitionBy("query_id").orderBy("rank")))
      .filter(col("prev").isNotNull && col("cos") > col("prev"))
    assert(bad.count() == 0)
    // exactly 10 per query, no self-matches
    val per = df.groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(per == Set(10L))
    assert(df.filter(col("query_id") === col("corpus_id")).count() == 0)
  }

  test("annTopK finds planted near-duplicates (real recall, not vacuous)") {
    // corpus: deterministic pseudo-random vectors + planted twins of the
    // query vectors (tiny perturbation -> same LSH bucket w.h.p., cos≈1)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val base = (0L until 200L).map(i => (i, vec()))
    val planted = base.filter(_._1 % 50 == 0).map { case (i, v) =>
      (i + 10000L, v.map(_ + 1e-4 * rnd.nextGaussian()))
    }
    val emb = spark.createDataFrame((base ++ planted)).toDF("vec_id", "v")
    val out = Extensions.annTopK(emb,
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000).select("vec_id"), k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every query's top-1 must be its planted twin
    assert(out.keySet == Set(0L, 50L, 100L, 150L))
    out.foreach { case (q, c) => assert(c == q + 10000L, s"query $q matched $c") }
  }

  test("connectedComponents: chains collapse to min id, isolated nodes keep themselves") {
    import spark.implicits._
    // component {1,2,3,4} via a chain, {10,11}, and isolated 20
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val got = ops.Graph.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connectedComponents reliable-checkpoint mode: same labels, files on disk") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 7L, 8L, 99L).toDF("id")
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val reliable = graft.ops.Graph
      .connectedComponents(edges, nodes, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = graft.ops.Graph.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 99L -> 99L))
    // reliable mode must actually write recoverable blocks to the dir
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, s"no checkpoint files under $dir")
    // retention is caller-owned (see Graph scaladoc): clean up here
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("dedup clusters are consistent with the pair set they come from") {
    val pairs = Extensions.minhashPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Extensions.dedupClusters.fn(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every paired duo shares a cluster, and cluster ids are members
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.values.foreach(c => assert(clusters(c) == c, s"cluster id $c not a root"))
  }

  test("ivfTopK finds planted near-duplicates (coarse quantizer has real recall)") {
    // a planted twin lies ~on top of its query vector, so both land in
    // the same KMeans cell and the exact rerank puts it at rank 1
    val rnd = new scala.util.Random(11)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val base = (0L until 200L).map(i => (i, vec()))
    val planted = base.filter(_._1 % 50 == 0).map { case (i, v) =>
      (i + 10000L, v.map(_ + 1e-4 * rnd.nextGaussian()))
    }
    val emb = spark.createDataFrame(base ++ planted).toDF("vec_id", "v")
    val out = Extensions.ivfTopK(emb,
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000).select("vec_id"), k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0L, 50L, 100L, 150L))
    out.foreach { case (q, c) => assert(c == q + 10000L, s"query $q matched $c") }
  }

  test("routeCells (model-table join) == the literal probe-struct routing, incl. ties") {
    // round-10 replaced the O(nCells) literal routing array with a
    // broadcast centroid-table join + top-nProbe window — this is the
    // equality reference the swap is licensed by: same dots (the same
    // DotProduct chain over the same doubles), same (dot desc, cell
    // asc) tie-break, per query row the SAME probed cell set in the
    // SAME order. Run on the real trained quantizer AND on a planted
    // exact-tie model (two identical centroids) so the tie-break claim
    // is exercised, not assumed.
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cs = Extensions.ivfCentroids(emb,
      centroidSrc = Some(s"$sf0001/embeddings.parquet"))
    val q = emb.select(col("vec_id").as("query_id"),
      transform(col("v"), x =>
        x / sqrt(aggregate(zip_with(col("v"), col("v"), _ * _),
          lit(0.0), _ + _))).as("nv"))
    for (quant <- Seq(cs, cs ++ Array(cs(0).clone()))) { // planted exact tie
      val nProbe = 6
      val joined = Extensions.routeCells(q, "query_id", "nv", quant, nProbe)
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      val literal = Extensions.routeCellsLiteral(q, "query_id", "nv", quant, nProbe)
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(joined.sorted.toSeq == literal.sorted.toSeq,
        s"probed-cell sets diverge at nCells=${quant.length}")
    }
  }

  test("assignCells join branch == the literal argmax form, incl. ties") {
    // the corpus-side twin of the routeCells equality above: past the
    // terms budget (cells×dim > 1024) assignment becomes a broadcast
    // model-table join + min(struct(-dot, cell)) partial agg — the
    // lexicographic struct min must reproduce argmaxCell's first-max
    // tie-break exactly. 40 cells × 64 dims = 2560 terms forces the
    // join branch; a planted duplicate centroid exercises the tie.
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cs = Extensions.ivfCentroids(emb,
      centroidSrc = Some(s"$sf0001/embeddings.parquet"))
    val big = (0 until 40).map(i => cs(i % cs.length).map(x =>
      x * (1.0 + 0.01 * (i / cs.length)))).toArray
    for (quant <- Seq(big, big.take(2) ++ big)) { // planted exact ties
      assert(quant.length.toLong * quant.head.length >
        Extensions.IvfLiteralAssignMaxTerms, "test must hit the join branch")
      val joined = Extensions.assignCells(emb, "vec_id", "v", quant)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      val literal = Extensions.assignCellsLiteralRef(emb, "vec_id", "v", quant)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(joined.sorted.toSeq == literal.sorted.toSeq,
        s"cell assignments diverge at nCells=${quant.length}")
    }
  }

  test("ext_ivfpq_incremental == ext_topk_ivfpq (frozen models, merged == monolithic)") {
    // codes and cell assignments are PER-VECTOR under the frozen
    // full-corpus models, so stored-90% ∪ one-scan-encoded-batch must
    // be row-identical to the monolithic combined index (the relative
    // cap never binds at driver SFs — CapBindSpec asserts the
    // headroom) and the search outputs must match exactly
    val mono = Extensions.topkIvfpq.fn(spark, sf0001)
    val inc = Extensions.ivfpqIncremental.fn(spark, sf0001)
    assert(inc.exceptAll(mono).count() == 0 &&
      mono.exceptAll(inc).count() == 0,
      "ext_ivfpq_incremental diverged from ext_topk_ivfpq")
    Extensions.releaseCaches()
  }

  test("ext_ivfpq_compact == ext_topk_ivfpq; compacted table == monolithic build") {
    // compaction folds the arrival state (stored 90% base ∪ one-scan
    // batch codes) into one fresh capped cell-partitioned table under
    // the SAME frozen models — so both the compacted TABLE and the
    // search over it must be row-identical to the monolithic path
    // (cap headroom at driver SFs per CapBindSpec)
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val src = s"$sf0001/embeddings.parquet"
    val cbs = Extensions.pqCodebooks(emb, codebookSrc = Some(src))
    val cs = Extensions.ivfCentroids(emb, centroidSrc = Some(src))
    val (corpus, batch) = Extensions.incrementalSplit(emb)
    val compacted = Extensions.ivfpqCompactedCodes(
      Extensions.ivfpqCellCodes(corpus, cbs, cs, Some(src)),
      Extensions.ivfpqEncodeAssign(batch, cbs, cs), src)
    val monoTable = Extensions.ivfpqCellCodes(emb, cbs, cs, Some(src))
    assert(compacted.exceptAll(monoTable).count() == 0 &&
      monoTable.exceptAll(compacted).count() == 0,
      "compacted table diverged from the monolithic combined index")
    val mono = Extensions.topkIvfpq.fn(spark, sf0001)
    val comp = Extensions.ivfpqCompact.fn(spark, sf0001)
    assert(comp.exceptAll(mono).count() == 0 &&
      mono.exceptAll(comp).count() == 0,
      "ext_ivfpq_compact diverged from ext_topk_ivfpq")
    Extensions.releaseCaches()
  }

  test("lexical/LSH compaction: compacted tables == monolithic; searches equal their exact twins") {
    // lexical: postings are per-doc facts (no cap), so the compacted
    // table must be the full-corpus postings table ROW-EXACT — which
    // is what lets ext_bm25_compact share ext_bm25_search's DuckDB
    // oracle (the strongest gate any maintenance op has)
    val docSrc = s"$sf0001/documents.parquet"
    val (dCorpus, dBatch) = Extensions.incrementalDocSplit(spark, sf0001)
    val compactedP = Extensions.postingsCompacted(
      Extensions.postingsOf(dCorpus), Extensions.postingsOf(dBatch), docSrc)
    val monoP = Extensions.bm25Postings(spark, sf0001)
    assert(compactedP.exceptAll(monoP).count() == 0 &&
      monoP.exceptAll(compactedP).count() == 0,
      "compacted postings diverged from the monolithic table")
    val bm25Mono = Extensions.bm25Search.fn(spark, sf0001)
    val bm25Comp = Extensions.bm25Compact.fn(spark, sf0001)
    assert(bm25Comp.exceptAll(bm25Mono).count() == 0 &&
      bm25Mono.exceptAll(bm25Comp).count() == 0,
      "ext_bm25_compact diverged from ext_bm25_search")
    Extensions.releaseCaches()
    // LSH: the compacted table re-resolves the hot-bucket cap over the
    // merged rows; at driver SFs the cap never binds (headroom asserted
    // in the incremental test's CapBind posture), so compacted ==
    // monolithic capped index and the search output equals ext_ann_lsh
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (vCorpus, vBatch) = Extensions.incrementalSplit(emb)
    val compactedB = Extensions.lshCompactedBuckets(
      Extensions.lshBucketRows(vCorpus, Some(256)),
      Extensions.lshBucketRows(vBatch, None), s"$sf0001/embeddings.parquet")
    val monoB = Extensions.lshBucketRows(emb, Some(256))
    assert(compactedB.exceptAll(monoB).count() == 0 &&
      monoB.exceptAll(compactedB).count() == 0,
      "compacted bucket table diverged from the monolithic capped index")
    val lshMono = Extensions.annLsh.fn(spark, sf0001)
    val lshComp = Extensions.lshCompact.fn(spark, sf0001)
    assert(lshComp.exceptAll(lshMono).count() == 0 &&
      lshMono.exceptAll(lshComp).count() == 0,
      "ext_lsh_compact diverged from ext_ann_lsh")
    Extensions.releaseCaches()
  }

  test("index lifecycle composes: arrive, compact, arrive again == monolithic") {
    // the seam none of the per-verb tests cover: day-2's arrival must
    // union onto the COMPACTED base (not the original), and the
    // resulting three-state composition (base -> +batch1 -> compact ->
    // +batch2) must still equal the monolithic index — the guarantee a
    // production operator actually relies on across days. Frozen
    // full-corpus models + source-blind fold + cap headroom make every
    // intermediate row bit-identical to its monolithic twin.
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val src = s"$sf0001/embeddings.parquet"
    val cbs = Extensions.pqCodebooks(emb, codebookSrc = Some(src))
    val cs = Extensions.ivfCentroids(emb, centroidSrc = Some(src))
    val bucket = pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
      lit(100L))
    val base = emb.filter(bucket < 80)
    val batch1 = emb.filter(bucket >= 80 && bucket < 90)
    val batch2 = emb.filter(bucket >= 90)
    // the REAL compaction API (fixture write + read-back, as the
    // production job does): day-1's arrival state folds to a stored
    // table keyed on ITS merged plan (distinct from the registered
    // 90/10 split's compact), and day-2's arrival unions onto that
    val compacted = Extensions.ivfpqCompactedCodes(
      Extensions.ivfpqCellCodes(base, cbs, cs, Some(src)),
      Extensions.ivfpqEncodeAssign(batch1, cbs, cs), src)
    val day2 = compacted.unionByName(Extensions.ivfpqEncodeAssign(batch2, cbs, cs))
    val monoTable = Extensions.ivfpqCellCodes(emb, cbs, cs, Some(src))
    assert(day2.exceptAll(monoTable).count() == 0 &&
      monoTable.exceptAll(day2).count() == 0,
      "arrive->compact->arrive state diverged from the monolithic index")
    val got = Extensions.ivfpqTopK(emb, Extensions.annQueryIds(emb),
      src = Some(src), codes0 = Some(day2), cbs0 = Some(cbs), cs0 = Some(cs))
    val mono = Extensions.topkIvfpq.fn(spark, sf0001)
    assert(got.exceptAll(mono).count() == 0 &&
      mono.exceptAll(got).count() == 0,
      "search over the composed lifecycle state diverged from ext_topk_ivfpq")
    Extensions.releaseCaches()
  }

  test("residual index lifecycle: incremental and compacted searches == ext_topk_ivfpqr") {
    // the arrival + fold contracts for the residual geometry: all
    // three models (centroids, cell means, residual codebook) are
    // frozen full-corpus fixtures, so batch-encoded rows are
    // bit-identical to the monolithic build's and all three searches
    // must agree exactly (cap headroom at driver SFs)
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val src = s"$sf0001/embeddings.parquet"
    val cs = Extensions.ivfCentroids(emb, centroidSrc = Some(src))
    val ms = Extensions.ivfCellMeans(emb, cs, Some(src))
    val cbs = Extensions.pqrCodebooks(emb, cs, ms, Some(src))
    val (corpus, batch) = Extensions.incrementalSplit(emb)
    val merged = Extensions.ivfpqrCellCodes(corpus, cbs, cs, ms, Some(src))
      .unionByName(Extensions.ivfpqrEncodeAssign(batch, cbs, cs, ms))
    val monoTable = Extensions.ivfpqrCellCodes(emb, cbs, cs, ms, Some(src))
    assert(merged.exceptAll(monoTable).count() == 0 &&
      monoTable.exceptAll(merged).count() == 0,
      "merged residual index diverged from the monolithic build")
    val mono = Extensions.topkIvfpqr.fn(spark, sf0001)
    val inc = Extensions.ivfpqrIncremental.fn(spark, sf0001)
    assert(inc.exceptAll(mono).count() == 0 &&
      mono.exceptAll(inc).count() == 0,
      "ext_ivfpqr_incremental diverged from ext_topk_ivfpqr")
    val comp = Extensions.ivfpqrCompact.fn(spark, sf0001)
    assert(comp.exceptAll(mono).count() == 0 &&
      mono.exceptAll(comp).count() == 0,
      "ext_ivfpqr_compact diverged from ext_topk_ivfpqr")
    Extensions.releaseCaches()
  }

  test("ext_imipq_compact == ext_topk_imipq; compacted table == monolithic product build") {
    // E45's fold with the product coarse quantizer: all three models
    // frozen, so the compacted table and the search over it are both
    // row-identical to the monolithic path (cap headroom at driver SFs)
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val src = s"$sf0001/embeddings.parquet"
    val cbs = Extensions.pqCodebooks(emb, codebookSrc = Some(src))
    val cs0 = Extensions.imiCentroids(emb, 0, Extensions.ImiK, Some(src))
    val cs1 = Extensions.imiCentroids(emb, 1, Extensions.ImiK, Some(src))
    val (corpus, batch) = Extensions.incrementalSplit(emb)
    val compacted = Extensions.imipqCompactedCodes(
      Extensions.imipqCellCodes(corpus, cbs, cs0, cs1, Some(src)),
      Extensions.imipqEncodeAssign(batch, cbs, cs0, cs1), src)
    val monoTable = Extensions.imipqCellCodes(emb, cbs, cs0, cs1, Some(src))
    assert(compacted.exceptAll(monoTable).count() == 0 &&
      monoTable.exceptAll(compacted).count() == 0,
      "compacted table diverged from the monolithic product-cell index")
    val mono = Extensions.topkImipq.fn(spark, sf0001)
    val comp = Extensions.imipqCompact.fn(spark, sf0001)
    assert(comp.exceptAll(mono).count() == 0 &&
      mono.exceptAll(comp).count() == 0,
      "ext_imipq_compact diverged from ext_topk_imipq")
    Extensions.releaseCaches()
  }

  test("ext_imipq_incremental == ext_topk_imipq (frozen models, merged == monolithic)") {
    // the same contract with the product coarse quantizer: all three
    // models are frozen full-corpus fixtures, so the merged index and
    // the search over it must match the monolithic path exactly
    val mono = Extensions.topkImipq.fn(spark, sf0001)
    val inc = Extensions.imipqIncremental.fn(spark, sf0001)
    assert(inc.exceptAll(mono).count() == 0 &&
      mono.exceptAll(inc).count() == 0,
      "ext_imipq_incremental diverged from ext_topk_imipq")
    Extensions.releaseCaches()
  }

  test("topk_ivf on real data returns well-formed rankings") {
    val approx = Extensions.topkIvf.fn(spark, sf0001)
    assert(approx.count() > 0)
    assert(approx.filter(col("query_id") === col("corpus_id")).count() == 0)
    val ranks = approx.groupBy("query_id").agg(min("rank"), max("rank"), count(lit(1)))
      .collect()
    ranks.foreach(r => assert(r.getInt(1) == 1 && r.getInt(2) == r.getLong(3).toInt))
  }

  test("ann_lsh on real data returns well-formed rankings") {
    val approx = Extensions.annLsh.fn(spark, sf0001)
    assert(approx.count() > 0)
    assert(approx.filter(col("query_id") === col("corpus_id")).count() == 0)
    // ranks are 1..k, dense and deterministic
    val ranks = approx.groupBy("query_id").agg(min("rank"), max("rank"), count(lit(1)))
      .collect()
    ranks.foreach(r => assert(r.getInt(1) == 1 && r.getInt(2) == r.getLong(3).toInt))
  }

  test("exact dedup groups byte-identical docs; fingerprint groups normalized") {
    val ex = Extensions.dedupExact.fn(spark, sf0001)
    val fp = Extensions.fingerprint.fn(spark, sf0001)
    // fingerprint is coarser-or-equal: distinct groups <= exact groups
    assert(fp.count() <= ex.count())
  }

  test("simhash: identical token sets → hamming 0") {
    // doc pairs found by the query at sf0.001 must include only sane distances
    val df = Extensions.dedupSimhash.fn(spark, sf0001)
    assert(df.filter(col("hamming") > 4 || col("hamming") < 0).count() == 0)
  }

  test("hot minhash buckets are star-capped: 1000-copy group stays linear") {
    // 1000 byte-identical docs share every band key -> one hot bucket per
    // band; uncapped that is 499 500 pairs. The cap star-links every
    // member to TWO salted-hash anchors per band (so one bad anchor
    // can't sever the family): between 2m-3 pairs (all four bands pick
    // the same anchors) and 4·(2m-3) (all distinct) — linear either way.
    val m = 1000
    val hot = (0L until m.toLong).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val lone = Seq((5000L, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr"))
    val docs = (hot ++ lone).toDF("doc_id", "text")
    val pairs = Extensions.minhashPairsFrom(docs, cap = 128).collect()
    assert(pairs.length >= 2 * m - 3 && pairs.length <= 4 * (2 * m - 3),
      s"expected linear dual-anchor star pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getDouble(2) == 1.0), "identical docs estimate jaccard 1.0")
    // the star keeps the family one component for downstream clustering
    val comps = graft.ops.Graph.connectedComponents(
      Extensions.minhashPairsFrom(docs, cap = 128).select("id_a", "id_b"),
      docs.select(col("doc_id").as("id")))
    assert(comps.filter(col("component") === 0L).count() == m)
    assert(comps.filter(col("id") === 5000L && col("component") === 5000L).count() == 1)
  }

  test("bandCandidates: small buckets keep the exact pair set") {
    // two buckets of 3 and 2 members, cap far above both -> full m-choose-2
    val banded = Seq((0, 7L, 1L), (0, 7L, 2L), (0, 7L, 3L),
                     (1, 9L, 10L), (1, 9L, 11L))
      .toDF("band", "bits", "doc_id")
    val got = Extensions.bandCandidates(banded, Seq("band", "bits"), cap = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
  }

  test("hot simhash buckets are star-capped") {
    val m = 600
    val hot = (0L until m.toLong).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    val docs = hot.toDF("doc_id", "text")
    val pairs = Extensions.simhashPairsFrom(docs, cap = 100).collect()
    // identical token sets -> identical sigs -> hamming 0; dual-anchor
    // star caps each of the 5 bands to ≈2m pairs — linear, never m²/2
    assert(pairs.length >= 2 * m - 3 && pairs.length <= 5 * (2 * m - 3),
      s"expected linear dual-anchor star pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getInt(2) == 0))
    // one bad anchor can't fragment the family: still one component
    val comps = graft.ops.Graph.connectedComponents(
      Extensions.simhashPairsFrom(docs, cap = 100).select("id_a", "id_b"),
      docs.select(col("doc_id").as("id")))
    assert(comps.filter(col("component") === 0L).count() == m)
  }

  test("annTopK with a hot bucket still returns correct neighbors under the cap") {
    // 600 copies of one vector: every copy lands in the same bucket in all
    // tables. With bucketCap=20 the candidate join sees <=20 corpus rows
    // per (table, bucket) instead of 600 -> bounded work; any twin is a
    // correct top-k answer (cos == 1).
    val v = Array.tabulate(64)(j => math.sin(j + 1.0))
    val emb = (0L until 600L).map(i => (i, v)).toDF("vec_id", "v")
    val out = Extensions.annTopK(emb,
        emb.filter(col("vec_id") === 0L).select("vec_id"), k = 5, bucketCap = 20)
    val rows = out.collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getDouble(2) == 1.0))
  }

  test("band buckets at driver SFs stay under the cap (capping never alters CORRECTNESS)") {
    // CORRECTNESS runs at sf0.01, BENCH at sf0.1: the cap must sit above
    // every real bucket size there so the oracle-compared output is
    // byte-identical with or without the cap.
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val docs = graft.model.Tables.documents(spark, sf)
      val mh = Extensions.minhashBanded(Extensions.minhashSignatures(docs))
        .groupBy("band", "bk").count().agg(max("count")).head().getLong(0)
      info(s"$sf minhash max bucket = $mh (cap ${Extensions.BandBucketCap})")
      assert(mh <= Extensions.BandBucketCap, s"minhash max bucket $mh at $sf")
      val sh = Extensions.simhashBanded(
          Extensions.simhashSignatures(docs.filter(col("doc_id") % 4 === 0)))
        .groupBy("band", "bits").count().agg(max("count")).head().getLong(0)
      info(s"$sf simhash max bucket = $sh (cap ${Extensions.SimhashBucketCap})")
      assert(sh <= Extensions.SimhashBucketCap, s"simhash max bucket $sh at $sf")
    }
  }

  test("ann_recall: all indexes clear their registered recall floors") {
    val rows = Extensions.annRecall.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(rows.keySet ==
      Set("ann_lsh", "ivf", "pq", "ivfpq", "imi", "imipq", "ivfpqr"))
    // n_queries must equal the EXACT baseline's query count — a query
    // with zero approx candidates counts as recall 0, never drops out
    val nExact = Extensions.topkCosine.fn(spark, sf0001)
      .select("query_id").distinct().count()
    val ns = Extensions.annRecall.fn(spark, sf0001).collect()
      .map(_.getLong(1)).toSet
    assert(ns == Set(nExact))
    assert(rows("ann_lsh")._2, s"ann_lsh recall ${rows("ann_lsh")._1} below floor")
    assert(rows("ivf")._2, s"ivf recall ${rows("ivf")._1} below floor")
    assert(rows("pq")._2, s"pq recall ${rows("pq")._1} below floor")
    assert(rows("ivfpq")._2, s"ivfpq recall ${rows("ivfpq")._1} below floor")
    assert(rows("imi")._2, s"imi recall ${rows("imi")._1} below floor")
    assert(rows("imipq")._2, s"imipq recall ${rows("imipq")._1} below floor")
    // imipq is routing-bound: the ADC+rerank stage under the SAME
    // product routing may not cost more than jitter vs imi's exact
    // in-cell scoring (measured equal to 3 decimals at every SF)
    assert(rows("imipq")._1 >= rows("imi")._1 - 0.1,
      s"imipq recall ${rows("imipq")._1} far below imi ${rows("imi")._1}: " +
        "the ADC/rerank stage is losing more than routing allows")
    assert(rows("ivfpqr")._2,
      s"ivfpqr recall ${rows("ivfpqr")._1} below floor")
    // residual encoding may not LOSE recall vs plain ivfpq under the
    // same routing (it exists to gain reconstruction quality)
    assert(rows("ivfpqr")._1 >= rows("ivfpq")._1 - 0.05,
      s"ivfpqr recall ${rows("ivfpqr")._1} below plain ivfpq " +
        s"${rows("ivfpq")._1}: residual codes are losing candidates")
  }

  test("residual codes reconstruct the corpus strictly better than plain PQ codes") {
    // E44's whole premise, asserted as a measurement: at the SAME M×K
    // code budget, quantizing x − c(x) must reconstruct x with lower
    // mean squared error than quantizing x directly (recall floors
    // cannot show this at driver SFs — both variants are
    // routing-bound there)
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val src = Some(s"$sf0001/embeddings.parquet")
    val cs = Extensions.ivfCentroids(emb, centroidSrc = src)
    val ms = Extensions.ivfCellMeans(emb, cs, src)
    val cbs = Extensions.pqCodebooks(emb, codebookSrc = src)
    val rcbs = Extensions.pqrCodebooks(emb, cs, ms, src)
    val nvs = emb.collect().map { r =>
      val v = r.getSeq[Double](1).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      r.getLong(0) -> v.map(_ / n)
    }.toMap
    def decode(cb: Array[Array[Array[Double]]], code: Seq[Int]) =
      code.zipWithIndex.flatMap { case (c, mi) => cb(mi)(c) }.toArray
    def mse(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum
    val plain = Extensions.pqCodeTable(emb, cbs, src).collect().map { r =>
      mse(nvs(r.getLong(0)), decode(cbs, r.getSeq[Int](1)))
    }
    val residRows = Extensions.ivfpqrCellCodes(emb, rcbs, cs, ms, src).collect()
    val resid = residRows.map { r =>
      val rec = ms(r.getInt(0)).zip(decode(rcbs, r.getSeq[Int](2)))
        .map { case (a, b) => a + b }
      mse(nvs(r.getLong(1)), rec)
    }
    val (mp, mr) = (plain.sum / plain.length, resid.sum / resid.length)
    // the premise's precondition: centering on the cell MEAN must
    // shrink the energy the codebook has to spend codes on (centering
    // on the UNIT centroid measurably inflated it to 1.35 here)
    val rEnergy = residRows.map { r =>
      val c = ms(r.getInt(0)); val x = nvs(r.getLong(1))
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    }
    val re = rEnergy.sum / rEnergy.length
    info(f"reconstruction MSE plain=$mp%.5f residual=$mr%.5f " +
      f"resid_energy=$re%.5f (unit=1.0)")
    assert(re < 1.0, f"mean-centered residual energy $re%.5f not below 1")
    assert(resid.length == plain.length)
    assert(mr < mp,
      f"residual reconstruction MSE $mr%.5f not below plain $mp%.5f")
  }

  test("imiTopK scores exactly inside probed product cells") {
    // the coarse structure is approximate (which cells are probed) but
    // scoring within them is NOT: every returned cos must equal the
    // exact normalized dot of the pair, and ranks must be the exact
    // top-k restricted to the candidate set (descending, id tiebreak)
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exact = Extensions.topkCosine.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val byVec = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosOf(a: Long, b: Long): Double = {
      def n(x: Array[Double]) = {
        val m = math.sqrt(x.map(d => d * d).sum); x.map(_ / m)
      }
      val (u, v) = (n(byVec(a)), n(byVec(b)))
      BigDecimal(u.zip(v).map { case (x, y) => x * y }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val out = Extensions.topkImi.fn(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, c, cos, rank) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
      assert(math.abs(cos - cosOf(q, c)) < 1e-6,
        s"imi cos for ($q,$c) is not the exact normalized dot")
      // a returned pair that IS in the exact top-k must carry the same
      // score the exact path computed (shared rounding contract)
      exact.get((q, c)).foreach(e => assert(math.abs(cos - e) < 1e-6))
      assert(rank >= 1 && rank <= Extensions.AnnK)
    }
    // per query: ranks are 1..n with cos non-increasing
    out.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to rs.length),
        s"query $q ranks not dense")
      val coss = sorted.map(_.getDouble(2))
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b },
        s"query $q cos not non-increasing")
    }
  }

  test("IMI halves cover every component on odd-dimension vectors") {
    // round-10 ADVICE: h1 sliced with length floor(dim/2) silently
    // dropped the LAST component of odd-dim vectors from assignment
    // and routing. Plant dim-5 vectors whose product cell is decided
    // ONLY by that last component: after normalization h1 = the last
    // three dims, and the two cs1 centroids differ only there.
    val vecs = Seq(
      1L -> Seq(1.0, 0.0, 0.0, 0.0, 1.0),   // h1 ~ [0,0,+.707] → cs1 cell 0
      2L -> Seq(1.0, 0.0, 0.0, 0.0, -1.0))  // h1 ~ [0,0,-.707] → cs1 cell 1
    val emb = vecs.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val cs0 = Array(Array(1.0, 0.0))
    val cs1 = Array(Array(0.0, 0.0, 1.0), Array(0.0, 0.0, -1.0))
    val cells = Extensions.imiCellTable(emb, cs0, cs1, None)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells == Map(1L -> 0, 2L -> 1),
      s"odd-dim product cells must be decided by the last component, got $cells")
  }

  test("pqTopK finds planted near-duplicates (codes + rerank have real recall)") {
    // a planted twin quantizes to the same M codes as its query, so it
    // survives the ADC cut and the exact rerank puts it at rank 1
    val rnd = new scala.util.Random(13)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val base = (0L until 200L).map(i => (i, vec()))
    val planted = base.filter(_._1 % 50 == 0).map { case (i, v) =>
      (i + 10000L, v.map(_ + 1e-4 * rnd.nextGaussian()))
    }
    val emb = spark.createDataFrame(base ++ planted).toDF("vec_id", "v")
    val out = Extensions.pqTopK(emb,
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000).select("vec_id"), k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0L, 50L, 100L, 150L))
    out.foreach { case (q, c) => assert(c == q + 10000L, s"query $q matched $c") }
  }

  test("topk_pq on real data returns well-formed rankings") {
    val approx = Extensions.topkPq.fn(spark, sf0001)
    assert(approx.count() > 0)
    assert(approx.filter(col("query_id") === col("corpus_id")).count() == 0)
    val ranks = approx.groupBy("query_id").agg(min("rank"), max("rank"), count(lit(1)))
      .collect()
    ranks.foreach(r => assert(r.getInt(1) == 1 && r.getInt(2) == r.getLong(3).toInt))
  }

  test("parquetFixture actually SERVES the persisted frame (no silent live fallback)") {
    // regression: absolute srcPaths used to sanitize to a LEADING
    // underscore, which Spark's file index treats as hidden — the
    // fixture read failed and the catch served the live recompute on
    // every call. Round-trip equality can't catch that (fallback ==
    // live); serving a DIFFERENT live frame under the same key can.
    val src = java.nio.file.Files.createTempFile("fx-src", ".parquet")
    java.nio.file.Files.writeString(src, "fingerprint-me")
    val first = Seq((1L, "a")).toDF("id", "v")
    val second = Seq((2L, "b")).toDF("id", "v")
    val plan = "fixture-serve-test-plan-v1"
    try {
      val got1 = Extensions.parquetFixture(spark, "fx-serve-test",
        src.toString, "k1", plan, first)
      assert(got1.collect().map(_.getLong(0)).toSeq == Seq(1L))
      val got2 = Extensions.parquetFixture(spark, "fx-serve-test",
        src.toString, "k1", plan, second)
      assert(got2.collect().map(_.getLong(0)).toSeq == Seq(1L),
        "fixture did not serve: reader fell back to the live frame")
    } finally {
      // the temp source is new on every run: drop what it keyed
      dropFixturesOf(src.toString)
      java.nio.file.Files.deleteIfExists(src)
    }
  }

  test("parquetFixture falls back to the live frame with one fixture_fallback event") {
    // a plain FILE where the family's fixture directory belongs: the
    // cold build cannot create its staging dir, so the fixture must
    // serve the live frame — and say so on stderr, in fixture_build's
    // shape, instead of falling back silently
    val family = "fx-fallback-test"
    val blocker = java.nio.file.Paths.get("target", family)
    org.apache.commons.io.FileUtils.deleteQuietly(blocker.toFile)
    java.nio.file.Files.createDirectories(blocker.getParent)
    java.nio.file.Files.writeString(blocker, "not a directory")
    val src = java.nio.file.Files.createTempFile("fx-src", ".parquet")
    java.nio.file.Files.writeString(src, "fingerprint-me")
    val live = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val got = try Extensions.parquetFixture(spark, family, src.toString,
        "k1", "fixture-fallback-test-plan-v1", live).collect().toSeq
      finally {
        System.setErr(saved)
        java.nio.file.Files.delete(blocker)
        java.nio.file.Files.delete(src)
      }
    val events = err.toString("UTF-8").linesIterator
      .filter(_.contains("\"event\":\"fixture_fallback\"")).toSeq
    assert(events.size == 1, err.toString("UTF-8"))
    assert(events.head.startsWith("{\"event\":\"fixture_fallback\"," +
      s"\"family\":\"$family\",\"src\":\"$src\",\"error\":\""), events.head)
    assert(got == live.collect().toSeq, "fallback did not serve the live frame")
  }

  test("pq incremental maintenance: in-distribution batch low drift; shifted batch trips retrain") {
    // corpus with CLUSTER STRUCTURE (32 templates + small noise): the
    // frozen codebook fits it tightly, and an in-distribution batch
    // (same templates, fresh noise) reconstructs about as well
    // (drift ≈ 1). A batch from a DIFFERENT distribution (unclustered
    // Gaussians — a new embedding model, the real-world retrain
    // trigger) must trip the drift threshold.
    val rnd = new scala.util.Random(17)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val templates = Array.fill(32)(vec())
    def templated(i: Long): Array[Double] =
      templates((i % 32).toInt).map(_ + 0.02 * rnd.nextGaussian())
    val corpus = (0L until 400L).map(i => (i, templated(i)))
    val inDist = (10000L until 10050L).map(i => (i, templated(i)))
    val shifted = (20000L until 20050L).map(i => (i, vec()))
    val corpusDf = spark.createDataFrame(corpus).toDF("vec_id", "v")
    val cbs = Extensions.pqCodebooks(corpusDf)
    assert(cbs.length == Extensions.PqM)
    def meanErr(rows: Seq[(Long, Array[Double])]): Double =
      Extensions.pqEncodeWithError(
          spark.createDataFrame(rows).toDF("vec_id", "v"), cbs)
        .agg(avg(col("qerr"))).head().getDouble(0)
    val trainErr = meanErr(corpus)
    assert(trainErr > 0, "quantization error must be positive on random vectors")
    val inDrift = meanErr(inDist) / trainErr
    val shiftDrift = meanErr(shifted) / trainErr
    info(f"in-distribution drift $inDrift%.3f, shifted drift $shiftDrift%.3f")
    assert(inDrift < Extensions.PqDriftRetrain,
      s"in-distribution batch must not trip retrain (drift $inDrift)")
    assert(shiftDrift >= Extensions.PqDriftRetrain,
      s"shifted batch must trip retrain (drift $shiftDrift)")
    // every encoded row carries M codes in range
    val enc = Extensions.pqEncodeWithError(corpusDf, cbs).collect()
    assert(enc.length == corpus.length)
    enc.foreach { r =>
      val code = r.getSeq[Int](1)
      assert(code.length == Extensions.PqM)
      assert(code.forall(c => c >= 0 && c < Extensions.PqK))
      // ‖sub‖² − 2·dot + ‖cw‖² can cancel to ~-1e-16 when a vector
      // coincides with its (1e-9-rounded) codeword — same tolerance as
      // the IVF twin test
      assert(r.getDouble(2) >= -1e-9)
    }
  }

  test("ivf incremental maintenance: frozen centroids; planted drift trips retrain") {
    // same construction as the PQ drift test: clusterable corpus (the
    // centroids fit it tightly), in-distribution batch ≈ train error,
    // unclustered batch far out of the cell structure
    val rnd = new scala.util.Random(19)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val templates = Array.fill(16)(vec())
    def templated(i: Long): Array[Double] =
      templates((i % 16).toInt).map(_ + 0.02 * rnd.nextGaussian())
    val corpus = (0L until 400L).map(i => (i, templated(i)))
    val inDist = (10000L until 10050L).map(i => (i, templated(i)))
    val shifted = (20000L until 20050L).map(i => (i, vec()))
    val corpusDf = spark.createDataFrame(corpus).toDF("vec_id", "v")
    val cs = Extensions.ivfCentroids(corpusDf)
    assert(cs.nonEmpty)
    // spherical Lloyd re-normalizes: every centroid is unit (the 2−2dot
    // error formula depends on it)
    cs.foreach(c => assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-6))
    def meanErr(rows: Seq[(Long, Array[Double])]): Double =
      Extensions.ivfEncodeWithError(
          spark.createDataFrame(rows).toDF("vec_id", "v"), cs)
        .agg(avg(col("qerr"))).head().getDouble(0)
    val trainErr = meanErr(corpus)
    val inDrift = meanErr(inDist) / trainErr
    val shiftDrift = meanErr(shifted) / trainErr
    info(f"ivf in-distribution drift $inDrift%.3f, shifted drift $shiftDrift%.3f")
    assert(inDrift < Extensions.PqDriftRetrain)
    assert(shiftDrift >= Extensions.PqDriftRetrain)
    // cells in range, errors non-negative
    val enc = Extensions.ivfEncodeWithError(corpusDf, cs).collect()
    enc.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < cs.length)
      assert(r.getDouble(2) >= -1e-9)
    }
  }

  test("ext_ivf_incremental on real data: two rows, sane drift, split covers all") {
    val rows = Extensions.ivfIncremental.fn(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("batch", "train"))
    assert(rows.map(_.getLong(1)).sum ==
      graft.model.Tables.embeddings(spark, sf0001).count())
    assert(rows(1).getDouble(3) == 1.0 && !rows(1).getBoolean(4))
    assert(!rows(0).getBoolean(4),
      s"in-distribution batch tripped retrain (drift ${rows(0).getDouble(3)})")
  }

  test("incremental maintenance: an EMPTY batch yields a defined row, never NULLs") {
    // ids chosen so every one hashes into the corpus bucket (<90): the
    // batch slice is empty, and avg over it is NULL — the report must
    // still produce ('batch', 0, 0.0, 0.0, false), not a NULL row
    val ids = spark.range(0, 400)
      .withColumn("b", pmod(graft.expr.Scalars.hash60(col("id").cast("string")),
        lit(100L)))
      .filter(col("b") < 90).limit(20).collect().map(_.getLong(0))
    assert(ids.length == 20)
    val v = Array.tabulate(64)(j => math.sin(j + 2.0)).toSeq
    ids.toSeq.map(i => (i, v)).toDF("vec_id", "embedding")
      .write.mode("overwrite")
      .parquet("target/tmp-emptybatch/embeddings.parquet")
    for (q <- Seq(Extensions.pqIncremental, Extensions.ivfIncremental)) {
      val rows = q.fn(spark, "target/tmp-emptybatch").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("batch", "train"), q.name)
      val b = rows(0)
      assert(b.getLong(1) == 0L, s"${q.name}: batch must be empty")
      assert(!b.isNullAt(2) && b.getDouble(2) == 0.0, s"${q.name} mean_qerr")
      assert(!b.isNullAt(3) && b.getDouble(3) == 0.0, s"${q.name} drift")
      assert(!b.isNullAt(4) && !b.getBoolean(4), s"${q.name} retrain")
    }
  }

  test("zero train distortion + nonzero batch error trips retrain, never a silent 0 drift") {
    // a corpus the model reproduces perfectly (t_me == 0) must not mask
    // an out-of-distribution arrival: drift reports Infinity → retrain,
    // while a zero-error batch under a zero-error model stays quiet
    val trainStat = Seq(("train", 10L, 0.0)).toDF("set", "n_vecs", "me")
    val badBatch = Seq((1L, 0.5), (2L, 0.3)).toDF("vec_id", "qerr")
    val bad = Extensions.driftReport(trainStat, badBatch, df => df).collect()
    val badRow = bad.find(_.getString(0) == "batch").get
    assert(badRow.getDouble(3).isPosInfinity,
      s"degenerate drift must be Infinity, got ${badRow.getDouble(3)}")
    assert(badRow.getBoolean(4), "nonzero batch error under a zero-error model must retrain")
    val okBatch = Seq((1L, 0.0)).toDF("vec_id", "qerr")
    val ok = Extensions.driftReport(trainStat, okBatch, df => df).collect()
    val okRow = ok.find(_.getString(0) == "batch").get
    assert(okRow.getDouble(3) == 0.0 && !okRow.getBoolean(4))
  }

  test("ext_bpe_merges survives empty / whitespace-only / single-char documents") {
    // a whitespace-only doc tokenizes to "" (empty symbol array) and a
    // 1-char token can never pair NOR be rewritten — both must be
    // guarded out, not crash the pair slice with a negative length
    Seq((1L, "ab ab"), (2L, ""), (3L, "   "), (4L, "x"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet("target/tmp-bpe/documents.parquet")
    val got = Extensions.bpeMerges.fn(spark, "target/tmp-bpe").collect()
    assert(got.length == 1, s"exactly one merge is derivable, got ${got.length}")
    assert((got(0).getString(1), got(0).getString(2), got(0).getLong(3)) == ("a", "b", 2L))
    Extensions.releaseCaches()
  }

  test("ext_bpe_merges equals an independent in-memory BPE over the collected vocabulary") {
    // the no-oracle gate: recompute the K greedy merges in plain Scala
    // from the (token, count) vocabulary and require the exact merge
    // table — argmax tie-break (count desc, pair asc) and the greedy
    // left-to-right non-overlapping rewrite both pinned
    import org.apache.spark.sql.functions.{explode, split, lower}
    val vocab = graft.model.Tables.documents(spark, sf0001)
      .select(explode(split(Extensions.edgeTrim(lower(col("text"))), "\\s+")).as("tok"))
      .groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var syms: Seq[(Array[String], Long)] =
      vocab.toSeq.map { case (t, n) => (t.split("").filter(_.nonEmpty), n) }
    def mergeOnce(a: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      for (x <- a) {
        if (out.nonEmpty && out.last == l && x == r) { out.remove(out.length - 1); out += (l + r) }
        else out += x
      }
      out.toArray
    }
    // Spark's string ORDER BY compares UTF-8 BYTES; Java String
    // comparison is UTF-16 code units — the two disagree on
    // supplementary-plane characters (surrogates sort before U+E000 in
    // UTF-16, after U+FFFF in UTF-8), so the independent recompute
    // must tie-break in the engine's order or the gate would fail on
    // an ordering artifact, not a real merge-table bug
    def u8cmp(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < math.min(x.length, y.length)) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    val expect = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var k = 1
    var exhausted = false
    while (k <= Extensions.BpeMergeRounds && !exhausted) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((a, n) <- syms; i <- 0 until a.length - 1)
        counts((a(i), a(i + 1))) = counts.getOrElse((a(i), a(i + 1)), 0L) + n
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), n) = counts.toSeq.sortWith {
          case (((l1, r1), n1), ((l2, r2), n2)) =>
            if (n1 != n2) n1 > n2
            else if (u8cmp(l1, l2) != 0) u8cmp(l1, l2) < 0
            else u8cmp(r1, r2) < 0
        }.head
        expect += ((k, l, r, n))
        syms = syms.map { case (a, cnt) => (mergeOnce(a, l, r), cnt) }
        k += 1
      }
    }
    val got = Extensions.bpeMerges.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expect.toSeq, s"merge tables diverged:\n got   $got\n want  $expect")
    assert(got.size == Extensions.BpeMergeRounds, "corpus should support all K rounds")
    Extensions.releaseCaches()
  }

  test("ext_bpe_token_count equals an independent in-memory BPE application per document") {
    // the apply-side no-oracle gate: collect the trained merges, apply
    // them to every document in plain Scala with the same greedy
    // left-to-right rewrite, and require exact per-doc (ws, bpe)
    // counts — tokenization parity with training included
    val merges = Extensions.bpeMerges.fn(spark, sf0001)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    def mergeOnce(a: Array[String], l: String, r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      for (x <- a) {
        if (out.nonEmpty && out.last == l && x == r) {
          out.remove(out.length - 1); out += (l + r)
        } else out += x
      }
      out.toArray
    }
    def bpeLen(tok: String): Long = {
      var sym = tok.split("").filter(_.nonEmpty)
      for ((l, r) <- merges) sym = mergeOnce(sym, l, r)
      sym.length.toLong
    }
    val expect = graft.model.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = r.getString(1).toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        if (toks.isEmpty) None
        else Some(r.getLong(0) -> (toks.length.toLong, toks.map(bpeLen).sum))
      }.toMap
    val got = Extensions.bpeTokenCount.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect,
      s"per-doc token counts diverged on ${
        (got.keySet ++ expect.keySet).filter(k => got.get(k) != expect.get(k)).take(5)}")
    // fertility sanity: merges only ever SHRINK the symbol count
    val badFert = Extensions.bpeTokenCount.fn(spark, sf0001)
      .filter(col("bpe_tokens") > col("ws_tokens") * 64).count()
    assert(badFert == 0, "fertility out of any plausible range")
    Extensions.releaseCaches()
  }

  test("incremental cluster maintenance: batch near-dups ADOPT the min matched corpus label") {
    // planted corpus: docs 7/8/9 share one text (one corpus cluster,
    // label = min id 7, all ids hashing into the <80 bucket); batch
    // doc (>=80 bucket) carrying the same text must adopt label 7;
    // a unique batch doc founds its own singleton cluster
    def bucketOf(id: Long): Long = h60(id.toString) % 100
    val corpusIds = (1L to 400L).filter(bucketOf(_) < Extensions.IncrementalCorpusPct)
    val batchIds = (1L to 400L).filter(bucketOf(_) >= Extensions.IncrementalCorpusPct)
    assert(corpusIds.size >= 3 && batchIds.size >= 2)
    val dupText = "the planted near duplicate corpus sentence repeated verbatim in every member"
    val Seq(c1, c2, c3) = corpusIds.take(3)
    val Seq(b1, b2) = batchIds.take(2)
    val docs = Seq(
      (c1, dupText), (c2, dupText), (c3, dupText),
      (b1, dupText),
      (b2, "a completely different and unrelated batch document about nothing else"))
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet("target/tmp-clinc/documents.parquet")
    try {
      val got = Extensions.clustersIncremental.fn(spark, "target/tmp-clinc")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      assert(got.keySet == Set(b1, b2), "exactly the batch docs are labeled")
      assert(got(b1) == (math.min(c1, math.min(c2, c3)), false),
        s"batch twin must adopt the min corpus label, got ${got(b1)}")
      assert(got(b2) == (b2, true),
        s"unique batch doc must found its own cluster, got ${got(b2)}")
    } finally Extensions.releaseCaches()
  }

  test("incremental lexical/LSH indexes: merged (stored corpus + fresh batch) == monolithic") {
    // postings and bucket rows are PER-DOC/PER-VECTOR: the corpus-split
    // stored table unioned with the batch's O(batch) scan must be
    // row-identical to the full-corpus index, so the maintenance
    // queries' outputs must equal their monolithic twins exactly (at
    // driver SFs the LSH cap never binds — headroom asserted below —
    // so capped-corpus + uncapped-batch can't diverge either)
    val bm25Mono = Extensions.bm25Search.fn(spark, sf0001)
    val bm25Inc = Extensions.bm25Incremental.fn(spark, sf0001)
    assert(bm25Inc.exceptAll(bm25Mono).count() == 0 &&
      bm25Mono.exceptAll(bm25Inc).count() == 0,
      "ext_bm25_incremental diverged from ext_bm25_search")
    Extensions.releaseCaches()
    val lshMono = Extensions.annLsh.fn(spark, sf0001)
    val lshInc = Extensions.lshIncremental.fn(spark, sf0001)
    assert(lshInc.exceptAll(lshMono).count() == 0 &&
      lshMono.exceptAll(lshInc).count() == 0,
      "ext_lsh_incremental diverged from ext_ann_lsh")
    Extensions.releaseCaches()
  }

  test("ext_pq_incremental on real data: two rows, sane drift, corpus split covers all") {
    val rows = Extensions.pqIncremental.fn(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("batch", "train"))
    val n = rows.map(_.getLong(1)).sum
    assert(n == graft.model.Tables.embeddings(spark, sf0001).count())
    val batch = rows(0); val train = rows(1)
    assert(train.getDouble(3) == 1.0 && !train.getBoolean(4))
    // same generator on both sides of the hash split: the batch must
    // NOT look out-of-distribution to the corpus-trained codebook
    assert(!batch.getBoolean(4),
      s"in-distribution batch tripped retrain (drift ${batch.getDouble(3)})")
    assert(batch.getDouble(3) > 0)
  }

  test("annExactBaseline fixture round-trips identically to the live exact search") {
    val live = Extensions.topkCosine.fn(spark, sf0001).select("query_id", "corpus_id")
    val fx1 = Extensions.annExactBaseline(spark, sf0001) // writes on first miss
    val fx2 = Extensions.annExactBaseline(spark, sf0001) // reads the fixture back
    assert(fx1.count() == live.count())
    assert(fx2.exceptAll(live).count() == 0 && live.exceptAll(fx2).count() == 0)
  }

  test("cluster representative is the max-quality member of its cluster") {
    val comps = Extensions.dedupClusters.fn(spark, sf0001)
      .select(col("doc_id"), col("cluster_id"))
    val scores = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), Extensions.qualityExpr(col("text")).as("score"))
    val best = comps.join(scores, Seq("doc_id"))
      .groupBy("cluster_id").agg(max("score").as("best"), count(lit(1)).as("n"))
    val reps = Extensions.clusterRepresentative.fn(spark, sf0001)
    // one representative per cluster, carrying the cluster's max score
    // and exact member count
    assert(reps.count() == best.count())
    val bad = reps.join(best, Seq("cluster_id"))
      .filter(col("rep_score") =!= col("best") || col("n_members") =!= col("n"))
    assert(bad.count() == 0)
    // the representative must itself belong to the cluster it represents
    val foreign = reps.join(comps,
        reps("rep_id") === comps("doc_id") &&
        reps("cluster_id") === comps("cluster_id"), "left_anti")
    assert(foreign.count() == 0)
  }

  test("ivfTrainStride bounds the training sample; sampled training keeps recall") {
    assert(Extensions.ivfTrainStride(500, 16, 100) == 1L)   // small corpus: full
    assert(Extensions.ivfTrainStride(320000, 16, 100) == 200L)
    // planted twins still found when the quantizer trains on a strict
    // sample (trainPerCell=2 -> stride>1 on a 204-vector corpus)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val base = (0L until 200L).map(i => (i, vec()))
    val planted = base.filter(_._1 % 50 == 0).map { case (i, v) =>
      (i + 10000L, v.map(_ + 1e-4 * rnd.nextGaussian()))
    }
    val emb = spark.createDataFrame(base ++ planted).toDF("vec_id", "v")
    assert(Extensions.ivfTrainStride(204, 16, 2) > 1L)
    val out = Extensions.ivfTopK(emb,
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 1000).select("vec_id"),
        k = 3, trainPerCell = 2)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (q, c) => assert(c == q + 10000L, s"query $q matched $c") }
  }

  test("autoKPerHalf tracks 4*sqrt(N) product cells without autoNCells's ceiling") {
    // K^2 stays within a factor of 2 of the 4*sqrt(N) guidance wherever
    // neither bound binds (ceil overshoots by < 1 cell per half)
    for (n <- Seq(10000L, 1000000L, 100000000L)) {
      val k = Extensions.autoKPerHalf(n).toDouble
      val target = 4.0 * math.sqrt(n.toDouble)
      assert(k * k >= target && k * k <= 2 * target, s"n=$n k=$k")
    }
    assert(Extensions.autoKPerHalf(1L) == 4)          // floor binds
    assert(Extensions.autoKPerHalf(10L * 1000 * 1000 * 1000) == 256) // cap binds
    // past the flat ceiling: the product index keeps deriving finer
    // cells where autoNCells has saturated
    val n = 100000000L
    assert(Extensions.autoNCells(n) == 1024)
    val k = Extensions.autoKPerHalf(n)
    assert(k * k > 1024, s"product cells ${k * k} should exceed the flat cap")
  }

  test("redactPii masks real-world shaped PII and leaves clean text alone") {
    val rows = Seq(
      (1L, "write to jane.doe+spam@mail-host.co.uk or call +44-20-7946-0958 now"),
      (2L, "ssn on file: 078-05-1120, backup 078-05-1121"),
      (3L, "no pii here, just 12 plain words and a date 2026-08-12"),
      (4L, "mixed case: Jane.Doe@Example.COM must not leak"))
      .toDF("id", "t")
      .select(col("id"), Extensions.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "write to [EMAIL] or call [PHONE] now")
    assert(rows(2L) == "ssn on file: [ID], backup [ID]")
    // 2026-08-12 is yyyy-mm-dd, not ddd-dd-dddd — must survive
    assert(rows(3L) == "no pii here, just 12 plain words and a date 2026-08-12")
    assert(rows(4L) == "mixed case: [EMAIL] must not leak")
  }

  test("pii_redact counts match the planting arithmetic") {
    val df = Extensions.piiRedact.fn(spark, sf0001)
    val bad = df.filter(
      col("n_emails") =!= when(col("doc_id") % 3 === 0, 1).otherwise(0) ||
      col("n_phones") =!= when(col("doc_id") % 4 === 0, 1).otherwise(0) ||
      col("n_ids") =!= when(col("doc_id") % 7 === 0, 1).otherwise(0))
    assert(bad.count() == 0)
    // redacted text must contain no residual matches
    val residual = graft.model.Tables.documents(spark, sf0001)
      .select(Extensions.redactPii(concat(col("text"),
        lit(" user1@example.com +1-555-0000-0199 123-45-6789"))).as("r"))
      .filter(col("r").rlike("@|[0-9]{3}-[0-9]{2}-[0-9]{4}"))
    assert(residual.count() == 0)
  }

  test("top_terms: 10 per language, ordered by count with token tiebreak") {
    val df = Extensions.topTerms.fn(spark, sf0001).collect()
    val byLang = df.groupBy(_.getString(0))
    assert(byLang.forall(_._2.length == 10))
    byLang.values.foreach { rows =>
      val ns = rows.sortBy(_.getInt(3)).map(_.getLong(2))
      assert(ns.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    assert(df.forall(_.getString(1).length > 2))
  }

  test("decontaminate flags train docs sharing a 5-gram with the test split") {
    val df = Extensions.decontaminate.fn(spark, sf0001)
    val n = df.count()
    val flagged = df.filter(col("contaminated")).count()
    // only train-bucket docs appear; corpus is near-dup heavy, so the
    // check must find real contamination but never flag everything
    assert(n > 0 && flagged > 0 && flagged < n,
      s"train=$n contaminated=$flagged")
  }

  test("stratified sample balances languages toward the smallest") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val before = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val minN = before.values.min
    val after = Extensions.stratifiedSample.fn(spark, sf0001)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet)
    after.foreach { case (lang, n) =>
      // hash-threshold sampling: each language lands near min_n
      assert(n <= before(lang))
      assert(math.abs(n - minN) <= math.max(3, minN / 2), s"$lang: $n vs $minN")
    }
    // the dominant language must actually shrink
    val (bigLang, bigN) = before.maxBy(_._2)
    assert(after(bigLang) < bigN)
  }

  test("cluster-weighted sample keeps singletons, thins big clusters") {
    val df = Extensions.clusterWeightedSample.fn(spark, sf0001).cache()
    assert(df.count() == 500) // one auditable row per doc
    // probability 1/1 for singletons: always kept
    assert(df.filter(col("cluster_size") === 1 && !col("keep")).count() == 0)
    // multi-doc clusters keep fewer than all members (hash mod size == 0
    // selects ~1/size of them)
    val big = df.filter(col("cluster_size") >= 4)
      .groupBy("cluster_id", "cluster_size")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
    assert(big.filter(col("kept") === col("cluster_size")).count() == 0)
  }

  test("frame-level operators tolerate empty inputs (no seq/head crashes)") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Extensions.minhashPairsFrom(emptyDocs).count() == 0)
    assert(Extensions.simhashPairsFrom(emptyDocs).count() == 0)
    val emptyBanded = Seq.empty[(Int, Long, Long)].toDF("band", "bits", "doc_id")
    assert(Extensions.bandCandidates(emptyBanded, Seq("band", "bits")).count() == 0)
    val emptyEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L).toDF("id")
    val cc = graft.ops.Graph.connectedComponents(emptyEdges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 2L)) // isolated nodes label themselves
    val emptyEmb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "v")
    assert(Extensions.semanticPairsFrom(emptyEmb).count() == 0)
    assert(Extensions.bm25From(emptyDocs).count() == 0)
    val emptyMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
    assert(graft.multimodal.Multimodal.decodeHeaders(emptyMedia).count() == 0)
    // null payload decodes to unknown, never throws
    val nullRow = Seq((1L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "payload")
    val d = graft.multimodal.Multimodal.decodeHeaders(nullRow).collect()(0)
    assert(d.getString(2) == "unknown" || d.isNullAt(2))
  }

  test("full curation funnel = curate minus exactly the contaminated docs") {
    val curate = Extensions.corpusCurate.fn(spark, sf0001).select("doc_id")
    val full = Extensions.corpusCurateFull.fn(spark, sf0001).select("doc_id")
    val contaminated = Extensions.contaminationFlags(spark, sf0001)
      .filter(col("contaminated")).select("doc_id")
    // full ⊆ curate, and curate \ full == curate ∩ contaminated
    assert(full.join(curate, Seq("doc_id"), "left_anti").count() == 0)
    val removed = curate.join(full, Seq("doc_id"), "left_anti")
    val expected = curate.join(contaminated, Seq("doc_id"), "left_semi")
    assert(removed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(removed).count() == 0)
  }

  test("quality percentile gate keeps ~half of EVERY language") {
    val before = graft.model.Tables.documents(spark, sf0001)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = Extensions.qualityPercentileGate.fn(spark, sf0001)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet) // no language is wiped out
    after.foreach { case (lang, n) =>
      // percent_rank <= 0.5 keeps between half and half+ties
      assert(n >= before(lang) / 2 && n <= before(lang) * 3 / 4 + 1,
        s"$lang kept $n of ${before(lang)}")
    }
  }

  test("repetition score flags looped text, passes varied text") {
    val df = Extensions.repetitionScore.fn(spark, sf0001).cache()
    assert(df.count() == 500)
    // fractions are well-formed
    assert(df.filter(col("dup_word_frac") < 0 || col("dup_word_frac") >= 1 ||
      col("top_bigram_frac") <= 0 || col("top_bigram_frac") > 1).count() == 0)
    // the flag must split the corpus, not rubber-stamp it
    val flagged = df.filter(col("repetitive")).count()
    assert(flagged > 0 && flagged < 500, s"repetitive=$flagged of 500")
    df.unpersist()
    // planted sanity: a pure loop maxes the duplicate-word signal
    val t = Seq((1L, "spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val toks = split(Extensions.edgeTrim(col("text")), "\\s+")
    val dup = t.select((lit(1.0) - size(array_distinct(toks)).cast("double") /
      size(toks)).as("d")).head().getDouble(0)
    assert(dup > 0.8)
  }

  test("char entropy: floods score near zero, varied text near log2(alphabet)") {
    val df = Extensions.charEntropy.fn(spark, sf0001)
    assert(df.count() == 500)
    // natural-ish synthetic text sits in a sane band
    assert(df.filter(col("entropy_bits") < 0 || col("entropy_bits") > 6).count() == 0)
    val low = df.filter(col("low_entropy")).count()
    assert(low < 500, "low_entropy must not flag everything")
  }

  test("contamination score agrees with the boolean decontamination flags") {
    val score = Extensions.contaminationScore.fn(spark, sf0001)
      .select(col("doc_id"), col("overlap_frac"))
    val flags = Extensions.decontaminate.fn(spark, sf0001)
    val joined = score.join(flags, Seq("doc_id"))
    assert(joined.count() == flags.count()) // same train universe
    // overlap > 0  ⟺  contaminated
    assert(joined.filter((col("overlap_frac") > 0) =!= col("contaminated")).count() == 0)
    // ratios are fractions of the doc's gram set
    assert(score.filter(col("overlap_frac") < 0 || col("overlap_frac") > 1).count() == 0)
  }

  test("edgeTrim tokenization is immune to edge tabs/newlines") {
    // trim() leaves "hello\n" intact -> Java split gives 1 token but
    // DuckDB's regexp split gives 2; after edgeTrim both give 1
    val got = Seq("hello\n", "\tfoo bar", "a b\r\n", " x ", "", "one")
      .toDF("text")
      .select(size(split(Extensions.edgeTrim(col("text")), "\\s+")).as("n"))
      .collect().map(_.getInt(0))
    assert(got.toSeq == Seq(1, 2, 2, 1, 1, 1))
  }

  test("semantic dedup: buckets stay far under the cap; pairs clear the threshold") {
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val df = Extensions.dedupSemantic.fn(spark, sf)
      // every reported pair cleared the cosine threshold, ordered keys
      assert(df.filter(col("cos") < Extensions.SemanticCosThreshold ||
        col("id_a") >= col("id_b")).count() == 0)
      spark.sqlContext.clearCache()
    }
  }

  /** Writes the planted-twin embedding fixture (100 pseudo-random
    * vectors + identical twins of ids 0-2 at +1000) under `dir` —
    * ONE construction for every semantic test so the corpora cannot
    * silently diverge. */
  private def writePlantedTwins(dir: String): Unit = {
    val rnd = new scala.util.Random(11)
    val base = (0L until 100L).map(i => (i, Array.fill(64)(rnd.nextGaussian())))
    val twins = base.filter(_._1 < 3).map { case (i, v) => (i + 1000L, v.clone()) }
    (base ++ twins).map { case (i, v) => (i, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("semantic dedup finds planted identical vectors (blocking is not vacuous)") {
    // identical vectors agree on every sign bit -> same bucket in BOTH
    // tables -> the pair must surface exactly once with cos == 1
    writePlantedTwins("target/tmp-sem")
    val pairs = Extensions.dedupSemantic.fn(spark, "target/tmp-sem").collect()
    for (i <- 0L until 3L)
      assert(pairs.count(r => r.getLong(0) == i && r.getLong(1) == i + 1000L
        && r.getDouble(2) == 1.0) == 1, s"twin pair $i missing or duplicated")
  }

  test("semantic dedup caps never bind at driver SFs (capping never alters correctness)") {
    // bucket occupancy measured through the OPERATOR'S OWN construction
    // (Extensions.semanticBuckets) — a private re-implementation here
    // would keep passing after a drift in planeSeed/bucket format while
    // the capped operator silently diverged from its uncapped oracle
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = graft.model.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val maxBucket = Extensions.semanticBuckets(e)
        .groupBy("bucket").count().agg(max("count")).head().getLong(0)
      assert(maxBucket < Extensions.SemanticBucketCap,
        s"$sf: max bucket $maxBucket reaches cap ${Extensions.SemanticBucketCap}")
    }
  }

  test("semantic clusters: planted twins share a component labeled by the min id") {
    // own fixture dir (no test-order coupling), same shared construction
    writePlantedTwins("target/tmp-semc")
    val comps = Extensions.semanticClusters.fn(spark, "target/tmp-semc")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    for (i <- 0L until 3L) {
      assert(comps(i + 1000L)._1 == comps(i)._1, s"twin $i split from its original")
      assert(comps(i)._1 <= i, "cluster label must be the component min")
    }
    // keep is exactly the member equal to its own cluster label
    assert(comps.count { case (id, (c, keep)) => keep == (id == c) } == comps.size)
  }

  test("bm25: rare planted term dominates its query; 10 results per query, scores ordered") {
    val df = Extensions.bm25Search.fn(spark, sf0001).cache()
    val per = df.groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(per == Set(Extensions.Bm25TopK.toLong))
    // scores non-increasing with rank within each query
    val bad = df.withColumn("prev", lag("score", 1).over(
      org.apache.spark.sql.expressions.Window.partitionBy("query_id").orderBy("rank")))
      .filter(col("prev").isNotNull && col("score") > col("prev"))
    assert(bad.count() == 0)
    // q3 = "dup window stream": 'dup' is the rare high-idf marker, so
    // every rank-1..3 doc for q3 must actually contain it
    val top3 = df.filter(col("query_id") === 3 && col("rank") <= 3)
      .join(graft.model.Tables.documents(spark, sf0001), Seq("doc_id"))
    assert(top3.filter(!col("text").contains("dup")).count() == 0)
    df.unpersist()
  }

  test("tfidf: a doc containing the rare marker ranks it first") {
    val docs = graft.model.Tables.documents(spark, sf0001)
      .filter(col("text").contains(" dup "))
    val withDup = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assume(withDup.nonEmpty)
    val rank1 = Extensions.tfidfTerms.fn(spark, sf0001)
      .filter(col("rank") === 1 && col("doc_id").isin(withDup.toSeq: _*))
    assert(rank1.filter(col("term") =!= "dup").count() == 0,
      "rare term must out-score common terms wherever it appears")
  }

  test("curate_semantic = curate_full minus exactly the semantic non-keeps") {
    val full = Extensions.corpusCurateFull.fn(spark, sf0001).select("doc_id")
    val sem = Extensions.corpusCurateSemantic.fn(spark, sf0001).select("doc_id")
    // subset, and the removed set is precisely keep==false cluster members
    assert(sem.join(full, Seq("doc_id"), "left_anti").count() == 0)
    val nonKeeps = Extensions.semanticClusters.fn(spark, sf0001)
      .filter(!col("keep")).select(col("vec_id").as("doc_id"))
    val removed = full.join(sem, Seq("doc_id"), "left_anti")
    assert(removed.join(nonKeeps, Seq("doc_id"), "left_anti").count() == 0,
      "every removed doc must be a semantic non-keep")
  }

  test("unigram logprob: rare-token docs score above the all-common baseline") {
    val df = Extensions.unigramLogprob.fn(spark, sf0001).cache()
    assert(df.count() == 500)
    // ppl must be exp(avg) of the rounded average (parity contract)
    val bad = df.filter(abs(col("ppl") -
      round(exp(col("avg_neg_logprob")), 2)) > 1e-9)
    assert(bad.count() == 0)
    // docs containing the rare marker 'dup' carry strictly higher
    // cross-entropy than the corpus median (rarity = surprise)
    val withDup = graft.model.Tables.documents(spark, sf0001)
      .filter(col("text").contains(" dup ")).select("doc_id")
    val med = df.stat.approxQuantile("avg_neg_logprob", Array(0.5), 0.0)(0)
    val dupScores = df.join(withDup, Seq("doc_id"))
    assume(dupScores.count() > 0)
    assert(dupScores.filter(col("avg_neg_logprob") <= med).count() == 0)
    df.unpersist()
  }

  test("domain cap keeps exactly N best-quality docs per source") {
    val df = Extensions.domainCap.fn(spark, sf0001)
    val per = df.groupBy("source").count().collect().map(_.getLong(1)).toSet
    assert(per == Set(Extensions.DomainCapPerSource.toLong))
    // kept min score per source >= excluded max score per source
    val all = graft.model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"),
        Extensions.qualityExpr(col("text")).as("score"))
    val dropped = all.join(df.select("doc_id"), Seq("doc_id"), "left_anti")
      .groupBy("source").agg(max("score").as("dmax"))
    val kept = df.groupBy("source").agg(min("score").as("kmin"))
    assert(kept.join(dropped, Seq("source"))
      .filter(col("kmin") < col("dmax")).count() == 0)
  }

  test("PolyKgramHash equals the composed ascii(substr) polynomial, all edge shapes") {
    // the rolling expression must reproduce the oracle's composed form
    // bit-for-bit: normal text, exactly-8, shorter-than-8 (zero-padded
    // single window), empty, and non-ASCII codepoints
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "exactly8", "short", "", "héllo wörld ünïcode £10",
      // astral-plane (surrogate-pair) codepoints: Spark substr/ascii,
      // this expression's codePointAt walk, and DuckDB substr/ascii
      // must all count the emoji as ONE character worth cp 0x1F600+
      "a😀b🤖c emoji-rolling-window tail",
      "😀🤖🚀")
    val df = texts.toDF("text")
    val composed = transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
      i => (0 to 7).map(j =>
        ascii(col("text").substr(i + lit(j), lit(1))) *
          lit(Seq(13163680L, 805498697L, 154885210L, 362470373L,
            16974593L, 66049L, 257L, 1L)(j))).reduce(_ + _) % 1000000007L)
    val rows = df.select(
      graft.expr.ColumnOps.polyKgramHash(col("text")).as("fast"),
      composed.as("slow")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"diverged on '$t'")
    }
    // WinnowSelect must equal the composed window-min/distinct chain
    // (order included: both keep first-occurrence window order)
    val composedSel = array_distinct(transform(
      sequence(lit(1), greatest(size(col("kh")) - 3, lit(1))),
      i => array_min(slice(col("kh"), i, lit(4)))))
    val selRows = df
      .select(graft.expr.ColumnOps.polyKgramHash(col("text")).as("kh"))
      .select(graft.expr.ColumnOps.winnowSelect(col("kh")).as("fast"),
        composedSel.as("slow")).collect()
    selRows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"select diverged on '$t'")
    }
  }

  test("winnow overlap pairs docs sharing a long run; boilerplate-only overlap is gated") {
    // docs 1/2 share a 200-char run (many shared winnow fingerprints);
    // doc 3 is unrelated. A fingerprint present in ALL docs would be
    // df-gated only past WinnowDfMax — here df=2 passes the gate, so
    // the planted pair must surface with shared >= WinnowSharedMin.
    val run = (1 to 40).map(i => s"shared$i").mkString(" ")
    Seq((1L, s"$run aa bb cc dd"), (2L, s"$run ee ff gg hh"),
        (3L, (1 to 44).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("target/tmp-winnow/documents.parquet")
    val pairs = Extensions.winnowOverlap.fn(spark, "target/tmp-winnow").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set((1L, 2L)), s"got ${pairs.keySet}")
    assert(pairs((1L, 2L)) >= Extensions.WinnowSharedMin)
  }

  test("chunk dedup: shared 20-token chunks are counted; unique docs keep") {
    // docs 1 and 2 are identical (both chunks duplicated, keep=false);
    // doc 3 is 40 unique tokens (2 chunks, none duplicated, keep=true)
    val chunkA = (1 to 20).map(i => s"tok$i").mkString(" ")
    val tailB = (1 to 20).map(i => s"b$i").mkString(" ")
    val uniq = (1 to 40).map(i => s"u$i").mkString(" ")
    Seq((1L, s"$chunkA $tailB"), (2L, s"$chunkA $tailB"), (3L, uniq))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("target/tmp-chunk/documents.parquet")
    val got = Extensions.dedupChunk.fn(spark, "target/tmp-chunk").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((2L, 2L, 1.0, false)))
    assert(got(2L) == ((2L, 2L, 1.0, false)))
    assert(got(3L) == ((2L, 0L, 0.0, true)))
  }

  test("chunk rewrite keeps first occurrences and reassembles in order") {
    val chunkA = (1 to 20).map(i => s"tok$i").mkString(" ")
    val tailB = (1 to 20).map(i => s"b$i").mkString(" ")
    val uniq = (1 to 40).map(i => s"u$i").mkString(" ")
    Seq((1L, s"$chunkA $tailB"), (2L, s"$chunkA $tailB"), (3L, uniq))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("target/tmp-chunkrw/documents.parquet")
    val got = Extensions.dedupChunkRewrite.fn(spark, "target/tmp-chunkrw").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 owns every chunk (min doc_id) and reassembles verbatim;
    // its byte-twin doc 2 is rewritten to EMPTY; doc 3 untouched
    assert(got(1L) == ((s"$chunkA $tailB", 2L, 2L)))
    assert(got(2L) == (("", 2L, 0L)))
    assert(got(3L) == ((uniq, 2L, 2L)))
  }

  test("bloom decontamination is output-identical to the exact path") {
    val exact = Extensions.decontaminate.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val bloom = Extensions.decontaminateBloom.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(bloom == exact)
    // the corpus must exercise both outcomes or the identity is vacuous
    assert(bloom.valuesIterator.exists(identity) &&
      bloom.valuesIterator.exists(!_))
  }

  test("bigram LM: rare continuation of a common context scores high") {
    // 'the cat' ×9, 'the dog' ×1: P(cat|the)=0.9, P(dog|the)=0.1 —
    // the dog doc must score ln(10), cat docs ln(10/9), exactly
    val docs = (1L to 9L).map(i => (i, "the cat")) :+ ((10L, "the dog"))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("target/tmp-bigram/documents.parquet")
    val got = Extensions.bigramLogprob.fn(spark, "target/tmp-bigram").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(10L) == BigDecimal(math.log(10.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(1L) == BigDecimal(math.log(10.0 / 9.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("embedding quantization: reconstruction error bounded by half a quantization step") {
    // dims with known ranges: dim0 spans [0,2] (scale 2/255), dim1 is
    // CONSTANT (scale 0 -> dequantizes to mn exactly), dim2 spans [0,1]
    val vecs = Seq(
      (1L, Seq(0.0, 7.0, 0.0), 0),
      (2L, Seq(2.0, 7.0, 1.0), 0),
      (3L, Seq(1.0, 7.0, 0.3), 0))
    vecs.map { case (id, v, l) => (id, v.map(_.toFloat), l) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("target/tmp-quant/embeddings.parquet")
    val got = Extensions.embeddingQuantize.fn(spark, "target/tmp-quant").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val maxStep = 2.0 / 255.0 / 2.0 // widest dim's half-step
    for ((id, (nDims, mse, maxErr)) <- got) {
      assert(nDims == 3L, s"vec $id")
      assert(mse >= 0.0 && maxErr >= 0.0, s"vec $id")
      // max_abs_err is published rounded to 6dp — allow that half-ulp
      assert(maxErr <= maxStep + 5.1e-7, s"vec $id: $maxErr > $maxStep")
    }
    // range endpoints land exactly on grid points: vec 1 and 2 are exact
    assert(got(1L)._3 == 0.0 && got(2L)._3 == 0.0)
  }

  test("int8 quantization preserves exact top-10 cosine neighbors (recall >= 0.9)") {
    // independent pure-Scala re-computation of the quantizer + both
    // searches: the op's claim is that ANN can rerank on int8 — that
    // only holds if the dequantized neighborhoods match the float ones
    val rows = graft.model.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
    val vecs = rows.map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val dim = vecs.head._2.length
    val mn = Array.tabulate(dim)(j => vecs.values.map(_(j)).min)
    val mx = Array.tabulate(dim)(j => vecs.values.map(_(j)).max)
    val deq = vecs.map { case (id, v) =>
      id -> Array.tabulate(dim) { j =>
        val scale = (mx(j) - mn(j)) / 255.0
        if (scale == 0.0) mn(j)
        else mn(j) + math.min(math.floor((v(j) - mn(j)) / scale + 0.5), 255.0) * scale
      }
    }
    def top10(m: Map[Long, Array[Double]], q: Long): Set[Long] = {
      val qv = m(q)
      def cos(a: Array[Double], b: Array[Double]) = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      m.keys.filter(_ != q).toSeq
        .sortBy(id => (-cos(qv, m(id)), id)).take(10).toSet
    }
    val queries = vecs.keys.filter(_ % 47 == 0).toSeq
    val recall = queries.map(q =>
      (top10(vecs, q) intersect top10(deq, q)).size / 10.0).sum / queries.size
    assert(recall >= 0.9, s"int8 recall@10 = $recall")
  }

  test("temperature sampling: smallest language keeps all; bigger languages thin toward their rate") {
    val docs = graft.model.Tables.documents(spark, sf0001)
    val n = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = n.values.min
    val kept = Extensions.temperatureSample.fn(spark, sf0001).collect()
    val keptN = kept.groupBy(_.getString(1)).map { case (l, rs) => l -> rs.length }
    // the argmin language is never thinned (rate exactly 1.0)
    val minLang = n.minBy { case (l, c) => (c, l) }._1
    assert(keptN(minLang) == nMin)
    assert(kept.filter(_.getString(1) == minLang).forall(_.getDouble(2) == 1.0))
    for ((l, c) <- n) {
      val rate = math.pow(nMin.toDouble / c, 1 - Extensions.TempAlpha)
      // hash-thresholding is a Bernoulli(rate) draw per doc: allow a
      // wide deterministic tolerance, but the thinning must be real
      assert(math.abs(keptN.getOrElse(l, 0).toDouble / c - rate) < 0.2,
        s"$l: kept ${keptN.getOrElse(l, 0)}/$c vs rate $rate")
      if (c > 2 * nMin) assert(keptN(l) < c, s"$l never thinned")
    }
  }

  test("incremental dedup classifies a batch against the corpus three ways") {
    // doc_id-hash split: 2,3 -> corpus; 1,15,16 -> batch (precomputed
    // sha256 buckets 82/91/93 vs 2/52). Batch doc 1 is a byte-twin of
    // corpus doc 2 (exact wins over the near-dup candidate it also
    // is); 15 is corpus doc 3 with one token changed; 16 is fresh.
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 40).map(i => s"beta$i").mkString(" ")
    val bNear = ((1 to 39).map(i => s"beta$i") :+ "changed").mkString(" ")
    val fresh = (1 to 40).map(i => s"gamma$i").mkString(" ")
    Seq((2L, a), (3L, b), (1L, a), (15L, bNear), (16L, fresh))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("target/tmp-incr/documents.parquet")
    val got = Extensions.dedupIncremental.fn(spark, "target/tmp-incr").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "exact_dup", 15L -> "near_dup", 16L -> "new"))
  }

  test("incremental index hot-bucket cap never binds at driver SFs") {
    // measured through the operator's own banding (minhashBanded over
    // the corpus-side signatures) so a drift can't hide in the test
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val bucket = pmod(
        graft.expr.Scalars.hash60(col("doc_id").cast("string")), lit(100L))
      val corpus = graft.model.Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"), bucket.as("bucket"))
        .filter(col("bucket") < Extensions.IncrementalCorpusPct)
        .select("doc_id", "text")
      val maxBucket = Extensions.minhashBanded(Extensions.minhashSignatures(corpus))
        .groupBy("band", "bk").count().agg(max("count")).head().getLong(0)
      assert(maxBucket < Extensions.IncrementalBucketCap,
        s"$sf: max index bucket $maxBucket reaches cap ${Extensions.IncrementalBucketCap}")
    }
  }

  test("pageRank: centrality ordering and mass conservation on a planted path graph") {
    import spark.implicits._
    // bidirected path a—b—c: b is the center, a and c symmetric
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val pr = Extensions.pageRank(edges, 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("b") > pr("a") && pr("b") > pr("c"))
    assert(math.abs(pr("a") - pr("c")) < 1e-12) // symmetry is exact
    // bidirected graph has no dangling nodes → total mass stays n
    assert(math.abs(pr.values.sum - 3.0) < 1e-9)
    // hand-computed fixed point check at iteration 1 from pr0 = 1:
    // a gets 0.15 + 0.85 * (pr_b/outdeg_b) = 0.15 + 0.85 * 0.5 = 0.575
    val one = Extensions.pageRank(edges, 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(one("a") - 0.575) < 1e-12 &&
      math.abs(one("b") - (0.15 + 0.85 * 2.0)) < 1e-12)
  }

  test("weighted sample: selection is length-biased and deterministic") {
    // sf0.1: the only SF where n_docs (5000) exceeds K (500) so the
    // top-K cut actually selects; smaller SFs return the whole corpus
    val sf01 = "/root/testdata/sf0.1"
    val out1 = Extensions.weightedSample.fn(spark, sf01).collect()
    val out2 = Extensions.weightedSample.fn(spark, sf01).collect()
    assert(out1.length == Extensions.WsK)
    assert(out1.map(_.getLong(0)).toSeq == out2.map(_.getLong(0)).toSeq) // re-run identical
    // E-S with w = n_chars+1: the sampled mean length must exceed the
    // corpus mean (that is the point of weighting)
    val corpusMean = model.Tables.documents(spark, sf01)
      .agg(avg("n_chars")).head().getDouble(0)
    val sampleMean = out1.map(_.getLong(1).toDouble).sum / out1.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("domain KL: non-negative for every source, zero only if source == corpus") {
    val kl = Extensions.domainKl.fn(spark, sf0001).collect()
    assert(kl.nonEmpty)
    // Gibbs' inequality: KL >= 0 always; > 0 here because no synthetic
    // source exactly matches the corpus mixture
    kl.foreach { r =>
      assert(r.getDouble(2) >= 0.0, s"negative KL for ${r.getString(0)}")
    }
    assert(kl.exists(_.getDouble(2) > 0.0))
  }

  test("perplexity buckets: per-language terciles are balanced and score-ordered") {
    val df = Extensions.perplexityBuckets.fn(spark, sf0001).cache()
    assert(df.count() == 500)
    // within each language, tercile sizes differ by at most 1 (ntile
    // contract) and score ranges are ordered: max(head) <= min(tail)
    val sizes = df.groupBy("lang", "tercile").count()
      .groupBy("lang").agg((max("count") - min("count")).as("spread"))
      .collect()
    sizes.foreach(r => assert(r.getLong(1) <= 1L,
      s"${r.getString(0)}: tercile sizes differ by ${r.getLong(1)}"))
    val ranges = df.groupBy("lang").agg(
      max(when(col("tercile") === 1, col("avg_neg_logprob"))).as("headMax"),
      min(when(col("tercile") === 3, col("avg_neg_logprob"))).as("tailMin"))
      .collect()
    ranges.foreach(r => assert(r.getDouble(1) <= r.getDouble(2),
      s"${r.getString(0)}: head max ${r.getDouble(1)} > tail min ${r.getDouble(2)}"))
    // label column is a pure rename of the tercile
    assert(df.filter(
      (col("tercile") === 1 && col("bucket") =!= "head") ||
      (col("tercile") === 2 && col("bucket") =!= "middle") ||
      (col("tercile") === 3 && col("bucket") =!= "tail")).count() == 0)
    df.unpersist()
  }

  test("importance resample: deterministic and enriched toward the target language") {
    val out1 = Extensions.importanceResample.fn(spark, sf0001).collect()
    val out2 = Extensions.importanceResample.fn(spark, sf0001).collect()
    assert(out1.length == Extensions.DsirK)
    assert(out1.map(_.getLong(0)).toSeq == out2.map(_.getLong(0)).toSeq)
    // the whole point of importance weighting: the selected slice is
    // ENRICHED in the target (en) language vs the corpus mixture
    // (54% vs 38.6% measured at sf0.001 — assert the direction with
    // margin, not the exact value)
    val docs = model.Tables.documents(spark, sf0001)
    val corpusEn = docs.filter(col("lang") === "en").count().toDouble /
      docs.count()
    import spark.implicits._
    val sel = out1.map(_.getLong(0)).toSeq.toDF("doc_id")
    val selEn = docs.join(sel, Seq("doc_id"))
      .filter(col("lang") === "en").count().toDouble / out1.length
    assert(selEn > corpusEn + 0.05,
      f"selected en share $selEn%.2f not enriched over corpus $corpusEn%.2f")
  }

  test("hits: L1-normalized sides, broader hub dominates on the real graph") {
    val out = Extensions.hits.fn(spark, sf0001).collect()
    val (hubs, auths) = out.partition(_.getString(0) == "s")
    assert(hubs.nonEmpty && auths.nonEmpty)
    // each side is L1-normalized (sums computed on round-6 outputs, so
    // tolerance covers accumulated per-row rounding)
    assert(math.abs(hubs.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    assert(math.abs(auths.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    // the supplier with the most distinct customers must out-hub the
    // one with the fewest (degree dominates after 2 iterations on a
    // near-regular bipartite graph)
    import spark.implicits._
    val li = model.Tables.lineitem(spark, sf0001).select("l_orderkey", "l_suppkey")
    val ord = model.Tables.orders(spark, sf0001).select("o_orderkey", "o_custkey")
    val deg = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .select($"l_suppkey", $"o_custkey").distinct()
      .groupBy("l_suppkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hubScore = hubs.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val maxDeg = deg.maxBy(_._2)._1
    val minDeg = deg.minBy(_._2)._1
    assert(hubScore(maxDeg) > hubScore(minDeg),
      s"hub(${maxDeg})=${hubScore(maxDeg)} not above hub(${minDeg})=${hubScore(minDeg)}")
  }

  test("model memo: concurrent loads dedupe; a failed load retries instead of caching the failure") {
    // the round-12 future-holding memo: first caller loads, waiters
    // block on the future; a loader failure removes the entry so the
    // NEXT call retries — a cached exception would wedge every search
    // path sharing that model for the session
    val key = Some(s"memo-spec-${java.util.UUID.randomUUID()}")
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[IllegalStateException] {
      Extensions.memoizedModel[Integer](key) {
        loads.incrementAndGet()
        throw new IllegalStateException("planted load failure")
      }
    }
    val v = Extensions.memoizedModel[Integer](key) {
      Integer.valueOf(loads.incrementAndGet())
    }
    assert(loads.get() == 2 && v == 2,
      "failed load must not be cached; the retry must run the loader")
    // dedupe: 8 concurrent consumers of one fresh key → one load
    val key2 = Some(s"memo-spec-${java.util.UUID.randomUUID()}")
    val loads2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = Extensions.inParallel((1 to 8).map(_ => () =>
      Extensions.memoizedModel[Integer](key2) {
        Thread.sleep(50) // widen the race window
        Integer.valueOf(loads2.incrementAndGet())
      }))
    assert(loads2.get() == 1 && got.forall(_ == 1),
      s"concurrent loads must dedupe to one (got ${loads2.get()})")
    // waiters see the loader's ORIGINAL exception type, not the
    // ExecutionException wrapper
    intercept[IllegalArgumentException] {
      Extensions.inParallel(Seq(
        () => 1,
        () => throw new IllegalArgumentException("planted thunk failure")))
    }
  }

  test("shard writer: re-ingestion-stable shards, content-hash order, query facts match the files") {
    import spark.implicits._
    val docs = (1L to 64L).map(i => (i, s"document body number $i with words"))
      .toDF("doc_id", "text")
    val dir1 = java.nio.file.Files.createTempDirectory("shards1").toString
    val dir2 = java.nio.file.Files.createTempDirectory("shards2").toString
    Extensions.writeShards(docs, dir1, n = 4)
    // re-ingestion: same corpus, shuffled row order, different
    // partitioning — the shards must come out byte-identical
    Extensions.writeShards(
      docs.orderBy(desc("doc_id")).repartition(7, col("doc_id")), dir2, n = 4)
    def shardSeqs(dir: String): Map[Int, Seq[(Long, Long)]] =
      (0 until 4).flatMap { s =>
        val p = new java.io.File(s"$dir/shard=$s")
        if (!p.exists()) None
        else Some(s -> spark.read.parquet(p.toString)
          .select("doc_id", "content_hash").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq)
      }.toMap
    val s1 = shardSeqs(dir1)
    val s2 = shardSeqs(dir2)
    assert(s1 == s2, "re-ingested corpus produced different shards")
    assert(s1.values.map(_.size).sum == 64 && s1.nonEmpty)
    // within-shard order is (content_hash, doc_id) ascending
    s1.foreach { case (s, rows) =>
      val sorted = rows.sortBy { case (id, h) => (h, id) }
      assert(rows == sorted, s"shard $s not in content-hash order: $rows")
    }
    // the registered query's facts describe exactly these files:
    // shard membership and rank order agree (on the documents table)
    val facts = Extensions.shardAssign.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byShard = facts.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0 until Extensions.ShardCount).toSet))
    byShard.foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length),
        "shard ranks must be contiguous from 1")
    }
    // balance: hash assignment keeps every shard within sampling noise
    // of the mean (generous 3x bound — this guards gross skew, e.g. a
    // constant-key regression assigning everything to one shard)
    val sizes = byShard.values.map(_.length)
    assert(sizes.max <= 3 * (facts.length / Extensions.ShardCount),
      s"shard sizes grossly unbalanced: $sizes")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir1))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }

  test("mixture sample: two-level prefix sum == flat in-memory cumsum; budgets exact and maximal") {
    // in-memory twin of the whole selection: flat cumulative sum per
    // lang over (bucket, hash, doc_id) order — the semantics the
    // distributed two-level decomposition must reproduce exactly
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = docs.map { case (id, lang, text) =>
      val h = h60(text)
      (id, lang, text.trim.split("\\s+").length.toLong, h,
        h % Extensions.MixturePrefixBuckets)
    }
    val total = toks.map(_._3).sum
    val weights = Extensions.MixtureWeights.toMap
    val expected = toks.groupBy(_._2).flatMap { case (lang, rows) =>
      val budget = total * weights.getOrElse(lang, 0L) /
        (100L * Extensions.MixtureBudgetDiv)
      val ordered = rows.sortBy { case (id, _, _, h, b) => (b, h, id) }
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      val kept = ordered.zip(cums).takeWhile(_._2 <= budget)
      // maximality: the first EXCLUDED doc (if any) must overflow
      ordered.zip(cums).drop(kept.length).headOption.foreach {
        case (_, cum) => assert(cum > budget,
          s"$lang: selection stopped before the budget was full")
      }
      kept.map { case ((id, l, n, _, _), cum) => (id, l, n, cum) }.toSeq
    }.toSet
    val got = Extensions.mixtureSample.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected,
      s"mixture selection diverged: extra=${got -- expected} missing=${expected -- got}")
    // the mixture is a real cut: nonempty and a strict subset
    assert(got.nonEmpty && got.size < docs.length)
  }

  test("shard lifecycle: delta landing + compaction byte-identical to the monolithic write; manifest folds") {
    import spark.implicits._
    val base = (1L to 80L).map(i => (i, s"standing corpus document $i body"))
      .toDF("doc_id", "text")
    val batch = (81L to 100L).map(i => (i, s"arriving batch document $i body"))
      .toDF("doc_id", "text")
    val dirs = Seq("sbase", "sdelta", "scomp", "smono")
      .map(p => java.nio.file.Files.createTempDirectory(p).toString)
    val Seq(baseDir, deltaDir, compDir, monoDir) = dirs
    Extensions.writeShards(base, baseDir, n = 4)
    Extensions.writeShardDelta(batch, deltaDir, n = 4)
    // compaction reads the STORES (never the source frames)…
    Extensions.compactShards(spark, baseDir, deltaDir, compDir, n = 4)
    // …and must land byte-identical to the monolithic write over the union
    Extensions.writeShards(base.unionByName(batch), monoDir, n = 4)
    def shardSeqs(dir: String): Map[Int, Seq[(Long, Long)]] =
      (0 until 4).flatMap { s =>
        val p = new java.io.File(s"$dir/shard=$s")
        if (!p.exists()) None
        else Some(s -> spark.read.parquet(p.toString)
          .select("doc_id", "content_hash").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq)
      }.toMap
    assert(shardSeqs(compDir) == shardSeqs(monoDir),
      "compacted shards diverge from the monolithic write")
    assert(shardSeqs(compDir).values.map(_.size).sum == 100)
    // manifest monoid: the registered fold's receipt == the monolithic
    // manifest receipt on the documents table (the oracle asserts this
    // against DuckDB; here the two REGISTERED paths are pinned to each
    // other so a drifting fold shows up in-suite)
    val folded = Extensions.shardManifestFold.fn(spark, sf0001).collect()
      .map(_.toSeq).toSeq
    val mono = Extensions.shardManifest.fn(spark, sf0001).collect()
      .map(_.toSeq).toSeq
    assert(folded == mono, "folded manifest != monolithic manifest")
    dirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("filtered ivfpq search: label constraint exact, recall floor vs exact filtered ground truth") {
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val labelOf = spark.read.parquet(s"$sf/embeddings.parquet")
        .select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // exact filtered ground truth (oracle-paired)
      val exact = Extensions.topkFiltered.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      val got = Extensions.topkIvfpqFiltered.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // the constraint is EXACT on every returned row — a filtered
      // search that leaks off-label neighbors is wrong, not
      // approximate
      got.foreach { case (q, c) =>
        assert(labelOf(c) == labelOf(q),
          s"off-label neighbor: query $q (label ${labelOf(q)}) got " +
            s"$c (label ${labelOf(c)})")
      }
      // recall@k vs the exact filtered top-k, averaged over the
      // queries the ground truth covers (a query with zero approx
      // results counts as recall 0 — same discipline as ann_recall)
      val exactSet = exact.toSet
      val byQ = exact.groupBy(_._1)
      val recalls = byQ.map { case (q, rows) =>
        got.count(t => t._1 == q && exactSet(t)).toDouble / rows.length
      }
      val mean = recalls.sum / recalls.size
      info(f"filtered ivfpq recall@10 at $sf: $mean%.3f")
      // floor: measured 0.831/0.869 at sf0.001/0.01 (ABOVE unfiltered
      // ivfpq's 0.63-0.68 — FilteredNProbe=12 of 16 cells routes
      // nearly everywhere while the label filter thins candidates, so
      // the pre-filter + widened routing more than rebuilds the pool
      // the ~10%-selective constraint costs) — floor a wide margin
      // below the measured minimum so it trips on index regressions,
      // not corpus jitter
      assert(mean >= 0.6, f"filtered recall $mean%.3f below floor 0.6")
    }
  }

  test("mixture epochs: per-language token fill lands in (budget - max_doc, budget]") {
    // the oracle hash-gates the rows; this pins the SEMANTIC claim —
    // copies·n_tok per language fills the 2x budget to within one
    // document (epochs·supply + a maximal fractional cut)
    val docs = model.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
    val toksOf = docs.map(r => (r.getLong(0), r.getString(1),
      r.getString(2).trim.split("\\s+").length.toLong))
    val total = toksOf.map(_._3).sum
    val got = ext.Extensions.mixtureEpochs.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val weights = ext.Extensions.MixtureWeights.toMap
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val budget = total * weights(lang) * ext.Extensions.MixtureEpochsMul / 100L
      val filled = rows.map(r => r._3 * r._4).sum
      val supply = toksOf.filter(_._2 == lang).map(_._3)
      assert(filled <= budget, s"$lang overfilled: $filled > $budget")
      assert(filled > budget - supply.max,
        s"$lang underfilled: $filled vs budget $budget (max doc ${supply.max})")
      // the registered 2x budget must actually exercise repetition
      assert(rows.forall(_._4 >= 1))
    }
    assert(got.exists(_._4 >= 2), "no language upsampled — epoch path unexercised")
  }

  test("pack spans: docs tile the per-language token stream exactly; boundary docs span sequences") {
    // the semantic claim behind the oracle rows: consecutive docs in
    // the content-hash stream are CONTIGUOUS (each starts where the
    // previous ended) and a doc's last sequence is its absolute end's
    // slice — i.e. the output really is concat-and-slice packing
    val got = ext.Extensions.packSpans.fn(spark, "/root/testdata/sf0.01")
      .collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val B = ext.Extensions.PackSeqLen
    got.groupBy(_._1).foreach { case (lang, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._5, r._2))
      var cursor = 0L
      ordered.foreach { case (_, id, n, s0, off, s1) =>
        assert(s0 * B + off == cursor,
          s"$lang doc $id starts at ${s0 * B + off}, stream cursor $cursor")
        cursor += n
        assert(s1 == (cursor - 1) / B,
          s"$lang doc $id seq_end $s1 != ${(cursor - 1) / B}")
      }
    }
    assert(got.exists(r => r._6 > r._4),
      "no document spans a sequence boundary — the slice semantics are unexercised")
  }

  test("prototype pruning: in-memory twin equality (assignment, score, rank, cut)") {
    import org.apache.spark.sql.functions.{col => c}
    val path = s"$sf0001/embeddings.parquet"
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(c("vec_id"), c("embedding").cast("array<double>").as("v"))
    val cs = ext.Extensions.ivfCentroids(emb, centroidSrc = Some(path))
    assert(cs.nonEmpty)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = spark.read.parquet(path).select("vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val scored = rows.map { case (id, v) =>
      val n = math.sqrt(dot(v, v))
      val nv = v.map(_ / n)
      val dots = cs.map(cw => dot(nv, cw))
      val cell = dots.indexOf(dots.max) // FIRST max — argmaxCell's tiebreak
      (id, cell, r6(dots(cell)))
    }
    val expected = scored.groupBy(_._2).flatMap { case (cell, xs) =>
      val ordered = xs.sortBy { case (id, _, p) => (-p, id) }
      ordered.zipWithIndex.map { case ((id, _, p), i) =>
        val rank = i + 1
        (id, cell, p, rank,
          rank * ext.Extensions.PrototypePruneDen > ordered.length)
      }.toSeq
    }.toSet
    val got = ext.Extensions.prototypePrune.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3),
        r.getBoolean(4)))
      .toSet
    assert(got == expected,
      s"prototype pruning diverged from the in-memory twin: " +
        s"extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
    // the cut is real: every cell with ≥ den vectors drops some
    val dropped = got.count(!_._5)
    assert(dropped > 0 && dropped < got.size)
  }

  test("lang_id predicts en for english marker text") {
    val got = Seq((1L, "the cat and the dog of the house"))
      .toDF("doc_id", "text").createOrReplaceTempView("ignored")
    // use library pieces directly on a tiny frame via the query's logic:
    val df = Extensions.langId.fn(spark, sf0001)
    assert(df.count() > 0)
    // markers are english-heavy in the synthetic corpus → 'en' dominates
    val top = df.groupBy("predicted").count().orderBy(desc("count"))
      .collect()(0).getString(0)
    assert(top == "en")
  }

  test("driver-side ANN routing == distributed routing, every changed path") {
    // Round 15: within the DriverRouteMaxQueries bound the query-side
    // cell routing (and, per family, the ADC LUT carry, the label
    // expansion, the per-cell mean dot) runs on the driver instead of
    // as a distributed explode×join×window pipeline. The contract is
    // BIT-IDENTICAL outputs: probeLocal reproduces DotProduct's strict
    // left-to-right accumulation and row_number's (−dot asc, cell asc)
    // total order, so each search's rows must match the seam-forced
    // distributed form exactly — values, ranks, everything.
    val paths = Seq(
      "topk_ivf" -> Extensions.topkIvf,
      "topk_ivfpq" -> Extensions.topkIvfpq,
      "topk_ivfpq_filtered" -> Extensions.topkIvfpqFiltered,
      "hard_negatives_ivfpq" -> Extensions.hardNegativesIvfpq,
      "topk_ivfpqr" -> Extensions.topkIvfpqr,
      "topk_imi" -> Extensions.topkImi,
      "topk_imipq" -> Extensions.topkImipq)
    for ((name, q) <- paths) {
      def rowsOf(): Seq[String] =
        try q.fn(spark, sf0001).collect().map(_.toString).sorted.toSeq
        finally Extensions.releaseCaches()
      val driver = rowsOf()
      Extensions.driverRouteBound = 0
      val dist = try rowsOf()
        finally Extensions.driverRouteBound = Extensions.DriverRouteMaxQueries
      assert(driver == dist,
        s"$name: driver routing diverged from the distributed form — " +
          s"driverOnly=${(driver.toSet -- dist.toSet).take(3)} " +
          s"distOnly=${(dist.toSet -- driver.toSet).take(3)}")
    }
  }

  test("query batch: the one-job TakeOrdered fetch returns exactly the emb ⋈ qids rows") {
    import spark.implicits._
    // ids 0..39 with distinct vectors; the hash order decides the cut
    val base = (0L until 40L).map(i => (Option(i), Seq(i.toDouble, 1.0))).toDF("vec_id", "v")
    val order = Extensions.hashOrderedSample(base, "vec_id", 17).collect().map(_.getLong(0))
    def row(id: Option[Long]) = Seq((id, Seq(-1.0, 2.0))).toDF("vec_id", "v")
    val corpora = Seq(
      "unique ids" -> base,
      "duplicate at the cut" -> base.unionByName(row(Some(order(15)))),
      "duplicate inside the batch" -> base.unionByName(row(Some(order(0)))),
      "duplicate just past the cut" -> base.unionByName(row(Some(order(16)))),
      "null id" -> base.unionByName(row(None)),
      "fewer rows than the batch" -> base.filter(col("vec_id") < 5))
    for ((name, emb) <- corpora) {
      val qids = Extensions.annQueryIds(emb)
      val (_, got) = Extensions.collectQueryBatch(emb, qids)(identity).get
      val want = Extensions.queryRows(emb, qids).collect()
      assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq, name)
    }
  }

  test("sessionMemo: a foreign-session memo entry is evicted and re-derived for the live session") {
    // memo keys carry the session's identity hash, which a stopped
    // session's address reuse can collide with; a sibling session's
    // frame under the key stands in for that collision
    val key = Some(s"session-memo-spec:${System.nanoTime()}")
    val foreign = spark.newSession().range(3).toDF()
    assert(Extensions.memoizedModel(key)(foreign) eq foreign)
    var derived = 0
    val got = Extensions.sessionMemo(spark, key, identity[DataFrame]) { () =>
      derived += 1
      spark.range(3).toDF()
    }
    try {
      assert(got.sparkSession eq spark)
      assert(derived == 1)
      // the foreign entry is gone: the memo now holds the live frame
      assert(Extensions.memoizedModel[DataFrame](key)(fail("memo entry missing")) eq got)
      assert(got.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    } finally Extensions.evictModelMemo(key)
  }
}
