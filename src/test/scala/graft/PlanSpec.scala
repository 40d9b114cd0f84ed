package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression checks: the 100 TB posture (SURVEY.md §4)
  * asserted, not hoped for. If a refactor drops a pushdown or turns a
  * broadcast join into a shuffle, these fail. */
class PlanSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Final plan after AQE re-planning (requires execution); codegen
    * stages print as `*(n)` prefixes in this form. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("watermark predicate reaches the parquet scan (scan_delta / S2)") {
    val df = ops.Relational.scanDelta.fn(spark, sf0001)
    val plan = physical(df)
    // the comparison itself must be pushed (row-group pruning), not just
    // the IsNotNull that survives any filter
    assert(plan.contains("GreaterThanOrEqual(ts,"),
      s"watermark comparison not pushed to parquet:\n$plan")
  }

  test("column pruning: 2-column projection reads 2 columns (P-ops)") {
    val df = model.Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = physical(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"over-wide read: $readSchema")
  }

  test("id-map lookups broadcast (J1) — no shuffle on the probe side") {
    val plan = physical(ops.Relational.joinIdMap.fn(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("tiered match (J4) runs as three broadcasts, zero sort-merge joins") {
    val plan = physical(ops.Relational.joinTiered.fn(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 3)
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("anti-join orphan routing (J6) plans as a real anti join") {
    val plan = physical(ops.Relational.joinAntiOrphans.fn(spark, sf0001))
    assert(plan.contains("LeftAnti"), s"expected anti join:\n$plan")
  }

  test("scalar projections stay inside whole-stage codegen (no UDF black boxes)") {
    val df = ops.Relational.projectPatient.fn(spark, sf0001)
    val plan = finalPlan(df)
    assert(plan.contains("*("), s"no codegen stage in:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("DotProduct expression participates in codegen (no CodegenFallback)") {
    val df = model.Tables.embeddings(spark, sf0001)
      .select(expr("vec_id"),
        graft.expr.ColumnOps.dotProduct(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("d"))
      .filter(col("d") > 0)
    val plan = finalPlan(df)
    // the Project evaluating dot_product must sit inside a codegen stage
    assert(plan.linesIterator.exists(l => l.contains("dot_product") && l.trim.startsWith("*(")),
      s"dot_product outside codegen:\n$plan")
  }

  test("dedup groupBy plans partial aggregation before the shuffle (A-ops)") {
    val plan = physical(ext.Extensions.dedupExact.fn(spark, sf0001))
    // two HashAggregate nodes (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("minhash LSH candidate generation contains no cartesian product") {
    val plan = physical(ext.Extensions.dedupMinhash.fn(spark, sf0001))
    assert(!plan.contains("CartesianProduct"),
      s"LSH banding must stay equi-join:\n$plan")
  }

  test("minhash candidates come from ONE banded self-join, not one per band") {
    // the exploded (band, bk) form joins once; the pre-round-2 shape had
    // 4 separate SortMergeJoin/BroadcastHashJoin nodes just for candidates
    val plan = physical(ext.Extensions.dedupMinhash.fn(spark, sf0001))
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(plan).size
    // 1 candidate join + 2 signature joins for the estimate = 3
    assert(joins <= 3, s"expected ≤3 equi-joins (1 banded candidate join):\n$plan")
  }

  /** Every physical node of `p`, descending into AQE query stages and
    * into the plans of cached relations. */
  private def nodesDeep(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p.collect { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => nodesDeep(a.executedPlan)
      case s: QueryStageExec => s +: nodesDeep(s.plan)
      case i: InMemoryTableScanExec => i +: nodesDeep(i.relation.cachedPlan)
      case n => Seq(n)
    }
  }

  test("minhash signature: one codegen kernel, no transform lambda in the projection") {
    val sig = ext.Extensions.minhashSignatures(model.Tables.documents(spark, sf0001))
    val plan = finalPlan(sig)
    assert(!plan.contains("lambdafunction") && !plan.contains("transform("),
      s"higher-order functions back in the signature projection:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("shingle_minhash") && l.contains("*(")),
      s"shingle_minhash outside whole-stage codegen:\n$plan")
  }

  test("minhash band stage: bucket size and both anchors plan as ONE Window and ONE Sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // the whole candidate plan, not just a cached sizing frame: bucket
    // size and both anchors come from one window, the in-bucket
    // partners from a second window over the same sort, and nothing is
    // cached
    val sig = ext.Extensions.minhashSignatures(model.Tables.documents(spark, sf0001))
    val cand = ext.Extensions.bandCandidates(ext.Extensions.minhashBanded(sig), Seq("band", "bk"))
    cand.collect()
    val nodes = nodesDeep(cand.queryExecution.executedPlan)
    val windows = nodes.collect { case w: WindowExec => w }
    val sorts = nodes.count(_.isInstanceOf[SortExec])
    val sizing = windows.filter(_.windowExpression.exists(_.toString.contains("nth_value")))
    assert(sizing.length == 1 && windows.length == 2 && sorts == 1,
      s"band stage plans ${windows.length} Window (${sizing.length} sizing) and $sorts Sort " +
        s"nodes:\n${nodes.mkString("\n")}")
    assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
      s"the candidate plan reads a cached relation:\n${nodes.mkString("\n")}")
  }

  test("minhash pairs: one shuffle to band, confirm on the carried signatures — no join") {
    val plan = finalPlan(ext.Extensions.minhashPairsFrom(model.Tables.documents(spark, sf0001)))
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(plan).size
    assert(joins == 0, s"the pair set joins back to its signatures:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("equal_count") && l.contains("*(")),
      s"the confirm kernel is outside whole-stage codegen:\n$plan")
  }

  test("ext_dedup_minhash and the shared top-k tail return their rows in order") {
    // both take their global order from the plan's shape — a range
    // partitioning or one partition, then a partition-local sort — not
    // from an orderBy. Coalescing is off so a shuffle added after the
    // sort spreads the rows over several partitions and breaks the order.
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val pairs = ext.Extensions.dedupMinhash.fn(spark, sf0001)
      val ids = pairs.collect()
        .map(r => (r.getAs[Number]("id_a").longValue, r.getAs[Number]("id_b").longValue)).toSeq
      assert(ids.nonEmpty && pairs.rdd.getNumPartitions > 1,
        s"${ids.length} pairs over ${pairs.rdd.getNumPartitions} partitions: the order is untested")
      assert(ids == ids.sorted, s"ext_dedup_minhash rows are not in (id_a, id_b) order: $ids")
      val ranked = ext.Extensions.topkCosine.fn(spark, sf0001).collect()
        .map(r => (r.getAs[Number]("query_id").longValue, r.getAs[Int]("rank"))).toSeq
      assert(ranked.nonEmpty)
      assert(ranked == ranked.sorted, s"ext_topk_cosine rows are not in (query_id, rank) order: $ranked")
    } finally {
      before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      ext.Extensions.releaseCaches()
    }
  }

  test("warm ext_topk_ivfpq construction runs at most one Spark job (the query batch)") {
    try {
      ext.Extensions.topkIvfpq.fn(spark, sf0001).collect() // stored models, fixtures, memos
      val jobs = jobsIn(ext.Extensions.topkIvfpq.fn(spark, sf0001))
      assert(jobs <= 1, s"warm ivfpq construction ran $jobs Spark jobs")
    } finally ext.Extensions.releaseCaches()
  }

  test("simhash candidate generation is banded equi-join, not all-pairs") {
    val plan = physical(ext.Extensions.dedupSimhash.fn(spark, sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pigeonhole banding must keep simhash an equi-join:\n$plan")
  }

  test("topk scoring broadcasts the query set — corpus is never shuffled for the join") {
    val plan = physical(ext.Extensions.topkCosine.fn(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$plan")
  }

  test("repetition/entropy aggregations plan map-side partials (wordcount shape)") {
    // the hot-key safety story for exploded (doc, gram)/(doc, char)
    // counting IS partial aggregation — assert it exists at both levels
    for (q <- Seq(ext.Extensions.repetitionScore, ext.Extensions.charEntropy)) {
      val plan = physical(q.fn(spark, sf0001))
      assert("HashAggregate".r.findAllIn(plan).size >= 4,
        s"${q.name}: expected two partial+final aggregate pairs:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"${q.name} plans a cross product")
    }
  }

  test("bm25: term joins broadcast-hash; only the 1-row stats join is nested-loop") {
    val plan = physical(ext.Extensions.bm25Search.fn(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), s"no true cartesian:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj == 1, s"exactly the 1-row stats join may be nested-loop (got $bnlj):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term and df joins must be broadcast equi-joins:\n$plan")
    // the postings (tf) frame is cached: its three consumers must read
    // the in-memory relation, not re-tokenize the corpus per branch
    assert(plan.contains("InMemoryTableScan"),
      s"tf must be served from cache (one postings pass):\n$plan")
  }

  test("bloom decontamination probes might_contain scan-side before the semi-join") {
    val plan = physical(ext.Extensions.decontaminateBloom.fn(spark, sf0001))
    assert(plan.contains("might_contain"),
      s"bloom prefilter missing from the train-gram scan:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"exact confirm semi-join missing (bloom alone admits false positives):\n$plan")
  }

  test("registry-wide audit: no unintended cartesian / nested-loop joins") {
    // the bounded ground-truth queries are all-pairs BY DESIGN
    // (documented samples that exist to oracle-check the LSH paths);
    // topk broadcasts the tiny query set against the corpus scan
    val intendedAllPairs = Set(
      "ext_dedup_ngram",     // 128-doc absolute sample, exact Jaccard ground truth
      "ext_dedup_embedding", // ≤64-per-label absolute sample, ground truth for E3b
      "ext_topk_cosine",     // broadcast query set × corpus — exact baseline
      "ext_mmr_rerank",      // same broadcast query × corpus pool build as ext_topk_cosine
      "ext_ann_lsh",         // broadcast query side over bucket candidates
      "ext_topk_pq",         // broadcast query LUTs × corpus CODE scan (ADC)
      "ext_ann_recall",      // composes topk_cosine + ann_lsh above
      "ext_ann_recall_flat", // composes ann_lsh above (+ topk_cosine when the exact-baseline fixture is cold)
      "ext_ann_recall_pq",   // exact-baseline fixture may be cold (topk_cosine recompute); routed paths are equi-joins
      "ext_ann_recall_imi",  // same cold-fixture case as ext_ann_recall_pq
      // 1-ROW broadcast corpus stats (count/avgdl): a BroadcastNestedLoop
      // join whose build side is provably one row IS the right plan at
      // any scale — each probe row scans a single build row; an equi-join
      // key would be constant-folded back to this shape anyway
      "ext_bm25_search",
      "ext_bm25_incremental", // same 1-row corpus-stats broadcast as ext_bm25_search
      "ext_bm25_compact",    // same 1-row corpus-stats broadcast as ext_bm25_search
      "ext_bm25_purge",      // same 1-row corpus-stats broadcast, derived from the PURGED postings
      "ext_crawl_refresh",   // same 1-row corpus-stats broadcast, derived from the REFRESHED postings
      "ext_tfidf_terms",
      "ext_unigram_logprob", // 1-row token total rides the vocab-sized count frame
      "ext_perplexity_buckets", // composes ext_unigram_logprob (same 1-row total)
      "ext_importance_resample", // 1-row tr/tt totals ride the ≤4096-row feature model
      "ext_domain_kl",       // 1-row corpus-total broadcast onto the vocab frame
      "ext_hits",            // 1-row L1-normalization broadcast, 2× per run (end-normalize)
      "ext_hits_warm",       // same 1-row L1 broadcast, once per half-step (the converged mode normalizes every step for delta comparability)
      "ext_quality_classifier", // 1-row smoothing totals + class priors
      "ext_hybrid_search",   // broadcast query slice × corpus (dense tower) + 1-row bm25 stats
      "ext_hybrid_search_pq", // composes ext_hybrid_search + ext_topk_pq shapes above
      "ext_hybrid_search_ivfpq", // same composition with the cell-routed dense tower (1-row bm25 stats)
      "ext_pq_incremental",  // 1-row train-distortion broadcast onto the 1-row batch agg
      "ext_ivf_incremental", // same 1-row drift broadcast shape as ext_pq_incremental
      "ext_knn_label_audit", // broadcast query slice × corpus — topk_cosine shape
      "ext_mixture_sample",  // 1-row corpus-token total × the 5-row weight table (budget arithmetic)
      "ext_mixture_epochs",  // same 1-row total × weight-table budget shape as ext_mixture_sample
      "ext_hard_negatives",  // broadcast 16-row query set × corpus scan — topk_cosine shape (label-inequality is a scan filter, not joinable)
      "ext_hard_negatives_ivfpq") // ≤nLabels-row broadcast label-vocabulary expansion of the routed query frame (theta-join on label inequality)
    // fn runs an entire streaming lifecycle eagerly just to build its
    // (trivial ledger-rollup) frame — a static plan audit shouldn't
    // execute a pipeline; its join surface is covered by PipelineSpec
    val eagerLifecycles = Set("stream_sync_microbatch")
    val offenders = SparkEntry.registry
      .filterNot(q => intendedAllPairs(q.name) || eagerLifecycles(q.name))
      .flatMap { q =>
        val plan = q.fn(spark, sf0001).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
          Some(q.name)
        else None
      }
    assert(offenders.isEmpty, s"unintended cross-product plans: $offenders")
  }

  test("registry-wide audit: no unpartitioned windows (single-partition bottleneck)") {
    // a Window with an empty partitionSpec shuffles its ENTIRE input
    // frame into one partition — a serial bottleneck at 100 TB. The
    // only frames where that is acceptable are provably tiny aggregates
    // (the ≤5-row per-language count tables); everything else must use
    // the 1-row scalar-agg + broadcast pattern or a groupBy join-back.
    // This gate exists because the class reappeared once (ext_hits /
    // ext_domain_kl, round 6) after being eliminated elsewhere.
    val tinyFrameWindows = Set(
      "ext_stratified_sample",  // min over the ≤5-row lang-count agg
      "ext_temperature_sample", // same ≤5-row lang-count frame
      "ext_zipf_fit")           // rank over the ≤ZipfTopK-row post-LIMIT frame
    val eagerLifecycles = Set("stream_sync_microbatch")
    val offenders = SparkEntry.registry
      .filterNot(q => tinyFrameWindows(q.name) || eagerLifecycles(q.name))
      .flatMap { q =>
        val unpart = q.fn(spark, sf0001).queryExecution.optimizedPlan
          .collectWithSubqueries {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          }
        if (unpart.nonEmpty) Some(q.name) else None
      }
    assert(offenders.isEmpty, s"unpartitioned-window plans: $offenders")
  }

  /** File-scan root paths of every DISTINCT scan node in the optimized
    * plan, following into cached (InMemoryRelation) subplans ONCE per
    * cache — a cache referenced by three consumers contributes its
    * scans once, so counts reflect distinct data passes, not fan-out. */
  private def scanNodePaths(df: DataFrame): Seq[String] = {
    val seenCaches = new java.util.IdentityHashMap[Any, Any]()
    // cached plans compile behind an AdaptiveSparkPlanExec wrapper
    // (a leaf to collect) — unwrap it, and nested cache reads, so the
    // file scans inside cached subtrees are counted
    def phys(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        phys(a.inputPlan)
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        if (seenCaches.containsKey(i.relation.cacheBuilder)) Seq.empty[String]
        else {
          seenCaches.put(i.relation.cacheBuilder, ())
          phys(i.relation.cachedPlan)
        }
    }.flatten.toSeq
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        if (seenCaches.containsKey(m.cacheBuilder)) Seq.empty[String]
        else { seenCaches.put(m.cacheBuilder, ()); phys(m.cachedPlan) }
    }.flatten
  }

  test("incremental lexical index: the corpus is never re-tokenized on batch arrival") {
    // the merged postings = stored corpus fixture ∪ ONE O(batch)
    // tokenize — exactly one raw documents scan (the batch filter) may
    // appear anywhere in the plan, cached subplans included
    val df = ext.Extensions.bm25Incremental.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1,
        s"want exactly 1 raw documents scan (the batch tokenize), got $docScans in $paths")
      assert(paths.exists(_.contains("bm25-postings")),
        s"corpus postings not served from the stored index: $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("incremental substring dedup: one raw documents scan, gram counts served") {
    // the corpus gram-count table is the stored index — an arrival pays
    // exactly one raw documents scan (the batch tokenize+gram pass);
    // a second one means the corpus re-tokenize crept back in
    val df = ext.Extensions.substrIncremental.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1,
        s"want exactly 1 raw documents scan (the batch), got $docScans in $paths")
      assert(paths.exists(_.contains("substr-grams")),
        s"corpus gram counts not served from the stored index: $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("incremental substring rewrite: one raw documents scan, gram index served") {
    // the rewrite arrival (E60) shares the stats arrival's contract:
    // exactly one raw documents scan (the batch tokenize+gram pass),
    // counts AND canonicals served from the stored gram index
    val df = ext.Extensions.substrRewriteIncremental.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1,
        s"want exactly 1 raw documents scan (the batch), got $docScans in $paths")
      assert(paths.exists(_.contains("substr-grams")),
        s"corpus gram index not served from the stored fixture: $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("compacted substring index: day-2 scan only, compacted table, no base read") {
    // the settled debts as plan facts: the day-2 arrival reads ONE
    // compacted count table (not the corpus base, not day-1 rows) plus
    // exactly one raw documents scan — the day-2 batch itself
    val df = ext.Extensions.substrCompact.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("substr-grams-compact")),
        s"arrival not served from the compacted counts: $paths")
      assert(!paths.exists(p => p.contains("substr-grams/") ||
          p.contains("substr-grams\\")),
        s"uncompacted base counts still in the plan: $paths")
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1,
        s"want exactly 1 raw documents scan (day-2), got $docScans in $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("incremental dedup/cluster maintenance: one raw documents scan, artifacts served") {
    // the corpus-side content hashes / signatures / capped band index /
    // cluster labels are STORED index tables — an arrival's plan pays
    // exactly one raw documents scan (the batch filter); a second one
    // means a corpus re-tokenize crept back in
    for ((q, families) <- Seq(
        ext.Extensions.dedupIncremental -> Seq("mh-chash", "mh-sigs", "mh-bands"),
        ext.Extensions.clustersIncremental -> Seq("mh-sigs", "mh-bands", "cc-cache"))) {
      val df = q.fn(spark, sf0001)
      try {
        val paths = scanNodePaths(df)
        val docScans = paths.count(p =>
          p.contains("/testdata/") && p.contains("documents.parquet"))
        assert(docScans == 1,
          s"${q.name}: want exactly 1 raw documents scan (the batch), got $docScans in $paths")
        families.foreach(f => assert(paths.exists(_.contains(f)),
          s"${q.name}: $f not served from its stored fixture: $paths"))
      } finally ext.Extensions.releaseCaches()
    }
  }

  test("incremental LSH index: the corpus is never re-hashed on batch arrival") {
    val df = ext.Extensions.lshIncremental.fn(spark, sf0001)
    val paths = scanNodePaths(df)
    assert(paths.exists(_.contains("lsh-buckets")),
      s"corpus buckets not served from the stored index: $paths")
    // raw embedding scans, enumerated: the batch-hash scan (the one
    // O(batch) arrival cost), the query-bit projection, the query- and
    // corpus-vector fetches of the scoring join, and 2× the fixed
    // query-id TakeOrdered (referenced by both query-side joins) — the
    // corpus HASH scan must not reappear on top of these six
    val embScans = paths.count(p =>
      p.contains("/testdata/") && p.contains("embeddings.parquet"))
    assert(embScans == 6,
      s"raw embedding scans drifted from the six enumerated fetches ($embScans): $paths")
  }

  test("PQ/IVFPQ rerank fetch reads the stored int8 table, not the raw vectors") {
    // at 100 TB the top-R exact-rerank fetch should read the 8×-smaller
    // quantized table; the raw f64 vectors are touched only on the
    // query side (a fixed-count workload)
    for (q <- Seq(ext.Extensions.topkPq, ext.Extensions.topkIvfpq)) {
      val paths = scanNodePaths(q.fn(spark, sf0001))
      assert(paths.exists(_.contains("int8-vecs")),
        s"${q.name}: rerank not served from the stored int8 fixture: $paths")
    }
  }

  test("ivfpq ADC scan is a cell EQUI-join over the stored combined index, never a cross join") {
    // the entire point of IVFPQ over IndexPQ: the ADC scan touches only
    // the probed cells' codes. A CartesianProduct / nested-loop here
    // would silently restore the full-code scan pqTopK pays.
    val df = ext.Extensions.topkIvfpq.fn(spark, sf0001)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"ADC must stay a cell equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"routed queries should broadcast into the code scan:\n$plan")
    // the codes must come from the stored combined index, not a live
    // re-encode: the only raw-embedding scans are the query-side fetch
    // (qids + subspace projection) and the top-R exact-rerank fetch
    val scanPaths = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(scanPaths.exists(_.contains("ivfpq-codes")),
      s"ADC side not served from the stored ivfpq-codes index: $scanPaths")
    // routing must also cut bytes READ, not just ADC rows: the stored
    // index is hive-partitioned by cell and the probed-cell set is a
    // literal predicate, so the scan must show partition pruning —
    // without it every search reads the whole code table's files
    val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
      .findFirstIn(plan).isDefined
    assert(pruned,
      s"ivfpq-codes scan has no probed-cell PartitionFilters — routing is not pruning files:\n$plan")
  }

  test("filtered ivfpq: stored attributed index, label PushedFilter beside probed-cell PartitionFilters") {
    // the filtered form's whole contract: the label lives IN the
    // stored index rows, so the constraint cuts candidates AT THE
    // SCAN — a data-column PushedFilter next to the partition pruning
    // — and then joins exactly (cell AND label), never a cross join
    // with a post-predicate
    val df = ext.Extensions.topkIvfpqFiltered.fn(spark, sf0001)
    try {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"filtered ADC must stay a (cell, label) equi-join:\n$plan")
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("ivfpq-codes-attr")),
        s"not served from the stored attributed index: $paths")
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"attributed-index scan has no probed-cell PartitionFilters:\n$plan")
      // the query batch's label set must reach the code scan as a
      // pushed data-column predicate
      val labelPushed = "(?s)PushedFilters: \\[[^\\]]*(?i:in)\\(label[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(labelPushed,
        s"label constraint not pushed to the attributed-index scan:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("ivfpqr ADC scan: stored ivfpqr-codes serve, cell equi-join, probed-cell PartitionFilters") {
    // the residual variant shares adcCellSearch, so the same three
    // guarantees must hold over its own stored combined index
    val df = ext.Extensions.topkIvfpqr.fn(spark, sf0001)
    try {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"ADC must stay a cell equi-join:\n$plan")
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("ivfpqr-codes")),
        s"ADC side not served from the stored ivfpqr-codes index: $paths")
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"ivfpqr-codes scan has no probed-cell PartitionFilters:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("imipq ADC scan: stored imipq-codes serve, cell equi-join, probed-cell PartitionFilters") {
    // E42 shares adcCellSearch with ivfpq, so the same three guarantees
    // must hold with the product-cell index: no cross join, codes from
    // the stored combined table, files pruned to the probed cells
    val df = ext.Extensions.topkImipq.fn(spark, sf0001)
    try {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"ADC must stay a cell equi-join:\n$plan")
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("imipq-codes")),
        s"ADC side not served from the stored imipq-codes index: $paths")
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"imipq-codes scan has no probed-cell PartitionFilters:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("IVF-family routing is the model-table join — no nCells-proportional literal") {
    // round-10 contract: the query-side routing must survive nCells
    // growing ~4√N with the corpus, so the plan may NOT embed an
    // nCells-sized literal array (the pre-round-10 probe-struct form —
    // a janino/plan-size wall at production cell counts). Round 15:
    // within the driver-routing bound the routed query batch enters
    // the search plan as a LocalRelation broadcast (no routing subtree
    // AT ALL — plan trivially constant in nCells); ABOVE the bound the
    // distributed model-table join must still hold the round-10 facts,
    // forced here via the test seam.
    val emb = model.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qids = ext.Extensions.annQueryIds(emb)
    val src = Some(s"$sf0001/embeddings.parquet")
    // within the bound: routing ran on the driver; the plan's query
    // side is a LocalTableScan and carries no explode/centroid join
    val pLocal = physical(ext.Extensions.ivfTopK(emb, qids, nCells = 16,
      centroidSrc = src))
    assert(pLocal.contains("LocalTableScan") &&
      !pLocal.contains("Generate explode("),
      s"driver-routed query side should be a LocalRelation:\n$pLocal")
    val pLocal32 = physical(ext.Extensions.ivfTopK(emb, qids, nCells = 32,
      centroidSrc = src))
    assert(pLocal32.length <= pLocal.length * 1.3 + 2048,
      s"driver-routed search plan grows with nCells " +
        s"(${pLocal.length} -> ${pLocal32.length} chars)")
    // past the bound (seam-forced): the sequence(0, nCells-1) fan-out
    // constant-folds to ONE compact int-array literal (nCells ints —
    // not nCells×dim doubles), so the plan shows Generate
    // explode(<folded array>) joined to the broadcast centroid frame
    ext.Extensions.driverRouteBound = 0
    try {
      val p16 = physical(ext.Extensions.ivfTopK(emb, qids, nCells = 16,
        centroidSrc = src))
      assert(p16.contains("Generate explode(") &&
        "BroadcastHashJoin \\[cell".r.findFirstIn(p16).isDefined,
        s"routing fan-out/centroid join missing:\n$p16")
      val p32 = physical(ext.Extensions.ivfTopK(emb, qids, nCells = 32,
        centroidSrc = src))
      assert(p32.length <= p16.length * 1.3 + 2048,
        s"search plan grows with nCells (${p16.length} -> ${p32.length} chars): " +
          "an nCells-proportional literal crept back into routing")
    } finally ext.Extensions.driverRouteBound =
      ext.Extensions.DriverRouteMaxQueries
  }

  test("imi search: stored product-cell serve, per-half routing joins, plan constant in K") {
    // E41's whole point is that cells = K² while per-vector work stays
    // 2K, so the plan may not regress to anything K²- (or even K-)
    // proportional: both per-half routings must be the model-table
    // join form, the corpus side must come from the stored imi-cells
    // fixture, and doubling K per half (4× the product cells) may not
    // grow the search plan materially
    val df = ext.Extensions.topkImi.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("imi-cells")),
        s"candidate scan not served from the stored imi-cells table: $paths")
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"imi candidate fetch must stay a cell equi-join:\n$plan")
      // round 15: within the driver-routing bound BOTH per-half
      // routings + the probeA² product expansion run on the driver —
      // the plan carries the routed LocalRelation, no fan-outs
      assert(plan.contains("LocalTableScan") &&
        !plan.contains("Generate explode("),
        s"driver-routed imi query side should be a LocalRelation:\n$plan")
      val emb = model.Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qids = ext.Extensions.annQueryIds(emb)
      val src = Some(s"$sf0001/embeddings.parquet")
      val p8 = physical(ext.Extensions.imiTopK(emb, qids, kPerHalf = 8,
        src = src))
      val p16 = physical(ext.Extensions.imiTopK(emb, qids, kPerHalf = 16,
        src = src))
      assert(p16.length <= p8.length * 1.3 + 2048,
        s"imi search plan grows with K (${p8.length} -> ${p16.length} chars)")
      // past the bound (seam-forced): the two per-half model-table
      // routing fan-outs must still be the plan's form, constant in K
      ext.Extensions.driverRouteBound = 0
      try {
        val pDist = physical(ext.Extensions.imiTopK(emb, qids, kPerHalf = 8,
          src = src))
        assert("Generate explode\\(".r.findAllIn(pDist).size >= 2,
          s"expected two per-half routing fan-outs:\n$pDist")
        val pDist16 = physical(ext.Extensions.imiTopK(emb, qids,
          kPerHalf = 16, src = src))
        assert(pDist16.length <= pDist.length * 1.3 + 2048,
          s"imi fallback plan grows with K " +
            s"(${pDist.length} -> ${pDist16.length} chars)")
      } finally ext.Extensions.driverRouteBound =
        ext.Extensions.DriverRouteMaxQueries
    } finally ext.Extensions.releaseCaches()
  }

  test("incremental ivfpq index: corpus served from the stored combined table; one batch encode") {
    // the arrival contract for the combined index: ZERO raw embedding
    // scans in the SERVE plan since round 15 — the two fixed
    // query-side fetches (raw-vector fetch + query-id TakeOrdered) run
    // inside the bounded driver-routing collect at build time, and the
    // batch encode (the third enumerated fetch before round 14) enters
    // the union as a truncated checkpointed branch (its O(batch) scan
    // runs, but below the plan — the corpus-never-re-encoded fact is
    // held by ExtensionsSpec's merged==monolithic equality plus the
    // listener-based row-volume gate below, which a corpus-sized
    // re-encode could not fake cheaply); the standing corpus's codes
    // come from the stored cell-partitioned fixture, and the
    // probed-cell predicate must still prune its files THROUGH the
    // union with the batch rows
    val df = ext.Extensions.ivfpqIncremental.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("ivfpq-codes")),
        s"standing corpus not served from the stored combined index: $paths")
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 0,
        s"raw embedding scans in the serve plan — the query side is driver-" +
          s"routed and the batch encode is checkpointed ($embScans): $paths")
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"merged ADC must stay a cell equi-join:\n$plan")
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"probed-cell PartitionFilters lost through the union:\n$plan")
      // LISTENER-BASED VOLUME GATE (round-14 ADVICE): with the batch
      // encode below the plan (checkpointed RDD) and the query side
      // driver-routed, the plan can no longer SHOW a corpus-sized
      // re-encode creeping into the truncated branch — so check the
      // read volume itself. Sum recordsRead over every stage of the
      // serve's materialization: the legit reads are the stored code
      // rows (probed-cell-pruned), the int8 rerank rows, and the
      // O(batch) raw rows the checkpoint materializes (~10% split).
      // A corpus-sized re-encode (e.g. encode emb then filter to the
      // batch) adds ≥ corpus raw-row reads and breaks the bound; the
      // bound is corpus-derived, not a magic constant.
      val corpusN = model.Tables.embeddings(spark, sf0001).count()
      val read = new java.util.concurrent.atomic.AtomicLong
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          read.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(lst)
      try {
        df.write.format("noop").mode("overwrite").save()
        org.apache.spark.graft.ListenerBusAccess.drain(spark.sparkContext)
        info(s"incremental ivfpq serve recordsRead=${read.get} corpus=$corpusN")
        // measured legit ≈ 2.9×corpus (raw batch scan + pruned codes +
        // int8 rerank); a corpus re-encode adds ≥ 1×corpus more, so
        // 3.5× separates the two with margin on both sides
        assert(read.get < corpusN * 3.5,
          s"serve read ${read.get} records for a $corpusN-vector corpus — " +
            "a corpus-sized re-encode crept below the plan")
      } finally spark.sparkContext.removeSparkListener(lst)
    } finally ext.Extensions.releaseCaches()
  }

  test("compacted ivfpq index: single pruned scan, no union, no batch encode in the search") {
    // compaction's settled debts, as plan facts: the search reads ONE
    // stored table (ivfpq-codes-compact — not the base, not a union
    // with batch rows), raw embedding scans drop to ZERO (the two
    // query-side fetches run inside the round-15 driver-routing
    // collect at build time; the per-search batch encode is gone —
    // paid once at compaction), probed-cell PartitionFilters prune the
    // compacted layout, and the re-capped ADC stays a cell equi-join
    val df = ext.Extensions.ivfpqCompact.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("ivfpq-codes-compact")),
        s"search not served from the compacted table: $paths")
      assert(!paths.exists(p => p.contains("ivfpq-codes/") ||
          p.contains("ivfpq-codes\\")),
        s"uncompacted base table still in the search plan: $paths")
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 0,
        s"raw embedding scans in the serve plan ($embScans): $paths")
      val plan = physical(df)
      assert(!plan.contains("Union"),
        s"compacted search must not union batch rows:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"compacted ADC must stay a cell equi-join:\n$plan")
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"probed-cell PartitionFilters lost on the compacted layout:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("compacted imipq index: single pruned scan, no union, no batch encode in the search") {
    // E45's settled debts on the product layout: one stored compacted
    // table, no base∪batch union, the per-search batch encode gone and
    // the query-side fetches inside the round-15 driver-routing
    // collect (raw embedding scans drop to zero),
    // probed-cell PartitionFilters on the fresh layout
    val df = ext.Extensions.imipqCompact.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("imipq-codes-compact")),
        s"search not served from the compacted table: $paths")
      assert(!paths.exists(p => p.contains("imipq-codes/") ||
          p.contains("imipq-codes\\")),
        s"uncompacted base table still in the search plan: $paths")
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 0,
        s"raw embedding scans in the serve plan ($embScans): $paths")
      val plan = physical(df)
      assert(!plan.contains("Union"),
        s"compacted search must not union batch rows:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"compacted ADC must stay a cell equi-join:\n$plan")
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"probed-cell PartitionFilters lost on the compacted layout:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("compacted lexical index: zero raw documents scans, single stored table, no union") {
    // the lexical debts, settled as plan facts: post-compaction BM25
    // reads ONE stored postings table — not the corpus-split base, not
    // a union with batch rows — and the per-search batch tokenize is
    // gone entirely (the incremental plan pays one raw documents scan;
    // this plan pays ZERO)
    val df = ext.Extensions.bm25Compact.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("bm25-postings-compact")),
        s"search not served from the compacted postings: $paths")
      assert(!paths.exists(p => p.contains("bm25-postings/") ||
          p.contains("bm25-postings\\")),
        s"uncompacted base postings still in the search plan: $paths")
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 0,
        s"post-compaction BM25 must not touch raw documents, got $docScans in $paths")
      assert(!physical(df).contains("Union"),
        s"compacted search must not union batch postings:\n${physical(df)}")
    } finally ext.Extensions.releaseCaches()
  }

  test("compacted LSH index: pre-capped single scan, no batch hash, no re-cap window") {
    // the LSH debts, settled: the search reads ONE pre-capped stored
    // bucket table (no base∪batch union), the batch hash scan is gone
    // (incremental's six raw embedding scans drop to five), and the
    // per-search re-cap window over c_bucket — the work compaction
    // exists to pay once — is absent from the search plan
    val df = ext.Extensions.lshCompact.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("lsh-buckets-compact")),
        s"search not served from the compacted buckets: $paths")
      assert(!paths.exists(p => p.contains("lsh-buckets/") ||
          p.contains("lsh-buckets\\")),
        s"uncompacted base buckets still in the search plan: $paths")
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 5,
        s"raw embedding scans drifted from the five query-side fetches ($embScans): $paths")
      val plan = physical(df)
      assert(!plan.contains("Union"),
        s"compacted search must not union batch rows:\n$plan")
      assert(!plan.contains("windowspecdefinition(c_bucket"),
        s"per-search re-cap window crept back into the compacted search:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("incremental imipq index: corpus served from the stored combined table; one batch encode") {
    // the arrival contract with the product coarse quantizer: same
    // raw-scan budget as the ivfpq twin (ZERO since round 15 — the
    // query side is driver-routed at build time and the batch encode
    // is a truncated checkpointed branch since round 14 — see the
    // ivfpq test's note), corpus codes from the stored
    // imipq-codes, probed-cell pruning surviving the union
    val df = ext.Extensions.imipqIncremental.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("imipq-codes")),
        s"standing corpus not served from the stored combined index: $paths")
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 0,
        s"raw embedding scans in the serve plan ($embScans): $paths")
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"merged ADC must stay a cell equi-join:\n$plan")
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"probed-cell PartitionFilters lost through the union:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("residual index lifecycle plans: arrival = one batch encode; compaction = single pruned scan") {
    // the arrival contract for the residual geometry (same raw-scan
    // budget as the ivfpq/imipq twins: ZERO since round 15 — query
    // side driver-routed at build time, batch encode a truncated
    // checkpointed branch since round 14 — see the ivfpq test's
    // note), then the compacted search with the settled debts
    val inc = ext.Extensions.ivfpqrIncremental.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(inc)
      assert(paths.exists(_.contains("ivfpqr-codes")),
        s"standing corpus not served from the stored residual index: $paths")
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 0,
        s"raw embedding scans in the serve plan ($embScans): $paths")
      val plan = physical(inc)
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"probed-cell PartitionFilters lost through the union:\n$plan")
    } finally ext.Extensions.releaseCaches()
    val comp = ext.Extensions.ivfpqrCompact.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(comp)
      assert(paths.exists(_.contains("ivfpqr-codes-compact")),
        s"search not served from the compacted table: $paths")
      assert(!paths.exists(p => p.contains("ivfpqr-codes/") ||
          p.contains("ivfpqr-codes\\")),
        s"uncompacted base table still in the search plan: $paths")
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 0,
        s"raw embedding scans in the serve plan ($embScans): $paths")
      val plan = physical(comp)
      assert(!plan.contains("Union"),
        s"compacted search must not union batch rows:\n$plan")
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*cell[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"probed-cell PartitionFilters lost on the compacted layout:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("incremental maintenance reads the stored train stat — no corpus-sized encode scan") {
    // the train-time distortion is a constant of the frozen (data,
    // model) pair: the registered plan must read it from the persisted
    // 1-row stat, and scan the raw embeddings exactly ONCE (the batch
    // filter). A second testdata scan means the O(corpus) re-encode the
    // maintenance contract forbids has crept back in.
    for ((q, statFamily) <- Seq(
        ext.Extensions.pqIncremental -> "pq-train-stat",
        ext.Extensions.ivfIncremental -> "ivf-train-stat")) {
      val df = q.fn(spark, sf0001) // builds the stat fixture if missing
      val scanPaths = df.queryExecution.optimizedPlan.collectWithSubqueries {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      val corpusScans = scanPaths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(corpusScans == 1,
        s"${q.name}: want exactly 1 raw-embedding scan (the batch), got $corpusScans in $scanPaths")
      assert(scanPaths.exists(_.contains(statFamily)),
        s"${q.name}: train stat not served from the stored $statFamily fixture: $scanPaths")
    }
  }

  test("shard writer: assignment and manifest are each ONE documents pass; scan prunes to the used columns") {
    // the E64 contract: sharding 100 TB must read it once. The
    // assignment query is scan → project → rank window → order; the
    // manifest is scan → project → one aggregation. Neither may scan
    // documents twice or drag unused columns through the exchange.
    for ((df, used) <- Seq(
        (ext.Extensions.shardAssign.fn(spark, sf0001), Seq("doc_id", "text")),
        (ext.Extensions.shardManifest.fn(spark, sf0001),
          Seq("text", "n_chars")))) {
      val paths = scanNodePaths(df)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1, s"must be one documents pass, got $paths")
      // column pruning reached the scan: ReadSchema carries only the
      // columns the operator uses
      val scan = physical(df).linesIterator
        .filter(_.contains("ReadSchema")).mkString
      assert(used.forall(scan.contains) && !scan.contains("lang"),
        s"scan must prune to $used: $scan")
    }
  }

  test("fixture filters fold into scans, not post-filters (optimizer visibility)") {
    // Fixtures.patients is a projection over customer: the optimized plan
    // must be Project→Relation with no intermediate barriers
    val p = model.Fixtures.patients(spark, sf0001)
    val opt = optimized(p.select(col("c_custkey"), col("patient_id")))
    assert(opt.linesIterator.size <= 3, s"projection should collapse:\n$opt")
  }

  test("bm25 purge: stored postings anti-joined, corpus never re-tokenized") {
    // deletion is O(purged ⊕ index): ONE raw documents scan (the
    // purge-list derivation — in deployment, the takedown request
    // itself), the postings from the stored index, removal as an anti
    // join
    val df = ext.Extensions.bm25Purge.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1,
        s"want exactly 1 raw documents scan (the purge list), got $docScans in $paths")
      assert(paths.exists(_.contains("bm25-postings")),
        s"purge not applied to the stored postings index: $paths")
      assert(physical(df).contains("LeftAnti"),
        "purge must plan as an anti join on the index")
    } finally ext.Extensions.releaseCaches()
  }

  test("shard purge: receipt from the stored manifest + partition-pruned shard index") {
    // the purge receipt reads the ≤N-row stored manifest, the AFFECTED
    // shards' index partitions (pruned by the purge rows' own content
    // hashes), and ONE raw documents scan (the purge-list derivation);
    // the corpus text is never re-hashed
    val df = ext.Extensions.shardPurge.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1,
        s"want exactly 1 raw documents scan (the purge list), got $docScans in $paths")
      assert(paths.exists(_.contains("shard-manifest-all")),
        s"untouched shards not passed through from the stored receipt: $paths")
      assert(paths.exists(_.contains("shard-index")),
        s"affected shards not recomputed from the stored shard index: $paths")
      val plan = physical(df)
      val pruned = "(?s)PartitionFilters: \\[[^\\]]*shard[^\\]]*(?i:in)[^\\]]*\\]".r
        .findFirstIn(plan).isDefined
      assert(pruned,
        s"shard-index scan has no affected-shard PartitionFilters:\n$plan")
    } finally ext.Extensions.releaseCaches()
  }

  test("substr purge: stored gram index folded, corpus never re-tokenized") {
    // counts subtract from the purge rows' OWN gram pass: ONE raw
    // documents scan (the takedown rows), the index from the stored
    // full-corpus fixture, the fold the refresh's purge half (a left
    // join on AQE's join choice)
    val df = ext.Extensions.substrPurge.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1,
        s"want exactly 1 raw documents scan (the purge rows), got $docScans in $paths")
      assert(paths.exists(_.contains("substr-grams")),
        s"purge not applied to the stored gram index: $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("hard negatives (indexed): stored attributed codes served, label vocab from the index, no corpus label scan") {
    val df = ext.Extensions.hardNegativesIvfpq.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("ivfpq-codes-attr")),
        s"not served from the stored attributed index: $paths")
      // round 15: within the driver-routing bound the ≤nLabels-row
      // vocabulary is read from its stored fixture at BUILD time (one
      // model-sized collect feeding the driver-side label expansion),
      // so neither the vocab fixture nor any raw embedding scan may
      // appear in the SERVE plan — the vocab-from-fixture fact is
      // held by the seam-forced fallback assertion below
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 0,
        s"raw embedding scans in the serve plan ($embScans): $paths")
      assert(!paths.exists(p =>
          p.contains("/testdata/") && p.contains("documents.parquet")),
        s"corpus label scan crept into the serve plan: $paths")
      // seam-forced fallback: the distributed form must still serve
      // the vocabulary from its stored fixture, never a corpus scan
      ext.Extensions.driverRouteBound = 0
      try {
        val dfd = ext.Extensions.hardNegativesIvfpq.fn(spark, sf0001)
        val pd = scanNodePaths(dfd)
        assert(pd.exists(_.contains("ivfpq-attr-labels")),
          s"fallback label vocabulary not served from its stored fixture: $pd")
      } finally ext.Extensions.driverRouteBound =
        ext.Extensions.DriverRouteMaxQueries
    } finally ext.Extensions.releaseCaches()
  }

  test("clusters purge: untouched labels served from the stored cc-cache") {
    // the corpus-label side must be the stored cc-cache and the
    // survivor pairs must come from the stored signature index; the
    // only raw documents scan allowed anywhere (the re-cluster side's
    // node lineage keeps it visible) is the purge-LIST derivation —
    // doc_id-pruned, the takedown request itself in deployment
    val df = ext.Extensions.clustersPurge.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("cc-cache")),
        s"untouched labels not served from the stored cc-cache: $paths")
      assert(paths.exists(_.contains("mh-sigs")),
        s"survivor pairs not derived from the stored signature index: $paths")
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans <= 1,
        s"corpus re-shingle crept into the purge-fold plan: $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("ivfpq purge: stored codes anti-joined; raw vectors only on the query + purge sides") {
    val df = ext.Extensions.ivfpqPurge.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("ivfpq-codes")),
        s"purge not applied to the stored combined index: $paths")
      // raw embedding scans, enumerated: the purge-list projection
      // only — the query-id TakeOrdered and query-vector/LUT fetch run
      // inside the round-15 driver-routing collect at build time, and
      // the corpus encode must NOT reappear
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 1,
        s"raw embedding scans drifted from the one enumerated fetch ($embScans): $paths")
      assert(physical(df).contains("LeftAnti"),
        "purge must plan as an anti join on the stored codes")
    } finally ext.Extensions.releaseCaches()
  }

  test("crawl refresh: stored snapshot index served; raw scans = the diff's two hash sides + one delta tokenize") {
    // the refresh must never re-tokenize the standing corpus: the
    // snapshot-A postings come from the stored fixture, and the only
    // raw documents scans are the diff's two hash projections
    // (inherent to content diffing) plus ONE delta tokenize pass —
    // the cached statuses frame keeps the diff from re-expanding
    // under its two consumers
    val df = ext.Extensions.crawlRefresh.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("bm25-postings-snapa")),
        s"snapshot-A postings not served from the stored index: $paths")
      // diff side A reads the stored snapa-hashes metadata fixture
      // since round 14 (yesterday's content hashes are crawl
      // metadata), so raw documents scans = the diff's B hash side +
      // one delta tokenize
      assert(paths.exists(_.contains("snapa-hashes")),
        s"diff A side not served from the stored hash metadata: $paths")
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 2,
        s"want 2 raw documents scans (diff b, delta tokenize), " +
          s"got $docScans in $paths")
      assert(physical(df).contains("LeftAnti"),
        "the purge half must plan as an anti join on the stored postings")
    } finally ext.Extensions.releaseCaches()
  }

  test("decontam rewrite: two raw scans (train tokenize, test grams); coverage window partitioned by doc") {
    val df = ext.Extensions.decontamRewrite.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 2,
        s"want 2 raw documents scans (cached train side, test gram set), " +
          s"got $docScans in $paths")
      // the span fold's running-sum window must be per-doc, never a
      // global single-partition window (collected from the optimized
      // plan — the runtime "No Partition Defined" warning never
      // appears in plan text, so a string match would be vacuous)
      val unpart = df.queryExecution.optimizedPlan.collectWithSubqueries {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      assert(unpart.isEmpty,
        "coverage window lost its doc_id partitioning — single-partition " +
          "bottleneck at scale")
    } finally ext.Extensions.releaseCaches()
  }

  test("lsh purge: stored bucket table anti-joined; no corpus re-hash") {
    val df = ext.Extensions.lshPurge.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("lsh-buckets")),
        s"purge not applied to the stored bucket table: $paths")
      assert(physical(df).contains("LeftAnti"),
        "purge must plan as an anti join on the stored buckets")
      // raw embedding scans, enumerated: the query-id TakeOrdered
      // (twice — the uncached qids frame feeds the sign-bit AND
      // query-vector joins, each replaying its lineage), the query
      // sign-bit fetch, the query-vector fetch, the corpus scoring
      // fetch, and the purge-list projection — the corpus RE-HASH
      // (bucket rebuild) must not reappear, which the fixture assert
      // above pins
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 6,
        s"raw embedding scans drifted from the six enumerated fetches ($embScans): $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("imipq purge: stored product-cell codes anti-joined; raw vectors only on the query + purge sides") {
    val df = ext.Extensions.imipqPurge.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("imipq-codes")),
        s"purge not applied to the stored combined index: $paths")
      assert(physical(df).contains("LeftAnti"),
        "purge must plan as an anti join on the stored codes")
      // enumerated: the purge-list projection only (query side
      // driver-routed since round 15; rerank reads the stored int8
      // table)
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 1,
        s"raw embedding scans drifted from the one enumerated fetch ($embScans): $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("ivfpqr purge: stored residual codes anti-joined; raw vectors only on the query + purge sides") {
    val df = ext.Extensions.ivfpqrPurge.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("ivfpqr-codes")),
        s"purge not applied to the stored residual index: $paths")
      assert(physical(df).contains("LeftAnti"),
        "purge must plan as an anti join on the stored codes")
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      assert(embScans == 1,
        s"raw embedding scans drifted from the one enumerated fetch ($embScans): $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("substr refresh: stored snapshot gram index served; raw scans = diff hashes + two delta gram passes; fold window-free") {
    val df = ext.Extensions.substrRefresh.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(p => p.contains("substr-grams") && p.contains("snapa")),
        s"snapshot-A grams not served from the stored index: $paths")
      // the standing corpus is never re-tokenized: raw documents scans
      // are the diff's B hash projection (the A side reads the stored
      // snapa-hashes metadata since round 14) plus the stale-doc and
      // fresh-doc gram passes — both delta-sized
      assert(paths.exists(_.contains("snapa-hashes")),
        s"diff A side not served from the stored hash metadata: $paths")
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 3,
        s"want 3 raw documents scans (diff b, stale grams, " +
          s"fresh grams), got $docScans in $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("ivfpq refresh: stored snapshot code table anti-joined; delta encode is the only corpus-side encode") {
    val df = ext.Extensions.ivfpqRefresh.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("ivfpq-codes")),
        s"snapshot-A codes not served from the stored index: $paths")
      assert(physical(df).contains("LeftAnti"),
        "the purge half must plan as an anti join on the stored codes")
      // enumerated raw embedding scans: the vector diff's two hash
      // sides (the cached statuses frame's lineage, replayed under the
      // fresh-delta join AND the stale anti-join hint side), the
      // query-id TakeOrdered, the query-vector/LUT fetch, the
      // fresh-delta encode, and the live rerank fetch (src=None by
      // design — the int8 fixture holds pre-revision content)
      val embScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("embeddings.parquet"))
      // UPPER bound, not an exact pin: the shared vector diff is
      // memoized per session (cachedVecSnapshotStatuses), so whether
      // its hash-side lineage appears as raw scans or as one cached
      // subplan depends on which test warmed the memo first — a ±1
      // that reflects session state, not plan drift. The gate's job
      // is the ceiling: a corpus-side re-encode would blow well past
      // the enumerated fetches.
      assert(embScans <= 7,
        s"raw embedding scans exceed the seven enumerated fetches ($embScans): $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("imipq/ivfpqr/lsh refresh: stored snapshot index anti-joined; delta encode is the only corpus-side encode") {
    // the round-14 E76d verbs share ext_ivfpq_refresh's contract: the
    // standing corpus's index rows come from the stored snapshot-A
    // fixture (never re-encoded), the purge half plans as an anti
    // join, and raw embedding scans stay within the enumerated budget
    // (diff hash sides, query fetches, the one delta encode, live
    // rerank where the family reranks)
    // enumerated raw-embedding-scan budgets (the ivfpq refresh test's
    // seven-fetch discipline, per family): the vector diff's two hash
    // sides (replayed under the fresh join AND the stale anti hint),
    // the query-id TakeOrdered, the query fetch, the one delta
    // encode/hash, plus — where the family reranks — the live rerank
    // fetch (6-7 for imipq/ivfpqr, the ±1 being the shared vec-diff
    // memo's warmth — see the ivfpq refresh test's ceiling note);
    // LSH adds the corpus scoring fetch and the query-side multiprobe
    // bit pass instead of ADC (9-10)
    for ((q, fixture, maxScans) <- Seq(
        (ext.Extensions.imipqRefresh, "imipq-codes", 7),
        (ext.Extensions.ivfpqrRefresh, "ivfpqr-codes", 8),
        (ext.Extensions.lshRefresh, "lsh-buckets", 10))) {
      val df = q.fn(spark, sf0001)
      try {
        val paths = scanNodePaths(df)
        assert(paths.exists(_.contains(fixture)),
          s"${q.name}: snapshot-A index not served from the stored $fixture: $paths")
        assert(physical(df).contains("LeftAnti"),
          s"${q.name}: the purge half must plan as an anti join on the stored index")
        val embScans = paths.count(p =>
          p.contains("/testdata/") && p.contains("embeddings.parquet"))
        assert(embScans <= maxScans,
          s"${q.name}: raw embedding scans exceed the enumerated " +
            s"fetch ceiling ($embScans > $maxScans): $paths")
      } finally ext.Extensions.releaseCaches()
    }
  }

  test("shard refresh: receipt served from the stored snapshot-A fixtures; raw scans = diff hashes + one delta projection") {
    val df = ext.Extensions.shardRefresh.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("shard-index-a")),
        s"affected-shard recompute not served from the stored index: $paths")
      // the manifest pass-through only appears when some shard is
      // untouched; at ShardCount=8 the diff touches all shards, so the
      // stored-manifest scan may be pruned — assert the index serve
      // and the raw-scan budget instead (diff's two hash sides + the
      // delta receipt projection, each replayed under at most the
      // hint/anti sides)
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans <= 5,
        s"raw documents scans exceed the refresh budget ($docScans): $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("clusters/semantic refresh: labels served from the stored cc-cache; raw scans = diff hashes + one delta pass") {
    // the CC re-runs (purge half + arrival merge) execute eagerly at
    // build time over the stored signature/bucket fixtures, so the
    // SERVED label plan is the snapshot-A cc-cache fixture unioned
    // with the merge output, whose only raw-table lineage is the
    // merge's fresh-node side: the (cached) diff's two hash
    // projections plus ONE delta signature/vector pass — the crawl
    // refresh budget (test above). The standing corpus must never
    // appear as a raw scan: its text/vectors re-entering here would
    // mean the serve path re-shingles/re-blocks the corpus per read.
    // budgets: 3 each (diff a, diff b, delta shingle/bucket pass) —
    // survivor re-pairs come from the stored snapshot-A PAIR fixture
    // (mh-pairs / sem-pairs), so neither the corpus text nor the
    // corpus vectors re-enter the fold at all; the semantic confirm's
    // vector fetch reads only rows the (cached) candidate frame names
    val cases = Seq(
      ("clusters", ext.Extensions.clustersRefresh.fn(spark, sf0001),
        "documents.parquet", 3),
      ("semantic", ext.Extensions.semanticRefresh.fn(spark, sf0001),
        "embeddings.parquet", 3))
    try cases.foreach { case (fam, df, raw, budget) =>
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("cc-cache")),
        s"$fam: untouched labels not served from the stored cc-cache: $paths")
      val rawScans = paths.count(p => p.contains("/testdata/") && p.contains(raw))
      assert(rawScans <= budget,
        s"$fam: raw $raw scans exceed the refresh budget " +
          s"($budget — got $rawScans): $paths")
    } finally ext.Extensions.releaseCaches()
  }

  test("warm centrality: seeds persist as stored score fixtures") {
    // the iteration localCheckpoints every step, so the seed scan is
    // truncated out of the output's lineage — the artifact contract is
    // asserted on the filesystem instead: after one warm run, both
    // seed fixtures exist as published (non-tmp) parquet dirs, so a
    // second cadence reads yesterday's scores instead of re-running
    // the cold bootstrap (the behavioral warm==cold + iteration gates
    // live in GraphConvergenceSpec)
    try {
      ext.Extensions.pagerankWarm.fn(spark, sf0001)
      ext.Extensions.hitsWarm.fn(spark, sf0001)
      for (fam <- Seq("pagerank-seed", "hits-seed")) {
        val dir = new java.io.File(s"target/$fam")
        val published = Option(dir.listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && !f.getName.startsWith(".tmp"))
        assert(published.nonEmpty,
          s"no published $fam fixture under target/$fam — the warm form " +
            "would re-pay the cold bootstrap every cadence")
      }
    } finally ext.Extensions.releaseCaches()
  }

  test("leak-proof split: labels served from the stored cc-cache; one raw documents scan") {
    // the serve path must not re-cluster: component labels come from
    // the stored cc-cache fixture, and the only raw documents scan is
    // the column-pruned rep-bucket projection
    val df = ext.Extensions.splitLeakproof.fn(spark, sf0001)
    try {
      val paths = scanNodePaths(df)
      assert(paths.exists(_.contains("cc-cache")),
        s"labels not served from the stored cc-cache: $paths")
      val docScans = paths.count(p =>
        p.contains("/testdata/") && p.contains("documents.parquet"))
      assert(docScans == 1,
        s"want 1 raw documents scan (the rep-bucket projection), " +
          s"got $docScans in $paths")
    } finally ext.Extensions.releaseCaches()
  }
}
