package graft

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Dev.timed

/** Dev tool: scale probes — each one synthesizes an input at a volume
  * the sf testdata never reaches and measures one scale claim of the
  * library (candidate volume, linearity, O(delta) maintenance, skew,
  * recall at an operating point), asserting the claim's invariants.
  * Usage: `runMain graft.ScaleProbe <probe> [args]`; [[usage]] lists
  * every probe of the [[probes]] table. Each runs on one
  * `local[SPARK_GRAFT_CPUS]` session (default 32) with as many shuffle
  * partitions, WARN logging, plus the probe's own confs.
  *
  * The default probe (no mode name) demonstrates the hot-bucket cap at
  * a duplicate-heavy scale: `nFamilies` templates × `copies`
  * near-identical documents (each copy differs by one token — the
  * boilerplate/web-template shape), run through the CAPPED minhash
  * pipeline end-to-end, reporting candidate counts vs the uncapped m²
  * theory, plus connected-components timing and family recovery.
  *
  * The `skew` mode measures the connected-components loop on a planted
  * MEGA-COMPONENT (one hub star of `spokes` edges + a background of
  * 1000 chain components): the hub key is maximally hot in the `sym`
  * self-join and in the neighbor-min aggregation, which is exactly the
  * skew shape a boilerplate near-dup family produces at 100 TB. It
  * reports wall time plus per-task duration max/median so the claim
  * "map-side partial aggregation + AQE bound the hot key" is a
  * measurement, not an assertion (numbers recorded in DESIGN.md).
  */
object ScaleProbe {

  /** One probe: its mode name, its usage line (what follows
    * `runMain graft.ScaleProbe`), its body and the session confs it
    * adds. */
  final case class Probe(name: String, usage: String,
      body: (SparkSession, Array[String]) => Unit,
      confs: Seq[(String, String)] = Nil)

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Defaults in Spark 4, pinned so the skew probes measure the posture
    * the library documents (AQE skew-join + coalescing active). */
  private val Aqe = Seq("spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true")

  /** Split packing tuned to the probes' stored tables: a code table
    * here is ~20 MB in 10-30 files, and the DEFAULT openCostInBytes
    * (4 MB) packs it into 1-2 read splits — the scan stage then runs on
    * 1-2 of 32 cores, which is a local small-file artifact, not the
    * 100 TB posture (there a code table is thousands of ≥128 MB splits
    * across executors). 4 MB splits / 256 KB open cost restore scan
    * parallelism so the probes measure their contract, not file
    * packing. */
  private val SmallSplits = Seq("spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.files.openCostInBytes" -> "262144")

  // ---------------------------------------------------------------------
  // Shared inputs
  // ---------------------------------------------------------------------

  /** The probe's size argument (`args(1)`), else `default`. */
  private def size(args: Array[String], default: Long): Long =
    if (args.length > 1) args(1).toLong else default

  /** Writes `df` to `path` as parquet unless the path exists — probe
    * corpora and stored indexes are built once per size and reused. */
  private def writeOnce(path: String)(df: => DataFrame): Unit =
    if (!new File(path).exists()) df.write.mode("overwrite").parquet(path)

  /** [[writeOnce]], then the stored frame. */
  private def storedOnce(spark: SparkSession, path: String)(
      df: => DataFrame): DataFrame = {
    writeOnce(path)(df)
    spark.read.parquet(path)
  }

  /** Deterministic pseudo-random 64-dim vector of `id`: hash(id, j)
    * uniform in [-1, 1] — no Math.random, re-runs identical. */
  private def hashVec(id: Column = col("id")): Column =
    transform(sequence(lit(0), lit(63)),
      j => pmod(hash(id, j), lit(2000001)).cast("double") / 1000000.0 - 1.0)

  /** (vec_id, v) hash vectors for ids [from, until). */
  private def hashVecs(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("vec_id"), hashVec().as("v"))

  /** The nVecs-keyed vector corpus the ivfpq, imi, compact and filtered
    * probes share, written ONCE: a rewrite would mint a fresh data
    * fingerprint and force every fixture (codebooks, codes, centroids,
    * combined index) to rebuild per probe run — reusing it lets an
    * nCells/nProbe sweep share the nCells-independent PQ artifacts,
    * which is also the production shape (one corpus, many index
    * operating points). Returns (path, stored frame). */
  private def embeddings(spark: SparkSession, nVecs: Long): (String, DataFrame) = {
    val src = s"target/tmp-ivfpqprobe/embeddings-$nVecs.parquet"
    (src, storedOnce(spark, src)(hashVecs(spark, 0L, nVecs)))
  }

  /** Tokens `js` of doc `id`: "w" + hash(id, j) mod `vocab`. */
  private def wTokens(js: Range, vocab: Int = 5000): Seq[Column] =
    js.map(j => concat(lit("w"), pmod(hash(col("id"), lit(j)), lit(vocab))))

  /** (doc_id, text) ~40-token docs over a 5000-word vocabulary, ids
    * [from, until). */
  private def wordDocs(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("doc_id"),
      concat_ws(" ", wTokens(0 until 40): _*).as("text"))

  /** Planted near-dup template text: 40 template words
    * `word(family, w)` plus ONE varying token "v<variant>" (near-dup,
    * not byte-identical). */
  private def templateText(family: Column, variant: Column)(
      word: (Column, Int) => Column): Column =
    concat_ws(" ", (0 until 40).map(word(family, _)) :+
      concat(lit("v"), variant): _*)

  /** ids → (doc_id, family, text): family = id % nFamilies, and copy k
    * of a family carries the varying token v<k>. */
  private def familyDocs(ids: DataFrame, nFamilies: Int)(
      word: (Column, Int) => Column): DataFrame =
    ids.select(col("id").as("doc_id"), (col("id") % nFamilies).as("family"))
      .withColumn("text", templateText(col("family"),
        (col("doc_id") / nFamilies).cast("long").cast("string"))(word))

  /** The planted skew graph shared by the `skew` and `skewsweep`
    * probes: one hub-0 star of `spokes` edges (the maximally hot join
    * key) + 1000 background chains of 100 nodes. */
  private def starChainGraph(spark: SparkSession,
                             spokes: Long): (DataFrame, DataFrame) = {
    val star = spark.range(1, spokes + 1)
      .select(lit(0L).as("id_a"), col("id").as("id_b"))
    val base = 1000000000L
    val chains = spark.range(0, 100000)
      .filter(col("id") % 100 =!= 99) // don't bridge adjacent chains
      .select((col("id") + base).as("id_a"), (col("id") + base + 1).as("id_b"))
    val edges = star.unionByName(chains)
    val nodes = edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id"))).distinct()
    (edges, nodes)
  }

  /** The PageRank probe graph on `n` nodes, arithmetically generated
    * (no driver-side literals), ~4 out-edges each: a ring (guaranteed
    * connectivity), 3 hash-derived edges (random-graph bulk; the first
    * one's hash is `hash0`, so a probe can drift it), and a
    * 1%-of-nodes hub star (the in-degree skew a real domain graph
    * has). Bidirected, self-loops dropped. */
  private def prGraph(spark: SparkSession, n: Long, hash0: Column): DataFrame = {
    val ids = spark.range(n)
    val hashed = ids.select(col("id").as("src"), explode(array(
      (hash0 +: (1 until 3).map(k => hash(col("id"), lit(k))))
        .map(h => pmod(h.cast("long"), lit(n))): _*)).as("dst"))
    val ring = ids.select(col("id").as("src"), pmod(col("id") + 1, lit(n)).as("dst"))
    val hub = ids.filter(pmod(col("id"), lit(100)) === 0)
      .select(col("id").as("src"), lit(0L).as("dst"))
    val e = hashed.unionByName(ring).unionByName(hub)
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
  }

  /** Signature bits for `nVecs` vectors: raised to
    * log₂(n/targetBucket) exactly as the operator's scaladoc
    * prescribes (target bucket 32). */
  private def semanticBits(nVecs: Long): Int =
    math.max(ext.Extensions.SemanticBits,
      math.ceil(math.log(nVecs / 32.0) / math.log(2)).toInt)

  /** Order-insensitive (rows, hash sum) signature over every column. */
  private def sig(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000003L)))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def dirBytes(d: File): Long =
    if (d.isFile) d.length()
    else Option(d.listFiles()).getOrElse(Array.empty).map(dirBytes).sum

  /** recall@10 of `approx` (query_id, corpus_id) rows against a
    * brute-force exact baseline: one corpus scan with the query side
    * broadcast. */
  private def recallAt10(emb: DataFrame, qids: DataFrame,
      approx: DataFrame): Double = {
    val dot = graft.expr.ColumnOps.dotProduct(col("qv"), col("cv"))
    val nrm = (c: Column) =>
      transform(c, x => x / sqrt(graft.expr.ColumnOps.dotProduct(c, c)))
    val q = emb.join(qids.select("vec_id"), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), nrm(col("v")).as("qv"))
    val c = emb.select(col("vec_id").as("corpus_id"), nrm(col("v")).as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id").asc)
    val exact = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"), round(dot, 6).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "corpus_id")
    val hit = approx.join(exact, Seq("query_id", "corpus_id"), "left_semi").count()
    hit.toDouble / exact.count()
  }

  // ---------------------------------------------------------------------
  // Probes
  // ---------------------------------------------------------------------

  private def minhashProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nFamilies = if (args.length > 0) args(0).toInt else 200
    val copies = if (args.length > 1) args(1).toInt else 1000
    val cap = if (args.length > 2) args(2).toInt
              else ext.Extensions.BandBucketCap
    // 500 distinct tokens: with a tiny vocabulary the char-5-shingle
    // sets of DIFFERENT templates genuinely overlap past the 0.5
    // jaccard threshold and families merge — that is correct minhash
    // behavior, but it measures the generator, not the cap
    val vocab = (0 until 500).map(i => s"tok${i}x")
    // template words drawn via murmur3 of (family, position) — an
    // affine (family*a + w*b) % |vocab| scheme yields at most |vocab|
    // distinct templates and collapses every family into one near-dup
    // blob; the hash gives each family its own template
    val docs = familyDocs(spark.range(nFamilies.toLong * copies).toDF(), nFamilies) {
      (family, w) => element_at(typedLit(vocab),
        (pmod(hash(family, lit(w)), lit(vocab.size)) + 1).cast("int"))
    }.cache()
    val n = docs.count()
    println(s"PROBE corpus: $n docs, $nFamilies families x $copies copies")

    val ((pairs, nPairs), tPairs) = timed {
      val p = ext.Extensions.minhashPairsFrom(docs.select("doc_id", "text"), cap)
        .cache()
      (p, p.count())
    }
    val uncappedTheory = nFamilies.toLong * copies * (copies - 1) / 2
    println(f"PROBE pairs: $nPairs%d in $tPairs%.1f s " +
      f"(uncapped all-pairs theory: $uncappedTheory%d -> ${uncappedTheory / math.max(nPairs, 1)}%dx reduction)")

    val ((comps, nComp), tCc) = timed {
      val c = ops.Graph.connectedComponents(
          pairs.select("id_a", "id_b"), docs.select(col("doc_id").as("id")))
        .cache()
      (c, c.select("component").distinct().count())
    }
    println(f"PROBE components: $nComp%d (expected ~$nFamilies%d) in $tCc%.1f s")

    // family recovery: every component must be PURE (one family) and
    // families must not fragment
    val joined = comps.join(docs.select(col("doc_id").as("id"), col("family")), Seq("id"))
    val impure = joined.groupBy("component")
      .agg(countDistinct("family").as("nf")).filter(col("nf") > 1).count()
    val fragments = joined.groupBy("family")
      .agg(countDistinct("component").as("nc")).filter(col("nc") > 1).count()
    println(s"PROBE purity: $impure impure components, $fragments fragmented families")
  }

  private def skewProbe(spark: SparkSession, args: Array[String]): Unit = {
    val spokes = size(args, 2000000L)
    // arg 3: hotDegree override — pass Long.MaxValue-ish (e.g. 9e18) to
    // force the cold-only path for an A/B against the hot/cold split
    val hotDegree = if (args.length > 2) args(2).toLong else 500000L
    // per-stage task times + stage names, so a skew regression names
    // the offending stage instead of just moving the percentiles
    val rec = Dev.recorder(spark)
    val (edges, nodes) = starChainGraph(spark, spokes)
    val ((nComp, mega), wall) = timed {
      val comps = ops.Graph.connectedComponents(edges, nodes,
        hotDegree = hotDegree).cache()
      (comps.select("component").distinct().count(),
        comps.filter(col("component") === 0L).count())
    }
    // drained, or the slowest (last-finishing) tasks, i.e. exactly the
    // skew evidence, would be missing from the stats
    val times = rec.drain().taskMs
    val med = if (times.nonEmpty) times(times.length / 2) else 0L
    val p99 = if (times.nonEmpty) times((times.length * 99) / 100) else 0L
    val max = if (times.nonEmpty) times.last else 0L
    println(f"SKEWPROBE spokes=$spokes%d components=$nComp%d mega=$mega%d wall=$wall%.1fs " +
      f"tasks=${times.length}%d task_ms{median=$med%d p99=$p99%d max=$max%d}")
    // top stages by slowest task: where the skew actually lives
    rec.stageTasks.groupBy(_._1).toSeq.map { case (sid, ts) =>
      val d = ts.map(_._2).sorted
      (sid, d.length, d(d.length / 2), d.last)
    }.sortBy(-_._4).take(8).foreach { case (sid, n, smed, smax) =>
      println(f"SKEWSTAGE id=$sid%d tasks=$n%d median_ms=$smed%d max_ms=$smax%d " +
        s"name=${rec.stageName(sid)}")
    }
    assert(mega == spokes + 1, s"mega-component fragmented: $mega of ${spokes + 1}")
    assert(nComp == 1001, s"expected 1 mega + 1000 chains, got $nComp")
  }

  /** `skewsweep` mode: the CC hot/cold decomposition A/B across
    * simulated cluster parallelism. local[32] at 32 shuffle partitions
    * hides the straggler (one hot task ≈ one core's fair share); at
    * 128/512 partitions — the parallelism a real cluster runs — the
    * cold-only path's hot key still lands in ONE task while every
    * other task shrinks, so the straggler ratio (max/median task time)
    * grows with parallelism. The hot/cold split must keep that ratio
    * bounded at every width. Same star+chains graph as `skew`. */
  private def skewSweep(spark: SparkSession, args: Array[String]): Unit = {
    val spokes = size(args, 2000000L)
    val parts = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq
                else Seq(32, 128, 512)
    val rec = Dev.recorder(spark)
    val (edges, nodes) = starChainGraph(spark, spokes)
    // each width is set before its first job runs
    for (p <- parts; mode <- Seq("cold_only", "hot_cold")) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      rec.clear()
      val hotDegree = if (mode == "cold_only") Long.MaxValue else 500000L
      val ((comps, mega), wall) = timed {
        val c = ops.Graph.connectedComponents(edges, nodes,
          hotDegree = hotDegree).cache()
        (c, c.filter(col("component") === 0L).count())
      }
      assert(mega == spokes + 1, s"mega-component fragmented at p=$p $mode")
      comps.unpersist()
      // drained so the LAST (slowest) tasks are counted; a bus that
      // never empties warns on stderr instead of silently truncating
      // the very evidence the sweep measures
      val times = rec.drain().taskMs
      val med = if (times.nonEmpty) math.max(times(times.length / 2), 1L) else 1L
      val max = if (times.nonEmpty) times.last else 0L
      println(f"SKEWSWEEP parts=$p%d mode=$mode%s wall=$wall%.1fs " +
        f"tasks=${times.length}%d task_ms{median=$med%d max=$max%d " +
        f"straggler=${max.toDouble / med}%.1f}")
    }
  }

  /** `semantic` mode: the sign-signature blocking at 100×-scale vector
    * counts, bit width from [[semanticBits]]; reports candidate volume
    * vs the all-pairs theory, hot-bucket max, and wall time — so
    * "Σ bucket², never corpus²" is a measurement, not an assertion. */
  private def semanticProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    val bits = semanticBits(nVecs)
    val emb = hashVecs(spark, 0L, nVecs).cache()
    emb.count()
    val (nPairs, wall) = timed(
      ext.Extensions.semanticPairsFrom(emb, bits = bits).count())
    // hot-bucket evidence through the operator's OWN construction —
    // the "Σ bucket², never corpus²" claim needs the max printed, not
    // assumed (a pathological skew would otherwise be invisible here)
    val maxBucket = ext.Extensions.semanticBuckets(emb, bits = bits)
      .groupBy("bucket").count().agg(max("count")).head().getLong(0)
    val theory = nVecs * (nVecs - 1) / 2
    println(f"SEMPROBE n=$nVecs%d bits=$bits%d pairs=$nPairs%d maxbucket=$maxBucket%d " +
      f"wall=$wall%.1fs (all-pairs theory $theory%d -> ${theory / math.max(nPairs, 1)}%dx reduction)")
  }

  /** `bm25` mode: the inverted-postings pass at millions of documents —
    * measures the explode→tf shuffle and the pruned scoring join. */
  private def bm25Probe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 1000000L)
    val vocab = (0 until 5000).map(i => s"tok${i}x")
    val words = (0 until 50).map { w =>
      element_at(typedLit(vocab),
        (pmod(hash(col("id"), lit(w)), lit(vocab.size)) + 1).cast("int"))
    }
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
      .cache()
    docs.count()
    val queries = Seq(1L -> "tok1x tok2x tok3x", 2L -> "tok10x tok500x",
      3L -> "tok4999x tok42x tok7x")
    val (out, wall) = timed(ext.Extensions.bm25From(docs, queries).count())
    println(f"BM25PROBE n_docs=$nDocs%d postings=${nDocs * 50}%d results=$out%d wall=$wall%.1fs")
  }

  /** `bloom` mode: the decontamination Bloom prefilter at 100×-scale
    * train corpora — measures what fraction of train grams survive the
    * scan-side `might_contain` probe (clean grams that would otherwise
    * be shuffled into the semi-join) and compares wall time against the
    * plain semi-join path, so "the prefilter turns an all-grams
    * exchange into a hits-only exchange" is a measurement. */
  private def bloomProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 1000000L)
    import graft.expr.ColumnOps
    // 50-token docs over a 50k-token vocabulary: 5-grams are ~unique
    // per doc, so contamination comes only from the planted copies.
    // Tokens are ARITHMETIC (concat of a hash mod), not element_at of
    // a vocab-array literal: a 50k-string Literal gets copied into
    // every element_at node by tree transforms and Java-serialized
    // per task — 32 concurrent task deserializations of 50 × 50k
    // UTF8Strings OOMed an 8g heap before any data moved. The train
    // frame is likewise not cached (hash-generated, one codegen
    // projection to rebuild).
    def text(seed: Int) = concat_ws(" ", (0 until 50).map { w =>
      concat(lit("tok"),
        pmod(hash(col("id"), lit(w), lit(seed)), lit(50000)).cast("string"),
        lit("x"))
    }: _*)
    val train = spark.range(nDocs)
      .select(col("id").as("doc_id"), text(0).as("text"))
    // test split: 500 docs copied verbatim from train (the leak) + 500
    // fresh docs that share no grams
    val test = spark.range(500)
      .select(col("id").as("doc_id"), text(0).as("text"))
      .unionByName(spark.range(500)
        .select((col("id") + 1000000000L).as("doc_id"), text(1).as("text")))
      .cache()
    test.count()
    val grams = ColumnOps.wordGramSha60(col("text"), 5)
    val trainG = train.select(col("doc_id"), explode(grams).as("g"))
    val testG = test.select(explode(grams).as("g")).distinct().cache()
    val nTrainG = trainG.count()
    val bytes = testG.agg(ColumnOps.bloomFilterAgg(col("g"),
      ext.Extensions.BloomExpectedItems, ext.Extensions.BloomNumBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pre = trainG.filter(ColumnOps.bloomMightContain(lit(bytes), col("g")))
    def hits(grams: DataFrame) = timed(grams.join(testG, Seq("g"), "left_semi")
      .select("doc_id").distinct().count())
    val (nPass, tPre) = timed(pre.count())
    val (bloomHits, tBloom) = hits(pre)
    val (exactHits, tExact) = hits(trainG)
    // the 100 TB shape: the test-gram set has outgrown broadcast and
    // the semi-join must SHUFFLE both sides — this is where the
    // prefilter pays (a hits-only exchange vs an all-grams exchange)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (bloomShuf, tBloomShuf) = hits(pre)
    val (exactShuf, tExactShuf) = hits(trainG)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    println(f"BLOOMPROBE n_docs=$nDocs%d train_grams=$nTrainG%d bloom_pass=$nPass%d " +
      f"(${100.0 * nPass / nTrainG}%.3f%% survive) hits_bloom=$bloomHits%d hits_exact=$exactHits%d " +
      f"wall{prefilter=$tPre%.1fs bloom_path=$tBloom%.1fs exact_path=$tExact%.1fs " +
      f"bloom_shuffled=$tBloomShuf%.1fs exact_shuffled=$tExactShuf%.1fs}")
    assert(bloomHits == exactHits && bloomShuf == exactHits && exactShuf == exactHits,
      "bloom path diverged from exact path")
  }

  /** `winnow` mode: the rolling-hash fingerprint pass at 100×-scale
    * corpora — two sizes in one run so linearity is a printed ratio,
    * not an assumption (the composed form this replaced was quadratic
    * per document and the bench hid it for four rounds). */
  private def winnowProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 200000L)
    // ~1000-char docs from arithmetic tokens (no array literals — see
    // the bloom probe's serialization lesson)
    def corpus(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 150).map { w =>
        concat(lit("tok"), pmod(hash(col("id"), lit(w)), lit(50000)).cast("string"))
      }: _*).as("text"))
    def run(n: Long): Double = timed(ext.Extensions.winnowFingerprints(corpus(n))
      .write.format("noop").mode("overwrite").save())._2
    // discarded warm-up: without it the half-size run absorbs all the
    // JIT/codegen warm-up, deflating the ratio — a mildly superlinear
    // regression could then still print ~2.0 and pass as linear
    run(nDocs / 20)
    val tHalf = run(nDocs / 2)
    val tFull = run(nDocs)
    println(f"WINNOWPROBE n_docs=$nDocs%d chars=${nDocs * 1000}%d " +
      f"wall{half=$tHalf%.1fs full=$tFull%.1fs ratio=${tFull / tHalf}%.2f} " +
      f"(doc-count scaling: ratio <= 2.0 = linear in corpus size with " +
      f"fixed overhead; the PER-DOC quadratic this expression replaced " +
      f"is evidenced at fixed corpus instead — 26.9s -> 0.5s at sf0.1)")
  }

  /** PageRank at graph sizes the sf testdata never reaches, over
    * [[prGraph]], PrIters=3. Reports wall at half and full size
    * (ratio ≤ ~2 = linear in edge count) and the rank-mass
    * conservation check Σpr = n. */
  private def pagerankProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nNodes = size(args, 2000000L)
    def run(n: Long): (Double, Double, Long) = {
      val bi = prGraph(spark, n, hash(col("id"), lit(0)))
      val (row, t) = timed(ext.Extensions.pageRank(bi, ext.Extensions.PrIters)
        .agg(sum("pr"), count(lit(1))).head())
      (t, row.getDouble(0), row.getLong(1))
    }
    val (tHalf, _, _) = run(nNodes / 2)
    val (tFull, mass, nOut) = run(nNodes)
    println(f"PRPROBE n_nodes=$nNodes%d edges~${nNodes * 8}%d " +
      f"wall{half=$tHalf%.1fs full=$tFull%.1fs ratio=${tFull / tHalf}%.2f} " +
      f"mass=$mass%.3f vs n=$nOut%d (bidirected: conserved exactly)")
  }

  /** `prwarm` mode: the warm-start cadence claim, measured. Converge
    * PageRank cold on a day-0 [[prGraph]] (per-node tolerance like the
    * registered query), perturb ~1% of the hash edges (the marginal
    * day-over-day graph change), then converge on day-1 BOTH ways —
    * cold from 1.0 and warm from the day-0 scores. Reports iterations
    * + wall per run and the L1 gap between the warm and cold day-1
    * results (the fixpoint is unique, so the gap must sit inside the
    * 2·d·tol/(1−d) contraction bound — checked here, not just asserted
    * in the unit spec). */
  private def prWarmProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nNodes = size(args, 1000000L)
    // the pagerank probe's graph, salted: nodes ≡ 0 (mod driftMod)
    // re-derive their k=0 hash edge from `salt` — ~1/driftMod of the
    // 3n hash edges move between day 0 and day 1, the
    // slowly-changing-graph premise (default 0.3% of nodes ≈ 0.1% of
    // edges/day)
    val driftMod = if (args.length > 3) args(3).toLong else 300L
    def graph(n: Long, salt: Int) = prGraph(spark, n,
      when(pmod(col("id"), lit(driftMod)) === 0, hash(col("id"), lit(0), lit(salt)))
        .otherwise(hash(col("id"), lit(0))))
    // the ring guarantees every id is a node, so the per-node
    // tolerance scales on nNodes like the registered query — but this
    // uniform-degree arithmetic graph MIXES much faster than the
    // skewed transaction graph (cold hits the registered 0.02/node in
    // 4 iterations vs 28 at sf0.1), so the default tolDiv tightens the
    // per-node tol 100× to put the cold run in the production mode's
    // ~25-iteration regime; the warm-vs-cold iteration cut is then a
    // measurement of the cadence contract, not of the deltaEvery floor
    val tolDiv = if (args.length > 2) args(2).toDouble else 100.0
    val tol = ext.Extensions.CentralityNodeTol * nNodes / tolDiv
    def converge(g: DataFrame, init: Option[DataFrame]) = {
      val ((pr, iters), t) = timed(ext.Extensions.pageRankConverged(g, tol = tol,
        deltaEvery = ext.Extensions.CentralityDeltaEvery, init = init))
      (pr, iters, t)
    }
    val (pr0, it0, t0) = converge(graph(nNodes, 0), None)
    val (prC, itC, tC) = converge(graph(nNodes, 1), None)
    val (prW, itW, tW) = converge(graph(nNodes, 1), Some(pr0))
    val gap = prC.select(col("id"), col("pr").as("a"))
      .join(prW.select(col("id"), col("pr").as("b")), Seq("id"))
      .agg(sum(abs(col("a") - col("b")))).head().getDouble(0)
    val d = ext.Extensions.PrDamping.toDouble
    val bound = 2 * d * tol / (1 - d)
    println(f"PRWARMPROBE n_nodes=$nNodes%d tol=$tol%.1f " +
      f"day0{iters=$it0%d wall=$t0%.1fs} " +
      f"day1_cold{iters=$itC%d wall=$tC%.1fs} " +
      f"day1_warm{iters=$itW%d wall=$tW%.1fs} " +
      f"speedup=${tC / tW}%.2fx iter_cut=${itC.toDouble / itW}%.1fx " +
      f"l1_gap=$gap%.4f bound=$bound%.2f ok=${gap < bound}%b")
    // No HITS twin here, deliberately: at the registered 1e-7 mass
    // tolerance HITS does NOT converge in 50 iterations on this
    // probe graph (measured: delta 4.4e-4 at iter 50) — a sparse
    // random digraph's AᵀA has a near-degenerate spectral gap, unlike
    // the dense bipartite transaction graph the registered query runs
    // on (4 iterations). A probe tuned loose enough to converge here
    // would measure the generator, not the contract; the HITS
    // warm-start equality is asserted in GraphConvergenceSpec instead.
  }

  /** `capcycle` mode: multi-cycle compaction cap stability at a scale
    * where the cap BINDS (the round-10 cap-ratchet fix, probed through
    * repeated cycles instead of one unit-tested step). Synthesizes the
    * fold's own input shape — (cell, corpus_id, code) with a hot cell
    * holding 50% of rows (boilerplate skew) — and runs ≥3
    * arrive→compact cycles through the REAL `recapCellCodes`, deriving
    * each cycle's cap from the true uncapped ingested-row count the
    * shipped compaction queries supply. Asserts per cycle that the
    * hot-cell survivor count equals min(hot rows ingested, the cap the
    * monolithic build would resolve at that ingested volume) — below
    * the cap's 4096-row floor the hot cell holds fewer rows than the
    * cap, which then does not bind (a ratcheting cap — the round-10
    * bug class, where caps derive from already-capped counts — fails
    * this on cycle 2), that the final cycle's cap equals the
    * monolithic build's over the same rows, and that re-compacting
    * the settled state is bit-identical (idempotence). */
  private def capCycleProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 400000L)
    val cycles = if (args.length > 2) args(2).toInt else 4
    val nCells = 64
    // even ids → hot cell 0 (50% share); odd ids → uniform over the
    // other 63 cells. cap = max(4096, 8·ingested/64 = ingested/8), so
    // the hot cell (ingested/2 rows) binds once ingested passes 8192
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      when(pmod(col("id"), lit(2)) === 0, lit(0))
        .otherwise(pmod(hash(col("id")), lit(nCells - 1)) + 1)
        .cast("int").as("cell"),
      col("id").as("corpus_id"),
      array(lit(1), lit(2)).as("code"))
    val chunk = nVecs / cycles
    var state = rows(0L, 0L)
    var ingested = 0L
    var ok = true
    val f = ext.Extensions.IvfpqCellSkewFactor
    for (k <- 0 until cycles) {
      ingested += chunk
      val (next, wall) = timed(ext.Extensions.recapCellCodes(
        state.unionByName(rows(k * chunk, (k + 1) * chunk)), nCells,
        Some(ingested)).localCheckpoint())
      state = next
      val cap = math.max(4096L, f * ingested / nCells)
      // the even ids of [0, ingested) land in the hot cell
      val expected = math.min((ingested + 1) / 2, cap)
      val hot = state.filter(col("cell") === 0).count()
      val cycleOk = hot == expected
      ok &= cycleOk
      println(f"CAPCYCLE cycle=${k + 1}%d ingested=$ingested%d cap=$cap%d " +
        f"hot_survivors=$hot%d ok=$cycleOk%b wall=$wall%.1fs")
    }
    // monolithic reference over the same rows: same cap, same hot count
    val mono = ext.Extensions.recapCellCodes(rows(0L, ingested), nCells, None)
    val monoHot = mono.filter(col("cell") === 0).count()
    val finalHot = state.filter(col("cell") === 0).count()
    val monoOk = monoHot == finalHot
    // idempotence: compacting the settled state again at the same
    // ingested count must be a bit-identical no-op
    val again = ext.Extensions.recapCellCodes(state, nCells, Some(ingested))
    val idemOk = again.exceptAll(state).count() == 0 &&
      state.exceptAll(again).count() == 0
    println(f"CAPCYCLE summary n=$ingested%d cycles=$cycles%d " +
      f"final_hot=$finalHot%d mono_hot=$monoHot%d mono_ok=$monoOk%b " +
      f"idempotent=$idemOk%b all_cycles_ok=$ok%b")
    assert(ok && monoOk && idemOk,
      "cap-cycle invariants violated — see CAPCYCLE lines above")
  }

  /** `pq` mode: product-quantization ANN at 100×-scale vector counts.
    * Times the three phases separately — codebook training (bounded
    * sample), corpus encode (the one full scan that produces the M-code
    * index), and ADC search + rerank for a query batch — and reports
    * recall@10 against a planted ground truth (each query's twin vector
    * at +1e-4 noise must surface at rank 1), so the compressed index's
    * quality at probe scale is a measurement, not an extrapolation from
    * sf0.1. */
  private def pqProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    // hash vectors plus planted twins: for every query id q (multiple
    // of nVecs/43-ish stride) a twin at q + nVecs with tiny hash noise
    val base = hashVecs(spark, 0L, nVecs)
    val qStride = math.max(1L, nVecs / 40L)
    val twinNoise = transform(sequence(lit(0), lit(63)),
      j => pmod(hash(col("id"), j), lit(2000001)).cast("double") / 1000000.0 - 1.0 +
        pmod(hash(col("id"), j, lit(7)), lit(2001)).cast("double") / 1.0e7)
    val twins = spark.range(nVecs).filter(col("id") % qStride === 0)
      .select((col("id") + nVecs).as("vec_id"), twinNoise.as("v"))
    val emb = base.unionByName(twins)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = emb.count()
    // the query set is FIXED-COUNT by construction (~40 ids at any
    // nVecs — qStride scales with the corpus), matching pqTopK's
    // O(1)-query-broadcast contract
    val queryIds = base.filter(col("vec_id") % qStride === 0)
      .select("vec_id")
    val ((out, nOut), wall) = timed {
      val o = ext.Extensions.pqTopK(emb, queryIds).cache()
      (o, o.count())
    }
    val nQ = out.select("query_id").distinct().count()
    // planted-twin recall: the twin must be the rank-1 neighbor
    val hit = out.filter(col("rank") === 1 &&
      col("corpus_id") === col("query_id") + nVecs).count()
    println(f"PQPROBE n=$n%d queries=$nQ%d rows=$nOut%d twin_rank1=$hit%d/" +
      f"$nQ%d wall=$wall%.1fs")
    out.unpersist(); emb.unpersist()
  }

  /** `pqinc` mode: incremental PQ maintenance at 100×-scale vector
    * counts — proves the daily-increment contract: codebook training
    * reads a BOUNDED sample, and encoding a new batch is O(batch),
    * never a corpus rescan. Reports train / full-corpus-encode /
    * batch-encode walls; the batch:corpus encode ratio should track
    * the batch:corpus SIZE ratio (1:100), not 1:1. */
  private def pqIncProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    val nBatch = math.max(1L, nVecs / 100L)
    val corpus = hashVecs(spark, 0L, nVecs)
    val batch = hashVecs(spark, nVecs, nVecs + nBatch)
    val (cbs, tTrain) = timed(ext.Extensions.pqCodebooks(corpus))
    val (_, tCorpus) = timed(
      ext.Extensions.pqEncodeWithError(corpus, cbs)
        .agg(count(lit(1)), avg(col("qerr"))).collect())
    val ((bn, berr), tBatch) = timed {
      val r = ext.Extensions.pqEncodeWithError(batch, cbs)
        .agg(count(lit(1)), avg(col("qerr"))).collect()(0)
      (r.getLong(0), r.getDouble(1))
    }
    println(f"PQINCPROBE n=$nVecs%d batch=$bn%d wall{train=$tTrain%.1fs " +
      f"corpus_encode=$tCorpus%.1fs batch_encode=$tBatch%.1fs " +
      f"ratio=${tBatch / tCorpus}%.3f} batch_mean_qerr=$berr%.4f " +
      f"(contract: ratio tracks size ratio ${nBatch.toDouble / nVecs}%.3f, not 1.0)")
  }

  /** `compact` mode: measure the E45 claim — compaction cost is
    * INDEX-sized, a monolithic rebuild is CORPUS-sized. Both sides
    * compute the same capped (cell, corpus_id, code) table live (the
    * parquet write would be identical, so it is excluded from both):
    * compact = stored-base code-row read ∪ one O(batch) encode+assign
    * → re-cap; mono = full-corpus encode+assign → cap. Also reports
    * the on-disk I/O asymmetry (stored code bytes vs raw corpus
    * bytes) that makes operator-cadence compaction affordable. */
  private def compactProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    val nCells = if (args.length > 2) args(2).toInt else 16
    val (src, emb) = embeddings(spark, nVecs)
    val cbs = ext.Extensions.pqCodebooks(emb, codebookSrc = Some(src))
    val cs = ext.Extensions.ivfCentroids(emb, nCells = nCells,
      centroidSrc = Some(src))
    val (corpus, batch) = ext.Extensions.incrementalSplit(emb)
    val batchN = batch.count()
    // the stored base the arrival contract accumulates onto (cold
    // fixture build timed once — it is the per-retrain cost, not the
    // per-compaction cost)
    val (_, tBase) = timed(ext.Extensions
      .ivfpqCellCodes(corpus, cbs, cs, Some(src), nCells = nCells).count())
    // totalRows mirrors production (ivfpqCompact): the cap derives from
    // the UNCAPPED logical rows — stored cell-table count + batch
    // vectors — never from counts of already-capped tables; without it
    // the probe would measure a fold the shipped path no longer runs
    def compactLive = ext.Extensions.recapCellCodes(
      ext.Extensions.ivfpqCellCodes(corpus, cbs, cs, Some(src),
        nCells = nCells)
        .unionByName(ext.Extensions.ivfpqEncodeAssign(batch, cbs, cs)),
      nCells,
      totalRows = Some(ext.Extensions
        .ivfCellTable(corpus, cs, Some(src), nCells = nCells).count() + batchN))
    def monoLive = ext.Extensions.ivfpqCellCodes(emb, cbs, cs, None,
      nCells = nCells)
    // min of 2 reps per the host-noise discipline
    val (nComp, tComp) =
      Seq.fill(2)(timed(compactLive.count())).minBy(_._2)
    val (nMono, tMono) =
      Seq.fill(2)(timed(monoLive.count())).minBy(_._2)
    val rawBytes = dirBytes(new File(src))
    val baseBytes = Option(new File("target/ivfpq-codes").listFiles())
      .getOrElse(Array.empty).map(dirBytes).max // largest = this corpus
    println(f"PROBE compact: nVecs=$nVecs%d nCells=$nCells%d " +
      f"batch=$batchN%d (${100.0 * batchN / nVecs}%.1f%%)")
    println(f"PROBE compact: base fixture build (per-RETRAIN cost) $tBase%.1f s")
    println(f"PROBE compact: compaction fold $tComp%.1f s ($nComp%d rows) vs " +
      f"monolithic rebuild $tMono%.1f s ($nMono%d rows) -> ${tMono / tComp}%.1fx")
    println(f"PROBE compact: I/O asymmetry raw corpus $rawBytes%d B vs " +
      f"stored code table $baseBytes%d B -> ${rawBytes.toDouble / baseBytes}%.1fx")
  }

  /** `ivfpq` mode: cell-routed ADC at 100×-scale vector counts —
    * proves the routing contract: the ADC equi-join touches
    * ≈ nProbe/nCells of the stored code rows per query batch, never
    * the whole code table (the residual full-scan cost IndexPQ pays).
    * The corpus is written to parquet and both searches run against
    * their STORED index fixtures (the production path); reported walls
    * are the warm (index-serving) runs, and the scanned-code fraction
    * is recomputed independently from the stored cell sizes plus a
    * driver-side re-derivation of each query's nProbe cells. */
  private def ivfpqProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    // nCells: explicit, or "auto" = the 4√N FAISS guidance the index
    // build derives from the corpus count ([[Extensions.autoNCells]]);
    // nProbe defaults to the registered 6 — pass a larger probe depth
    // when sweeping the recall/fraction trade at high cell counts
    val nCellsArg = if (args.length > 2) args(2) else "16"
    val nCells = if (nCellsArg == "auto") ext.Extensions.autoNCells(nVecs)
                 else nCellsArg.toInt
    val nProbe = if (args.length > 3) args(3).toInt
                 else ext.Extensions.IvfpqNProbe
    val (src, emb) = embeddings(spark, nVecs)
    val qids = emb.select("vec_id").orderBy("vec_id").limit(16)
    def routed = ext.Extensions.ivfpqTopK(emb, qids, nProbe = nProbe,
      nCells = nCells, src = Some(src))
    def full = ext.Extensions.pqTopK(emb, qids, codebookSrc = Some(src))
    // cold = model training + index build (one-time); warm = the
    // steady search cost the routing contract is about — min of 2 reps
    // (the Profile discipline): single-shot walls on this host swing
    // ±40% under steal, and the min is the honest steady state
    val (_, tFullCold) = timed(full.count())
    val tFullWarm = Seq.fill(2)(timed(full.count())._2).min
    val (_, tRoutedCold) = timed(routed.count())
    val tRoutedWarm = Seq.fill(2)(timed(routed.count())._2).min
    // independent fraction: stored cell sizes × driver-side routing
    val cbs = ext.Extensions.pqCodebooks(emb, codebookSrc = Some(src))
    val cs = ext.Extensions.ivfCentroids(emb, nCells = nCells,
      centroidSrc = Some(src))
    val sizes = ext.Extensions.ivfpqCellCodes(emb, cbs, cs, Some(src),
        nCells = nCells)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qvecs = emb.join(qids, Seq("vec_id"))
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def routedCells(q: Array[Double]): Seq[Int] = {
      val n = math.sqrt(q.map(x => x * x).sum)
      val nv = q.map(_ / n)
      cs.indices.sortBy { c =>
        (-cs(c).zip(nv).map { case (a, b) => a * b }.sum, c)
      }.take(nProbe)
    }
    val scanned = qvecs.map { case (_, q) =>
      routedCells(q).map(c => sizes.getOrElse(c, 0L)).sum
    }.sum
    val frac = scanned.toDouble / (qvecs.length.toLong * nVecs)
    val expect = nProbe.toDouble / cs.length
    // the recall floor must HOLD at the probed (nCells, nProbe)
    // operating point, not just at the registered 16/6 — this is
    // directive-level evidence, so it is measured here rather than
    // assumed from the driver-SF floors
    val recall = recallAt10(emb, qids,
      routed.filter(col("rank") <= 10).select("query_id", "corpus_id"))
    // the BATCH's file-pruning fraction: the stored index is hive-
    // partitioned by cell and the search filters to the batch's ∪ of
    // probed cells, so bytes read per batch ≈ this fraction of the
    // index (per-QUERY ADC volume is `frac` above). With few cells and
    // many queries the union saturates — it shrinks as nCells grows
    // with the corpus (the production regime).
    val unionCells = qvecs.flatMap { case (_, q) => routedCells(q) }.distinct
    val ioFrac = unionCells.map(c => sizes.getOrElse(c, 0L)).sum.toDouble /
      sizes.values.sum
    println(f"IVFPQPROBE n=$nVecs%d queries=${qvecs.length}%d " +
      f"nCells=$nCells%d nProbe=$nProbe%d recall_at_10=$recall%.3f " +
      f"frac_scanned=$frac%.3f expect~=$expect%.3f " +
      f"batch_io_frac=$ioFrac%.3f (|∪cells|=${unionCells.length}/${cs.length}) " +
      f"wall{full_adc_cold=$tFullCold%.1fs full_adc_warm=$tFullWarm%.1fs " +
      f"routed_cold=$tRoutedCold%.1fs routed_warm=$tRoutedWarm%.1fs} " +
      "(contract: frac tracks nProbe/nCells and the scan carries " +
      "probed-cell PartitionFilters; wall PARITY is expected at " +
      "nCells=16 — a 16-query batch saturates all cells and the " +
      "unrolled ADC makes the full scan cheap; routing pays in bytes " +
      "at production nCells ≫ nProbe)")
  }

  /** `imi` mode: the assignment-wall A/B at EQUAL cell counts — the
    * measurement behind E41's claim. A flat quantizer at nCells = K²
    * pays N×K² dots to build its inverted file (the cost that made the
    * derived-1024 ivfpq build take minutes at 2M vectors); the
    * inverted multi-index reaches the SAME K² product cells for N×2K
    * dots (two K-cell per-half argmaxes sharing one scan). Both sides
    * here build their stored (cell, vec) table from scratch —
    * quantizer training + one corpus assignment scan + parquet write —
    * so the reported walls are the one-time index build a 100 TB
    * deployment schedules, and the IMI side also reports routed-search
    * recall/fraction at the probed operating point. Pass `noflat` to
    * skip the (expensive) flat side when only the IMI numbers are
    * needed. */
  private def imiProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    // `auto` derives K from the corpus count (autoKPerHalf ≈ √(4√N),
    // the product-index continuation of the flat `ivfpq … auto` mode)
    // and scales nProbe to hold the 24/1024 operating scan fraction,
    // probeA to keep the reachable-combo budget ≥ 4×nProbe
    val kHalf =
      if (args.length > 2 && args(2) == "auto") ext.Extensions.autoKPerHalf(nVecs)
      else if (args.length > 2) args(2).toInt
      else 32 // → 1024 cells
    // skip "auto" AND the trailing noflat flag, which is documented to
    // be usable in this position ("imi 2000000 auto noflat")
    val nProbe = args.lift(3)
      .filter(a => a != "auto" && !a.startsWith("no"))
      .map(_.toInt)
      .getOrElse(math.max(4, math.round(kHalf.toLong * kHalf * 24 / 1024.0).toInt))
    val probeA = if (args.length > 4 && !args(4).startsWith("no")) args(4).toInt
      else math.max(12, math.ceil(2 * math.sqrt(nProbe.toDouble)).toInt)
    val runFlat = !args.contains("noflat")
    val nCellsEq = kHalf * kHalf
    val (src, emb) = embeddings(spark, nVecs)
    val qids = emb.select("vec_id").orderBy("vec_id").limit(16)
    // --- IMI side: train both half quantizers + one 2K-dot assignment
    // scan into the stored product-cell table (all fixture-keyed, so a
    // repeat run measures the warm serve instead — delete target/ to
    // re-measure cold)
    val ((cs0, cs1), tImiBuild) = timed {
      val a = ext.Extensions.imiCentroids(emb, 0, kHalf, Some(src))
      val b = ext.Extensions.imiCentroids(emb, 1, kHalf, Some(src))
      ext.Extensions.imiCellTable(emb, a, b, Some(src)).count()
      (a, b)
    }
    def search = ext.Extensions.imiTopK(emb, qids, kPerHalf = kHalf,
      nProbe = nProbe, probeA = probeA, src = Some(src))
    val (_, tSearchCold) = timed(search.count())
    val tSearchWarm = Seq.fill(2)(timed(search.count())._2).min
    // independent scanned fraction: stored cell sizes × a driver-side
    // re-derivation of each query's per-half routing + combo ranking
    val sizes = ext.Extensions.imiCellTable(emb, cs0, cs1, Some(src))
      .groupBy("cell").count().collect()
      .map(r => (r.get(0).toString.toInt, r.getLong(1))).toMap
    val qvecs = emb.join(qids, Seq("vec_id"))
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def probedCells(q: Array[Double]): Seq[Int] = {
      val n = math.sqrt(q.map(x => x * x).sum)
      val nv = q.map(_ / n)
      val (h0, h1) = nv.splitAt(nv.length / 2)
      def top(h: Array[Double], cs: Array[Array[Double]]) =
        cs.indices.sortBy { c =>
          (-cs(c).zip(h).map { case (a, b) => a * b }.sum, c)
        }.take(probeA).map(c => c -> cs(c).zip(h).map { case (a, b) => a * b }.sum)
      val combos = for ((c0, d0) <- top(h0, cs0); (c1, d1) <- top(h1, cs1))
        yield (c0 * cs1.length + c1, -(d0 + d1))
      combos.sortBy { case (cell, negs) => (negs, cell) }
        .take(nProbe).map(_._1)
    }
    val scanned = qvecs.map { case (_, q) =>
      probedCells(q).map(c => sizes.getOrElse(c, 0L)).sum
    }.sum
    val frac = scanned.toDouble / (qvecs.length.toLong * nVecs)
    val unionCells = qvecs.flatMap { case (_, q) => probedCells(q) }.distinct
    val recall = recallAt10(emb, qids,
      search.filter(col("rank") <= 10).select("query_id", "corpus_id"))
    // --- flat side at the SAME cell count: training + N×K² assignment
    val tFlatBuild = if (runFlat) {
      val (_, t) = timed {
        val cs = ext.Extensions.ivfCentroids(emb, nCells = nCellsEq,
          centroidSrc = Some(src))
        ext.Extensions.ivfCellTable(emb, cs, Some(src), nCells = nCellsEq).count()
      }
      f"$t%.1fs"
    } else "skipped"
    println(f"IMIPROBE n=$nVecs%d queries=${qvecs.length}%d " +
      f"cells=$nCellsEq%d (K=$kHalf%d/half) nProbe=$nProbe%d probeA=$probeA%d " +
      f"recall_at_10=$recall%.3f frac_scanned=$frac%.3f " +
      f"expect~=${nProbe.toDouble / nCellsEq}%.3f " +
      f"batch_io_frac=${unionCells.map(c => sizes.getOrElse(c, 0L)).sum.toDouble /
        sizes.values.sum}%.3f (|∪cells|=${unionCells.length}/${sizes.size}) " +
      f"wall{imi_build=$tImiBuild%.1fs flat_build_equal_cells=$tFlatBuild%s " +
      f"search_cold=$tSearchCold%.1fs search_warm=$tSearchWarm%.1fs} " +
      "(contract: imi_build ≪ flat_build at equal cells — assignment is " +
      "N×2K dots vs N×K²; frac tracks nProbe/K²)")
  }

  /** E67's indexed path probed at index scale: filtered IVFPQ over the
    * attributed stored index vs the exact filtered ground truth — the
    * recall and per-search wall of the attributes-in-index design at
    * 2M vectors (10 labels ≈ 10% selectivity, the registered shape).
    * Shares the ivfpq probe's corpus parquet so the PQ/IVF model
    * fixtures are reused across probes. */
  private def filteredProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    val nCellsArg = if (args.length > 2) args(2) else "16"
    val nCells = if (nCellsArg == "auto") ext.Extensions.autoNCells(nVecs)
                 else nCellsArg.toInt
    val nProbe = if (args.length > 3) args(3).toInt
                 else ext.Extensions.FilteredNProbe
    val (src, emb) = embeddings(spark, nVecs)
    val embL = emb.withColumn("label",
      pmod(hash(col("vec_id")), lit(10)).cast("int"))
    val qids = emb.select("vec_id").orderBy("vec_id").limit(16)
    // exact filtered ground truth — the corpus-scan price a deployment
    // would pay WITHOUT the index (also the recall denominator)
    val (exact, tExact) = timed(
      ext.Extensions.topkFilteredFrom(embL, Some(qids)).collect())
    // indexed: cold = model + base index + attributed-join build
    // (one-time, fixture-served afterwards); warm = steady search
    def indexed = ext.Extensions.ivfpqFilteredTopK(embL, src, nProbe = nProbe,
      nCells = nCells, qids0 = Some(qids)).collect()
    val (got0, tCold) = timed(indexed)
    ext.Extensions.releaseCaches()
    val (got, tWarm) = Seq.fill(2)(timed {
      val r = indexed
      ext.Extensions.releaseCaches(); r
    }).minBy(_._2)
    val exactSet = exact.map(r => (r.getLong(0), r.getLong(2))).toSet
    val byQ = exact.groupBy(_.getLong(0))
    val recalls = byQ.map { case (q, rows) =>
      got.count(r => r.getLong(0) == q &&
        exactSet((q, r.getLong(1)))).toDouble / rows.length
    }
    val recall = recalls.sum / recalls.size
    // constraint exactness over the result ids (≤ 2·16·k row lookup)
    val ids = (exact.map(_.getLong(2)) ++ got.map(_.getLong(1)) ++
      byQ.keys).distinct.toSeq
    val labelOf = embL.filter(col("vec_id").isin(ids: _*))
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val leaks = got.count(r => labelOf(r.getLong(1)) != labelOf(r.getLong(0)))
    println(f"FILTEREDPROBE n=$nVecs%d nCells=$nCells%d nProbe=$nProbe%d " +
      f"labels=10 queries=${byQ.size}%d got=${got0.length}%d")
    println(f"FILTEREDPROBE exact_wall=$tExact%.1fs indexed{cold=$tCold%.1fs " +
      f"warm=$tWarm%.1fs} speedup_warm=${tExact / tWarm}%.1fx " +
      f"recall@10=$recall%.3f leaks=$leaks%d")
    require(leaks == 0, "filtered search leaked off-label neighbors")
  }

  /** VECREFRESHPROBE: the ivfpq refresh (E76c) at a vector count the
    * driver SFs never reach — the third refresh family's scale
    * evidence, mirroring REFRESHPROBE's postings/grams sections. A 1%
    * churn (1% removed, 1% re-embedded, 1% added) refreshes the
    * stored snapshot-A cell-code table under FROZEN snapshot-A models:
    * purge half = one anti-join against the stored index, arrival
    * half = one O(delta) encode+assign — against the from-scratch
    * rebuild that re-encodes every vector. Exactness is asserted, not
    * assumed: the refreshed (cell, corpus_id, code) multiset must
    * equal the full snapshot-B encode's (cap headroom at this shape —
    * auto cap is N/2 per cell). Walls are ranges-and-shapes per the
    * probe-honesty rule; the stable claim is the encode-FLOP
    * asymmetry (delta vs corpus), which the ratio column reports. */
  private def vecRefreshProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    val snapA = hashVecs(spark, 0L, nVecs)
    // B: drop id%100==0, re-embed (negate) id%100==1, add nVecs/100
    val changedB = hashVecs(spark, 0L, nVecs)
      .filter(pmod(col("vec_id"), lit(100)) =!= 0)
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(100)) === 1,
          transform(col("v"), x => -x)).otherwise(col("v")).as("v"))
    val snapB = changedB.unionByName(hashVecs(spark, nVecs, nVecs + nVecs / 100))
    // frozen snapshot-A models + the stored index — the deployment's
    // standing artifacts, built once (walls reported separately)
    val (cbs, tCb) = timed(ext.Extensions.pqCodebooks(snapA))
    val (cs, tCs) = timed(ext.Extensions.ivfCentroids(snapA))
    val stored = storedOnce(spark, s"target/tmp-vecrefresh/v1-codes-$nVecs.parquet")(
      ext.Extensions.ivfpqCellCodes(snapA, cbs, cs, None))
    // order-insensitive multiset signature over (cell, id, code)
    def codeSig(df: DataFrame): (Long, Long) = sig(df.select(col("cell"),
      col("corpus_id"), col("code").cast("array<int>").as("code")))
    codeSig(stored) // warm the stored index's page cache (REFRESHPROBE rule)
    val stale = broadcast(spark.range(nVecs)
      .filter(pmod(col("id"), lit(100)).isin(0, 1))
      .select(col("id").as("vec_id")))
    val fresh = snapB.filter(pmod(col("vec_id"), lit(100)) === 1 ||
      col("vec_id") >= nVecs)
    val (sRef, tRefresh) = timed(codeSig(
      stored.join(stale, col("corpus_id") === col("vec_id"), "left_anti")
        .unionByName(ext.Extensions.ivfpqEncodeAssign(fresh, cbs, cs))))
    val (sReb, tRebuild) = timed(codeSig(
      ext.Extensions.ivfpqEncodeAssign(snapB, cbs, cs)))
    println(f"VECREFRESHPROBE n=$nVecs%d models{cb=$tCb%.1fs cs=$tCs%.1fs} " +
      f"rows=${sRef._1}%d identical=${sRef == sReb}%b " +
      f"refresh_wall=$tRefresh%.1fs rebuild_wall=$tRebuild%.1fs " +
      f"speedup=${tRebuild / tRefresh}%.1fx " +
      f"(delta frac=${3.0 / 100}%.2f of corpus encode FLOPs)")
    assert(sRef == sReb, "refreshed codes != from-scratch snapshot-B encode")
  }

  /** `semlife` mode (round 14): the semantic-lifecycle volume probe —
    * arrival (ext_semantic_incremental's shape) and purge
    * (ext_semantic_purge's fold) at millions of vectors, the volume
    * evidence every other stored-index family already carries
    * (LEAKPROBE / VECREFRESHPROBE). Vectors are planted in identical
    * QUADRUPLES (vec of id − id%4) so the cluster graph is bounded —
    * pure-random vectors at the registered 0.25 threshold sit near the
    * random-graph giant-component transition, and a probe measuring an
    * accidental giant component measures the generator, not the verbs;
    * the probe confirms at cos ≥ 0.9 for the same reason. Reports:
    *  - arrival: candidate volume observed vs the Σ batch_b×corpus_b
    *    bucket-product bound, max stored bucket, near-dup count, and
    *    the O(batch) arrival wall vs re-blocking the full corpus;
    *  - purge: the affected-component fold wall at a planted ~0.1%
    *    takedown vs the full re-cluster wall, with the affected
    *    fraction printed. */
  private def semLifeProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nVecs = size(args, 2000000L)
    val bits = semanticBits(nVecs)
    val confirmCos = 0.9
    val corpus = spark.range(nVecs)
      .select(col("id").as("vec_id"),
        hashVec(col("id") - pmod(col("id"), lit(4))).as("v")).cache()
    corpus.count()
    // batch: 1% arrivals — half exact re-embeds of corpus vectors
    // (cos = 1, the near_dup confirm path), half genuinely new points
    val batch = spark.range(nVecs, nVecs + nVecs / 100)
      .select(col("id").as("vec_id"),
        when(pmod(col("id"), lit(2)) === 0, hashVec(col("id") - nVecs))
          .otherwise(hashVec()).as("v")).cache()
    val nBatch = batch.count()
    // the standing artifact: the capped corpus bucket table, stored
    // once (the sem-buckets fixture's role) — build wall reported
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
        col("vec_id"))
    val storedDir = s"target/tmp-semlife/buckets-$nVecs.parquet"
    val (_, tIndex) = timed(writeOnce(storedDir)(
      ext.Extensions.semanticBuckets(corpus, bits)
        .withColumn("__rn", row_number().over(capW))
        .filter(col("__rn") <= ext.Extensions.SemanticBucketCap)
        .select("vec_id", "bucket")))
    val stored = spark.read.parquet(storedDir)
    stored.count() // warm the stored index's page cache (REFRESHPROBE rule)
    // candidate-volume honesty: the Σ batch_b × corpus_b bound the
    // arrival's equi-join can never exceed, plus the max stored bucket
    val bb = ext.Extensions.semanticBuckets(batch, bits)
      .select(col("vec_id").as("bid"), col("bucket")).cache()
    bb.count()
    val bound = bb.groupBy("bucket").agg(count(lit(1)).as("nb"))
      .join(stored.groupBy("bucket").agg(count(lit(1)).as("nc")), Seq("bucket"))
      .agg(sum(col("nb") * col("nc"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    val maxBucket = stored.groupBy("bucket").count()
      .agg(max("count")).head().getLong(0)
    // ARRIVAL: batch bucket pass (already above) + candidate equi-join
    // + cosine confirm → status. O(batch): the corpus side is the
    // stored table + a semi-join-sized raw fetch of named candidates.
    def withNrm(df: DataFrame, idAs: String, vAs: String, nAs: String) =
      df.select(col("vec_id").as(idAs), col("v").as(vAs),
        sqrt(graft.expr.ColumnOps.dotProduct(col("v"), col("v"))).as(nAs))
    val ((nCand, nNear), tArr) = timed {
      val cand = bb
        .join(stored.select(col("vec_id").as("cid"), col("bucket")),
          Seq("bucket"))
        .select("bid", "cid").distinct().cache()
      val nc = cand.count()
      val near = cand
        .join(withNrm(batch, "bid", "bv", "bn"), Seq("bid"))
        .join(withNrm(corpus, "cid", "cv", "cn"), Seq("cid"))
        .filter(graft.expr.ColumnOps.dotProduct(col("bv"), col("cv")) /
          (col("bn") * col("cn"))
          >= confirmCos)
        .select("bid").distinct().count()
      cand.unpersist()
      (nc, near)
    }
    // the cost the arrival avoids: re-running the family's full pair
    // generation (block + cap + confirm) over corpus ∪ batch
    val (_, tReblock) = timed(
      ext.Extensions.semanticPairsFrom(corpus.unionByName(batch),
        bits = bits, threshold = confirmCos).count())
    println(f"SEMLIFEPROBE arrival n=$nVecs%d batch=$nBatch%d bits=$bits%d " +
      f"cand=$nCand%d bound=$bound%d maxbucket=$maxBucket%d near=$nNear%d " +
      f"arrive_wall=$tArr%.1fs reblock_wall=$tReblock%.1fs " +
      f"index_build=$tIndex%.1fs")
    assert(nCand <= bound, "candidate volume exceeded the bucket-product bound")
    // planted matches: even batch ids copy hashVec(id − nVecs), which is
    // a corpus vector exactly when (id − nVecs) % 4 == 0 (the quadruple
    // base) — a quarter of the batch by construction. Floor at 90%:
    // the hot-bucket cap legitimately drops a few planted sources from
    // the stored table (observed 4988/5000 at 2M with avg bucket ≈
    // cap), the recall price every capped LSH index pays by design.
    assert(nNear >= nBatch / 4 * 9 / 10,
      s"planted re-embeds not confirmed near-dup ($nNear < ${nBatch / 4 * 9 / 10})")
    // PURGE: the cluster bootstrap once (wall reported — the cost a
    // takedown must NOT re-pay), then the affected-component fold at a
    // planted ~0.1% purge
    val (labels, tCluster) = timed {
      val pairs = ext.Extensions
        .semanticPairsFrom(corpus, bits = bits, threshold = confirmCos)
        .select("id_a", "id_b")
      val l = ops.Graph.connectedComponents(pairs,
          corpus.select(col("vec_id").as("id")))
        .select(col("id").as("vec_id"), col("component").as("cluster_id"))
        .localCheckpoint()
      l.count(); l
    }
    val purged = corpus.filter(pmod(col("vec_id"), lit(997)) === 0)
      .select("vec_id")
    val nPurged = purged.count()
    val nAffected = labels.join(broadcast(purged), Seq("vec_id"), "left_semi")
      .select("cluster_id").distinct().count()
    val nClusters = labels.select("cluster_id").distinct().count()
    // the survivors re-derive their pairs under the blocking the labels
    // were built with, not the fold's defaults
    val out = ext.Extensions.purgeClusterLabels(labels, "vec_id", purged,
      ext.Extensions.semanticSurvivorGraph(corpus, bits, confirmCos))
    val (nOut, tPurge) = timed(out.count())
    // exactness: the fold's labels equal a full re-cluster of the survivors
    val survivors = corpus.join(broadcast(purged), Seq("vec_id"), "left_anti")
    val full = ops.Graph.connectedComponents(
        ext.Extensions.semanticPairsFrom(survivors, bits = bits, threshold = confirmCos)
          .select("id_a", "id_b"),
        survivors.select(col("vec_id").as("id")))
      .select(col("id").as("vec_id"), col("component").as("cluster_id"))
    val folded = out.select("vec_id", "cluster_id")
    val mismatch = folded.exceptAll(full).count() + full.exceptAll(folded).count()
    println(f"SEMLIFEPROBE purge n=$nVecs%d purged=$nPurged%d " +
      f"affected=$nAffected%d/$nClusters%d clusters out=$nOut%d mismatch=$mismatch%d " +
      f"purge_wall=$tPurge%.1fs recluster_wall=$tCluster%.1fs " +
      f"speedup=${tCluster / math.max(tPurge, 0.001)}%.1fx")
    assert(nOut == nVecs - nPurged, "purged label count drifted")
    assert(mismatch == 0, s"purged labels differ from a full re-cluster of the survivors in $mismatch rows")
  }

  /** `lexinc` mode: incremental lexical-index maintenance at
    * 100×-scale document counts — proves the E35 contract: tokenizing
    * a daily batch costs O(batch), never a corpus re-tokenize (the
    * stored postings table serves the standing side). Reports the
    * corpus vs batch postings-build walls; the ratio should track the
    * 1:100 size ratio, not 1:1. */
  private def lexIncProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 2000000L)
    val nBatch = math.max(1L, nDocs / 100L)
    def build(df: DataFrame): (Long, Double) = {
      val r = ext.Extensions.postingsOf(df)
        .agg(count(lit(1)), sum(col("tf"))).collect()(0)
      (r.getLong(0), r.getDouble(1))
    }
    val ((nC, _), tCorpus) = timed(build(wordDocs(spark, 0L, nDocs)))
    val ((nB, _), tBatch) = timed(build(wordDocs(spark, nDocs, nDocs + nBatch)))
    println(f"LEXINCPROBE docs=$nDocs%d batch=$nBatch%d " +
      f"postings{corpus=$nC%d batch=$nB%d} " +
      f"wall{corpus_tokenize=$tCorpus%.1fs batch_tokenize=$tBatch%.1fs " +
      f"ratio=${tBatch / tCorpus}%.3f} " +
      f"(contract: ratio tracks size ratio ${nBatch.toDouble / nDocs}%.3f, not 1.0)")
  }

  /** `lexcompact` mode: E46's settling claim measured — the lexical
    * compaction fold reads the STORED postings table (index-sized) plus
    * one O(batch) tokenize, while a monolithic rebuild re-tokenizes the
    * corpus. Both sides computed live (identical write excluded), min
    * of 2 reps. Also reports the postings-vs-raw I/O asymmetry. */
  private def lexCompactProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 2000000L)
    val nBatch = math.max(1L, nDocs / 100L)
    val srcDir = s"target/tmp-lexcompact/docs-$nDocs.parquet"
    val docs = storedOnce(spark, srcDir)(wordDocs(spark, 0L, nDocs))
    val batch = wordDocs(spark, nDocs, nDocs + nBatch)
    // the stored base the arrivals accumulate onto (built once — the
    // per-retrain cost, not the per-compaction cost)
    val postDir = s"target/tmp-lexcompact/postings-$nDocs.parquet"
    val (_, tPost) = timed(writeOnce(postDir)(ext.Extensions.postingsOf(docs)))
    val base = spark.read.parquet(postDir)
    def compactLive = base.unionByName(ext.Extensions.postingsOf(batch))
    def monoLive = ext.Extensions.postingsOf(docs)
    val (nComp, tComp) = Seq.fill(2)(timed(compactLive.count())).minBy(_._2)
    val (nMono, tMono) = Seq.fill(2)(timed(monoLive.count())).minBy(_._2)
    val rawBytes = dirBytes(new File(srcDir))
    val postBytes = dirBytes(new File(postDir))
    println(f"PROBE lexcompact: docs=$nDocs%d batch=$nBatch%d " +
      f"(${100.0 * nBatch / nDocs}%.1f%%); base postings build $tPost%.1f s")
    println(f"PROBE lexcompact: compaction fold $tComp%.1f s ($nComp%d rows) vs " +
      f"monolithic re-tokenize $tMono%.1f s ($nMono%d rows) -> ${tMono / tComp}%.1fx")
    println(f"PROBE lexcompact: I/O raw docs $rawBytes%d B vs stored postings " +
      f"$postBytes%d B (ratio ${postBytes.toDouble / rawBytes}%.2f — postings " +
      "carry per-term rows; the fold win is COMPUTE (no re-tokenize), " +
      "and the scan is columnar-pruned to the 3 posting columns)")
  }

  /** E52/E55 substring dedup at 2M docs: 5% of docs carry one of 7
    * ten-token boilerplate sentences appended to otherwise-unique
    * 40-token text — realistic web boilerplate fan-out (~14k copies per
    * sentence, 3 duplicated gram starts per carrier). Claims probed:
    * (1) the gram-count shuffle is the plain wordcount shape at 67M
    * gram positions (1.9M×33 + 100k×43); (2) the dup-gram set feeding
    * the semi-join probe is MODEL-sized (21 distinct grams here) no
    * matter the corpus; (3) the per-doc coverage window runs over dup
    * positions only (300k of 67M — 0.45%). */
  private def substrProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 2000000L)
    val base = concat_ws(" ", wTokens(0 until 40, 2000000): _*)
    val boiler = concat_ws(" ", (0 until 10).map(j =>
      concat(lit("b"), pmod(hash(pmod(col("id"), lit(7)), lit(j)), lit(1000)))): _*)
    val text = when(pmod(col("id"), lit(20)) === 0,
      concat_ws(" ", base, boiler)).otherwise(base)
    val docs = storedOnce(spark, s"target/tmp-substr/docs-$nDocs.parquet")(
      spark.range(nDocs).select(col("id").as("doc_id"), text.as("text")))
    val statsOf = () => ext.Extensions.substringDedupStats(docs)
      .agg(sum("n_grams"), sum("dup_grams"), sum("dup_tokens"),
        count(when(col("dup_grams") > 0, 1)))
      .collect()(0)
    val (st, tStats) = Seq.fill(2)(timed(statsOf())).minBy(_._2)
    println(f"PROBE substr: docs=$nDocs%d grams=${st.getLong(0)}%d " +
      f"dup_positions=${st.getLong(1)}%d dup_tokens=${st.getLong(2)}%d " +
      f"dup_docs=${st.getLong(3)}%d stats_wall=$tStats%.1f s")
    val rewriteOf = () => ext.Extensions.substringDedupRewrite(docs)
      .agg(sum("n_tokens"), sum("kept_tokens")).collect()(0)
    val (rw, tRw) = Seq.fill(2)(timed(rewriteOf())).minBy(_._2)
    val removed = rw.getLong(0) - rw.getLong(1)
    println(f"PROBE substr: rewrite removed $removed%d of ${rw.getLong(0)}%d " +
      f"tokens (${100.0 * removed / rw.getLong(0)}%.2f%%) rewrite_wall=$tRw%.1f s")
    // E56 arrival: stored corpus gram counts (built once per corpus =
    // the retrain cost), a 1% batch pays one O(batch) gram scan + a
    // count-merge join; the alternative re-runs the corpus gram count
    // the PRODUCTION index shape: (g, cnt, cdoc, cpos) — stats paths
    // prune to (g, cnt) at the scan, the rewrite arrival reads all four
    val gramDir = s"target/tmp-substr/gramsidx-$nDocs.parquet"
    val tIdx =
      if (new File(gramDir).exists()) 0.0
      else timed(writeOnce(gramDir)(ext.Extensions.substringGramIndex(docs)))._2
    val stored = spark.read.parquet(gramDir)
    val storedRows = stored.count() // parquet metadata
    val nBatch = math.max(1L, nDocs / 100L)
    val batch = spark.range(nDocs, nDocs + nBatch)
      .select(col("id").as("doc_id"), text.as("text"))
    def arrivalStats(counts: DataFrame, from: DataFrame) =
      ext.Extensions.substrStatsAgainst(from, counts)
        .agg(sum("dup_grams"), sum("dup_tokens")).collect()(0)
    val (ai, tArr) = Seq.fill(2)(timed(
      arrivalStats(stored, batch))).minBy(_._2)
    val (_, tMono) = Seq.fill(2)(timed(
      arrivalStats(ext.Extensions.substringGramCounts(docs), batch))).minBy(_._2)
    println(f"PROBE substr: arrival (1%% batch=$nBatch%d) stored-index " +
      f"$tArr%.1f s vs corpus re-count $tMono%.1f s -> ${tMono / tArr}%.1fx " +
      f"(index build $tIdx%.1f s; batch dup_grams=${ai.getLong(0)}%d)")
    // EXPLICIT-bloom A/B (round-10 directive 7, after the AQE conf flip
    // measured no-op): E10c's machinery — a BloomFilterAggregate over
    // the batch's distinct grams, collected as a model parameter and
    // probed as a codegen'd scan-side predicate on the STORED index
    // read before the count-merge join. Semantics identical by
    // construction (FPs die in the join, FNs impossible — asserted).
    // The mechanism it tests: the arrival's left-outer join cannot
    // broadcast its corpus-sized right side, so BOTH sides shuffle —
    // the prefilter would cut the stored side's exchange from all
    // grams to (batch matches + FP rows). Bloom build time is charged
    // to the bloom path.
    val bloomArrival = () => {
      // the SHIPPED filter parameters — a retune of the production
      // constants must re-measure through this same probe
      val bf = ext.Extensions.substringGramCounts(batch).select("g")
        .agg(graft.expr.ColumnOps.bloomFilterAgg(col("g"),
          ext.Extensions.BloomExpectedItems,
          ext.Extensions.BloomNumBits).as("bf"))
        .head().getAs[Array[Byte]](0)
      arrivalStats(stored.filter(
        graft.expr.ColumnOps.bloomMightContain(lit(bf), col("g"))), batch)
    }
    val (ab, tBloom) = Seq.fill(2)(timed(bloomArrival())).minBy(_._2)
    require(ab.getLong(0) == ai.getLong(0) && ab.getLong(1) == ai.getLong(1),
      s"bloom-prefiltered arrival changed results: $ab vs $ai")
    println(f"PROBE substr: arrival with explicit batch-gram bloom " +
      f"prefilter $tBloom%.1f s vs unfiltered $tArr%.1f s -> " +
      f"${tArr / tBloom}%.2fx (build+collect charged to the bloom path; " +
      "results asserted identical)")
    // E60 at scale: the REWRITE arrival through the production gate
    // (indexRows arms the bloom above SubstrBloomMinIndexRows)
    val rewriteArr = () => ext.Extensions
      .substrRewriteAgainst(batch, stored, indexRows = Some(storedRows))
      .agg(sum("n_tokens"), sum("kept_tokens")).collect()(0)
    val (ra, tRa) = Seq.fill(2)(timed(rewriteArr())).minBy(_._2)
    println(f"PROBE substr: rewrite ARRIVAL (1%% batch) $tRa%.1f s, " +
      f"kept ${ra.getLong(1)}%d of ${ra.getLong(0)}%d batch tokens " +
      f"(bloom armed=${storedRows >= ext.Extensions.SubstrBloomMinIndexRows}; " +
      f"monolithic rewrite over the corpus was $tRw%.1f s)")
  }

  /** E53 CMS heavy hitters in the regime they exist for: a junk-tail
    * vocabulary (each doc = 10 head tokens from a 200-token Zipf-ish
    * head + 30 tail tokens from a 50M value space → tens of millions
    * of distinct terms at 2M docs). Claims probed: (1) the exact
    * path's shuffle carries the FULL distinct-term table while the
    * sketch's carries ≤ d×w rows; (2) both return the same top-10. */
  private def cmsProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 2000000L)
    // Zipf head: index log-uniform over [0, 200) → count(rank k) ∝ 1/k,
    // the real shape of a stopword head (rank-1 ≈ 3.4M, rank-10 ≈ 340k
    // at 2M docs — well-separated, unlike a flat head whose near-equal
    // counts no sketch can rank through its own noise floor)
    val head = (0 until 10).map { j =>
      val u = pmod(hash(col("id"), lit(j)), lit(100000)).cast("double") / 100000.0
      concat(lit("hh"), floor(pow(lit(200.0), u) - 1).cast("int"))
    }
    val tail = (0 until 30).map(j =>
      concat(lit("jjj"), pmod(hash(col("id"), lit(100 + j)), lit(50000000L))))
    def corpus(dir: String, words: Seq[Column]) =
      storedOnce(spark, s"target/tmp-cms/$dir-$nDocs.parquet")(
        spark.range(nDocs).select(col("id").as("doc_id"),
          lit("xx").as("lang"), concat_ws(" ", words: _*).as("text")))
    val docs = corpus("docs", head ++ tail)
    // structural shuffle volumes (one extra job each, reported once)
    val distinctTerms = docs.select(explode(
        split(trim(lower(col("text"))), "\\s+")).as("t"))
      .filter(length(col("t")) > 2).distinct().count()
    val (ex, tExact) = Seq.fill(2)(timed(
      ext.Extensions.topTermsExactFrom(docs).collect())).minBy(_._2)
    val (cm, tCms) = Seq.fill(2)(timed(
      ext.Extensions.topTermsCmsFrom(docs).collect())).minBy(_._2)
    val exSet = ex.map(r => r.getString(1)).toSet
    val cmSet = cm.map(r => r.getString(1)).toSet
    println(f"PROBE cms: docs=$nDocs%d distinct_terms=$distinctTerms%d " +
      f"(exact shuffle rows) vs sketch rows <= ${ext.Extensions.CmsDepth *
        ext.Extensions.CmsWidth}%d")
    println(f"PROBE cms: exact_wall=$tExact%.1f s cms_wall=$tCms%.1f s " +
      f"top10_overlap=${(exSet & cmSet).size}%d/10")
    // FLAT head — the measured CMS failure mode (near-equal true
    // counts separated by less than the collision noise floor, so the
    // one-sided min's overestimates reorder the top-k): 14 head terms
    // with counts within ~1% of each other over a junk tail. Both
    // estimators measured on the SAME corpus; the count-mean-min's
    // debiased median is the fix under test (E63).
    // term hhfK appears in (9000+K)/10000 of docs: counts flat to
    // ~0.01% (200-count gaps at 2M docs) — far inside the sketch's
    // collision-noise VARIANCE, the regime where estimator noise must
    // reorder the top-k and only a lower-variance estimator can rank
    val flatHead = (0 until 10).map(j =>
      when(pmod(hash(col("id"), lit(200 + j)), lit(10000)) < 9000 + j,
        concat(lit("hhf"), lit(j))).otherwise(lit("")))
    val flat = corpus("flatpm2", flatHead ++ tail)
    val fExact = ext.Extensions.topTermsExactFrom(flat).collect()
      .map(r => r.getString(1) -> r.getLong(2))
    val fEx = fExact.map(_._1).toSet
    val trueOf = fExact.toMap
    val (fCm, tFCms) = Seq.fill(2)(timed(
      ext.Extensions.topTermsCmsFrom(flat).collect())).minBy(_._2)
    val (fMm, tFCmm) = Seq.fill(2)(timed(
      ext.Extensions.topTermsCmmFrom(flat).collect())).minBy(_._2)
    val fCmSet = fCm.map(r => r.getString(1)).toSet
    val fMmSet = fMm.map(r => r.getString(1)).toSet
    // ORDER agreement (exact rank sequence, not just set overlap) and
    // VALUE error: the min is one-sided-high by the collision mass,
    // the debiased median should sit on the truth
    val fExOrder = fExact.map(_._1).toSeq
    val cmOrder = fCm.sortBy(_.getInt(3)).map(_.getString(1)).toSeq
    val mmOrder = fMm.sortBy(_.getInt(4)).map(_.getString(1)).toSeq
    def meanRelErr(rows: Seq[(String, Double)]): Double = {
      val es = rows.collect { case (t, v) if trueOf.contains(t) =>
        math.abs(v - trueOf(t)) / trueOf(t) }
      if (es.isEmpty) -1 else es.sum / es.size
    }
    val cmErr = meanRelErr(fCm.toSeq.map(r =>
      r.getString(1) -> r.getLong(2).toDouble))
    val mmErr = meanRelErr(fMm.toSeq.map(r =>
      r.getString(1) -> r.getDouble(3)))
    println(f"PROBE cms: FLAT(0.01%%) head top10 — cms ${(fEx & fCmSet).size}%d/10 " +
      f"order_exact=${cmOrder == fExOrder}%b err=${100 * cmErr}%.2f%% ($tFCms%.1f s) " +
      f"vs count-mean-min ${(fEx & fMmSet).size}%d/10 " +
      f"order_exact=${mmOrder == fExOrder}%b err=${100 * mmErr}%.2f%% ($tFCmm%.1f s)")
  }

  /** E65's scale claim, probed where it bites: the domain-mixture
    * materializer's per-language running sum as a FLAT window
    * (parallelism = number of languages — 5 tasks carry the whole
    * corpus) vs the registered TWO-LEVEL decomposition (langs ×
    * MixturePrefixBuckets task-sized windows + broadcast offsets).
    * Selections must be IDENTICAL (the decomposition is an execution
    * strategy, not a semantics change); the walls are the finding. */
  private def mixtureProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 2000000L)
    // ~40-token docs over the five weighted languages (hash-assigned
    // so every lang's volume is proportional at any nDocs)
    val langs = array(ext.Extensions.MixtureWeights.map(t => lit(t._1)): _*)
    val docs = storedOnce(spark, s"target/tmp-mixture/docs-$nDocs.parquet")(
      spark.range(nDocs).select(col("id").as("doc_id"),
        element_at(langs, pmod(hash(col("id")), lit(5)).cast("int") + 1)
          .as("lang"),
        concat_ws(" ", wTokens(0 until 40): _*).as("text")))
    def run(f: => DataFrame): (Long, Double) =
      Seq.fill(2)(timed {
        val c = f.count(); ext.Extensions.releaseCaches(); c
      }).minBy(_._2)
    val (nTwo, tTwo) = run(ext.Extensions.mixtureSampleFrom(docs))
    val (nFlat, tFlat) = run(ext.Extensions.mixtureSampleFlat(docs))
    // equality: the decomposition must select the identical mixture
    val two = ext.Extensions.mixtureSampleFrom(docs)
    val flat = ext.Extensions.mixtureSampleFlat(docs)
    val diverged = two.exceptAll(flat).count() + flat.exceptAll(two).count()
    ext.Extensions.releaseCaches()
    println(f"MIXTUREPROBE docs=$nDocs%d langs=${ext.Extensions.MixtureWeights.size}%d " +
      f"buckets=${ext.Extensions.MixturePrefixBuckets}%d selected=$nTwo%d")
    println(f"MIXTUREPROBE two_level_wall=$tTwo%.1fs flat_wall=$tFlat%.1fs " +
      f"speedup=${tFlat / tTwo}%.2fx identical=${diverged == 0 && nTwo == nFlat}%b")
    require(diverged == 0 && nTwo == nFlat,
      "two-level mixture selection diverged from the flat window")
  }

  /** E71's scale claim, probed where it bites: deletion must cost
    * O(purged ⊕ artifact), never the rebuild a purge-less system pays.
    * Two family representatives: the POSTINGS purge (stored-index
    * anti-join vs re-tokenizing the filtered corpus — the clean-death
    * shape every per-row artifact shares) and the SHARD RECEIPT purge
    * (affected-shard recompute behind partition pruning vs the
    * full-manifest rebuild — the half-monoid shape). Outputs must be
    * identical both ways; the walls are the finding. */
  private def purgeProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 2000000L)
    val nShards = if (args.length > 2) args(2).toInt else 512
    val nPurge = if (args.length > 3) args(3).toInt else 20
    val docs = storedOnce(spark, s"target/tmp-purge/docs-$nDocs.parquet")(
      wordDocs(spark, 0L, nDocs))
    // the takedown list: a fixed absolute count — requests don't grow
    // with the corpus
    val purgeIds = (0 until nPurge).map(i => i.toLong * 97 + 13)
      .filter(_ < nDocs)

    // ---- postings family: stored-index anti-join vs corpus rebuild
    val postings = storedOnce(spark, s"target/tmp-purge/postings-$nDocs.parquet")(
      ext.Extensions.postingsOf(docs))
    import spark.implicits._
    val purgeDf = broadcast(purgeIds.toDF("doc_id"))
    val (purgedSig, tPurge) = timed(sig(
      postings.join(purgeDf, Seq("doc_id"), "left_anti")))
    val (rebuiltSig, tRebuild) = timed(sig(ext.Extensions.postingsOf(
      docs.join(purgeDf, Seq("doc_id"), "left_anti"))))
    println(f"PURGEPROBE postings docs=$nDocs%d purged=${purgeIds.size}%d " +
      f"rows=${purgedSig._1}%d identical=${purgedSig == rebuiltSig}%b " +
      f"purge_wall=$tPurge%.1fs rebuild_wall=$tRebuild%.1fs " +
      f"speedup=${tRebuild / tPurge}%.1fx")
    require(purgedSig == rebuiltSig,
      "purged postings diverged from the filtered-corpus rebuild")

    // ---- shard receipt: affected-shard recompute vs full rebuild
    val h = graft.expr.Scalars.hash60(col("text"))
    val sIdxDir = s"target/tmp-purge/shardidx-$nDocs-$nShards"
    if (!new File(sIdxDir).exists())
      docs.select(col("doc_id"), h.as("hh"),
          length(col("text")).cast("long").as("n_chars"),
          pmod(h, lit(nShards.toLong)).cast("int").as("shard"))
        .repartition(cpus.toInt, col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(sIdxDir)
    val sIdx = spark.read.parquet(sIdxDir)
    val stored = storedOnce(spark, s"target/tmp-purge/manifest-$nDocs-$nShards")(
      ext.Extensions.manifestAggOf(sIdx.select("shard", "hh", "n_chars")))
    val purgeRows = sIdx.join(purgeDf, Seq("doc_id"), "left_semi")
      .select("doc_id", "hh", "n_chars", "shard").cache()
    val nAffected = purgeRows.select("shard").distinct().count()
    val (receipt, tReceipt) = timed(
      ext.Extensions.shardManifestFold(stored, sIdx,
          broadcast(purgeRows.select("doc_id")), purgeRows, purgeRows.limit(0))
        .collect().map(_.toSeq).toSeq)
    val (full, tFull) = timed(
      ext.Extensions.manifestAggOf(
        sIdx.join(purgeDf, Seq("doc_id"), "left_anti")
          .select("shard", "hh", "n_chars"))
        .orderBy("shard").collect().map(_.toSeq).toSeq)
    // the receipt's scale fact is I/O, not wall at toy sizes: the
    // pruned recompute reads only the affected shards' rows (from the
    // stored manifest — no extra scan), the rebuild reads the index
    val affectedRows = stored
      .join(purgeRows.select("shard").distinct(), Seq("shard"), "left_semi")
      .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    println(f"PURGEPROBE receipt shards=$nShards%d affected=$nAffected%d " +
      f"identical=${receipt == full}%b recompute_wall=$tReceipt%.1fs " +
      f"rebuild_wall=$tFull%.1fs rows_read=$affectedRows%d vs $nDocs%d " +
      f"(${nDocs.toDouble / affectedRows}%.0fx less index I/O)")
    require(receipt == full,
      "purged receipt diverged from the rebuilt-from-filtered manifest")
  }

  /** E76's scale claim, probed where it bites: a recurring crawl must
    * cost O(diff hash pass + delta tokenize), never the full-corpus
    * re-tokenize a refresh-less system pays. Snapshot B = A with a
    * PROPORTIONAL delta (1% removed, 1% changed, 1% added — crawl
    * churn scales with the corpus, unlike takedowns), so the walls
    * show the real asymmetry: the refresh's only corpus-sized work is
    * the 60-bit hash projection (cheap next to tokenize+explode+agg),
    * while the rebuild re-tokenizes everything. Outputs must be
    * identical both ways; the walls are the finding. */
  private def refreshProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 2000000L)
    // 8-token BOILERPLATE prefix shared per family (id % 4999 — coprime
    // to the stale predicate's mod-100, so a family mixes stale and
    // surviving members) + 32 unique tokens: the shared window is what
    // exercises the gram index's tombstone path (a gram must be shared
    // between a stale doc and a survivor for its canonical to die while
    // it lives)
    val words = (0 until 8).map(j =>
      concat(lit("b"), pmod(hash(pmod(col("id"), lit(4999)), lit(j)),
        lit(5000)))) ++ wTokens(8 until 40)
    def gen(r: org.apache.spark.sql.Dataset[java.lang.Long]) =
      r.select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text"))
    val snapA = storedOnce(spark, s"target/tmp-refresh/v3-snapa-$nDocs.parquet")(
      gen(spark.range(nDocs)))
    // B: drop id%100==0, revise id%100==1, add nDocs/100 new ids
    val snapB = storedOnce(spark, s"target/tmp-refresh/v3-snapb-$nDocs.parquet") {
      val changed = gen(spark.range(nDocs)).filter(pmod(col("doc_id"), lit(100)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(100)) === 1,
          concat(col("text"), lit(" rev"))).otherwise(col("text")))
      changed.unionByName(gen(spark.range(nDocs, nDocs + nDocs / 100)))
    }
    // the stored index over snapshot A — built once at corpus build,
    // not part of either timed path
    val postings = storedOnce(spark, s"target/tmp-refresh/v3-postings-$nDocs.parquet")(
      ext.Extensions.postingsOf(snapA))
    val statuses = ext.Extensions.snapshotStatuses(snapA, snapB).cache()
    val stale = statuses.filter(ext.Extensions.SnapshotDiff.isStale)
      .select("doc_id")
    val fresh = statuses.filter(ext.Extensions.SnapshotDiff.isFresh)
      .select("doc_id")
    // diff wall: populate the cache + count the delta (the operator's
    // adaptive-hint sizing action)
    val ((nStale, nFresh), tDiff) = timed((stale.count(), fresh.count()))
    // warm the index's page cache BEFORE either timed join variant —
    // the first reader would otherwise pay the cold disk read and the
    // second re-read warm, biasing the hinted-vs-unhinted gap with
    // cache warm-up instead of join-strategy cost
    sig(postings)
    // both purge-join forms, timed: unhinted (the oversized-delta
    // fallback — survives a full re-crawl where a forced broadcast
    // OOMs) vs delta-broadcast (the routine-crawl path the operator's
    // adaptive hint picks). The gap is the stored index's shuffle
    // map-write an SMJ pays before AQE can convert.
    val (sPurgedU, tpu) = timed(sig(
      postings.join(stale, Seq("doc_id"), "left_anti")))
    val (sPurged, tPurgeHalf) = timed(sig(
      postings.join(broadcast(stale), Seq("doc_id"), "left_anti")))
    assert(sPurged == sPurgedU, "hinted/unhinted purge halves differ")
    val (sArr, tArrive) = timed(sig(ext.Extensions.postingsOf(
      snapB.join(broadcast(fresh), Seq("doc_id")))))
    println(f"REFRESHPROBE purge_half unhinted=$tpu%.1fs " +
      f"broadcast=$tPurgeHalf%.1fs")
    statuses.unpersist()
    val refreshedSig = (sPurged._1 + sArr._1, sPurged._2 + sArr._2)
    val tRefresh = tDiff + tPurgeHalf + tArrive
    val (rebuiltSig, tRebuild) = timed(sig(ext.Extensions.postingsOf(snapB)))
    println(f"REFRESHPROBE docs=$nDocs%d stale=$nStale%d fresh=$nFresh%d " +
      f"rows=${refreshedSig._1}%d identical=${refreshedSig == rebuiltSig}%b " +
      f"refresh_wall=$tRefresh%.1fs (diff=$tDiff%.1fs purge=$tPurgeHalf%.1fs " +
      f"arrive=$tArrive%.1fs) rebuild_wall=$tRebuild%.1fs " +
      f"speedup=${tRebuild / tRefresh}%.1fx")

    // ---- second family: the SUBSTR GRAM INDEX, where refresh splits
    // the stored columns (E71b's taxonomy under composition): counts
    // SUBTRACT the stale docs' own gram pass and ADD the fresh one —
    // exact vs a snapshot-B rebuild by monoid arithmetic — while a
    // canonical whose witness doc died TOMBSTONES (the index stores
    // one witness per gram, so the successor is unknowable from the
    // index alone; the next compaction re-derives it). The probe
    // asserts the split exactly: counts identical to the rebuild,
    // non-tombstoned canonicals identical to the rebuild, tombstones
    // only where the snapshot-A canonical was stale, at a scale the
    // registered ext_substr_refresh never reaches.
    val storedG = storedOnce(spark, s"target/tmp-refresh/v3-substrgrams-$nDocs.parquet")(
      ext.Extensions.substringGramIndex(snapA))
    val isStale: Column => Column =
      d => (d < nDocs) && pmod(d, lit(100)).isin(0, 1)
    // the production JOIN-SHAPED fold (substrRefreshFold): subtract
    // the stale docs' gram counts from the stored index, tombstone
    // surviving grams whose stored witness died, then full-outer the
    // fresh docs' grams in (counts add, canonicals min-fold). A
    // one-shuffle union+groupBy(g) variant — the E57 compaction shape
    // — was measured and REJECTED: min(struct) is not
    // hash-aggregatable, so the union fold sort-aggregates the whole
    // stored+delta frame (37.7 s vs this fold's 10.3 s at 2M docs).
    val refreshed = ext.Extensions.substrRefreshFold(storedG,
      snapA.filter(isStale(col("doc_id"))), snapB.join(fresh, Seq("doc_id")),
      isStale)
    // walls time ONLY the fold / rebuild materializations (one sig agg
    // each); the exactness assertions run AFTER, untimed — a first
    // draft timed the exceptAll comparison jobs inside the refresh
    // wall and reported the measurement, not the fold
    val (_, tGRefresh) = timed(sig(refreshed))
    val (_, tGRebuild) = timed(sig(ext.Extensions.substringGramIndex(snapB)))
    val refr = refreshed.cache()
    val rebuilt = ext.Extensions.substringGramIndex(snapB).cache()
    val cntsOk = refr.select("g", "cnt")
      .exceptAll(rebuilt.select("g", "cnt")).count() == 0 &&
      rebuilt.select("g", "cnt")
        .exceptAll(refr.select("g", "cnt")).count() == 0
    val canonOk = refr.filter(!col("tombstoned"))
      .select(col("g"), col("cdoc"), col("cpos"))
      .exceptAll(rebuilt.select(col("g"), col("cdoc"), col("cpos")))
      .count() == 0
    // every tombstone's stored witness was stale — asserted against
    // the ORIGINAL index (the fold's own column is not the evidence)
    val tombOk = refr.filter(col("tombstoned")).select("g")
      .join(storedG.filter(!isStale(col("cdoc"))).select("g"),
        Seq("g"), "left_semi").count() == 0
    val nG = refr.count()
    val nTomb = refr.filter(col("tombstoned")).count()
    refr.unpersist(); rebuilt.unpersist()
    println(f"REFRESHPROBE substr grams=$nG%d tombstoned=$nTomb%d " +
      f"counts_exact=$cntsOk%b canon_exact_nontomb=$canonOk%b " +
      f"tomb_only_stale_witness=$tombOk%b refresh_wall=$tGRefresh%.1fs " +
      f"rebuild_wall=$tGRebuild%.1fs speedup=${tGRebuild / tGRefresh}%.1fx")
  }

  /** LEAKPROBE: the leak-proof split's serve path at a volume the
    * driver SFs never reach, with PLANTED cross-split near-dup
    * families. Generates nDocs docs (1% in 5-member near-dup families
    * — 41-token texts sharing a 40-token family template, the
    * boilerplate shape; 99% singletons with unique templates), lands
    * them as a documents.parquet dir, then drives the REGISTERED
    * ext_split_leakproof end to end: the first call pays the dedup
    * pass's own one-time cc-cache build (reported as index_build —
    * the artifact cost a deployment already paid), the second call
    * times the SERVE (stored cc-cache join to the rep-bucket
    * projection — the per-consumer cost). Asserts at volume what
    * RefreshSpec asserts at sf0.001: ZERO minhash pairs straddle
    * splits, singletons equal ext_split_assign exactly, and the
    * planted path actually fired (some family member crossed splits —
    * printed, per the probe-honesty rule: a probe that cannot show
    * its planted path fired measures nothing). */
  private def leakproofProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 2000000L)
    val nFam = nDocs / 500 // 1% of docs live in 5-member families
    val dir = s"target/tmp-leakproof/v1-$nDocs"
    // family id for the planted 1%; singletons get a disjoint id space
    // so every template is family-unique (500k-token hash vocabulary —
    // large enough that unrelated shingle sets do not band-collide, per
    // the default probe's generator note)
    val fam = when(col("id") < nFam * 5, floor(col("id") / 5))
      .otherwise(col("id") + lit(1000000000L))
    writeOnce(s"$dir/documents.parquet")(spark.range(nDocs).select(
      col("id").as("doc_id"),
      templateText(fam, col("id"))((f, w) =>
        concat(lit("t"), pmod(hash(f, lit(w)), lit(500000)))).as("text")))
    // first call: pays the one-time dedup-pass artifacts (minhash
    // pairs + connected components → stored cc-cache fixture)
    val (_, tBuild) = timed(
      ext.Extensions.splitLeakproof.fn(spark, dir).count())
    // second call: the SERVE (stored cc-cache join + rep-bucket scan)
    val (nAssigned, tServe) = timed(
      ext.Extensions.splitLeakproof.fn(spark, dir).count())
    val assign = ext.Extensions.splitLeakproof.fn(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("split"))
    val own = ext.Extensions.splitTrainTest.fn(spark, dir)
      .select(col("doc_id"), col("split").as("own_split"))
    val joined = assign.join(own, Seq("doc_id")).cache()
    // zero straddling pairs — the invariant the operator exists for,
    // checked over EVERY minhash pair at volume
    val pairs = ext.Extensions.minhashPairs(spark, dir).select("id_a", "id_b")
    val sa = joined.select(col("doc_id").as("id_a"), col("split").as("s_a"))
    val sb = joined.select(col("doc_id").as("id_b"), col("split").as("s_b"))
    val straddles = pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .filter(col("s_a") =!= col("s_b")).count()
    // planted path fired: reassigned docs exist (a family member whose
    // own bucket crossed its representative's split)
    val reassigned = joined.filter(col("split") =!= col("own_split")).count()
    // singleton identity: clusters of size 1 must BE ext_split_assign
    val sizes = joined.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
    val singletonDrift = joined.join(sizes, Seq("cluster_id"))
      .filter(col("csz") === 1 && col("split") =!= col("own_split")).count()
    joined.unpersist()
    println(f"LEAKPROBE docs=$nDocs%d assigned=$nAssigned%d " +
      f"straddling_pairs=$straddles%d reassigned=$reassigned%d " +
      f"singleton_drift=$singletonDrift%d index_build=$tBuild%.1fs " +
      f"serve=$tServe%.1fs")
    assert(straddles == 0, s"straddling pairs at volume: $straddles")
    assert(reassigned > 0, "planted cross-split families did not fire")
    assert(singletonDrift == 0, s"singleton drift: $singletonDrift")
  }

  /** `labelrefresh` mode (round 14): the cluster-label refresh volume
    * probe — the E76g fused deletion+insertion fold at millions of
    * docs, the volume evidence the other refresh families carry
    * (REFRESHPROBE / VECREFRESHPROBE). Corpus = the default probe's
    * planted-family generator ([[familyDocs]]: per-family hashed
    * templates, one varying token per copy) so the component graph is
    * bounded and known; churn is doc_id arithmetic: ~0.5% removed,
    * ~0.5% revised (both halves of the diff), ~0.5% added. Reports:
    *  - the one-time stored-artifact build wall (sigs + pairs +
    *    labels — the previous crawl's dedup run, the cost the refresh
    *    must NOT re-pay);
    *  - the refresh wall (O(delta) fresh shingle + index probe + one
    *    O(affected) CC) vs the full snapshot-B rebuild wall, with the
    *    affected-component fraction printed — the claim under test is
    *    that the fold's wall tracks the CHURN, not the corpus;
    *  - exactness: refreshed labels row-identical to the rebuild
    *    (EXCEPT both ways), the E76g registered gate at volume. */
  private def labelRefreshProbe(spark: SparkSession, args: Array[String]): Unit = {
    val nDocs = size(args, 1000000L)
    val copies = 10 // docs per planted family: bounded components
    val nFamilies = (nDocs / copies).toInt
    // HIGH-ENTROPY tokens (base-36 of hash(family, position)), NOT the
    // default probe's 500-token vocabulary: the banding shingles are
    // CHAR n-grams, so low-entropy token shapes (shared "tok…x" affixes)
    // put globally-common grams in every doc, band buckets go hot at
    // ~1M docs, and the star cap's anchor topology becomes
    // POPULATION-dependent — stored-A pairs and rebuilt-B pairs then
    // legitimately diverge (the documented cap caveat every banded
    // verb carries, "settled by the next full dedup run"; measured
    // here: 97.7k label mismatches at 1M docs with a 500-token vocab,
    // 238 with 20k "tok<k>x" tokens, 0 with these). The refresh's
    // EXACTNESS claim is the cap-headroom regime — the same regime
    // the oracle hash-matches certify at driver SFs — so the probe
    // plants a corpus that stays in it at any n. Tokens are
    // SYNTHESIZED per row (a 20k-element typedLit repeated across 40
    // word expressions serializes per task and breaks executor
    // deserialization)
    def docsOf(ids: DataFrame) = familyDocs(ids, nFamilies) { (family, w) =>
      conv(pmod(hash(family, lit(w)), lit(2147483647)).cast("string"), 10, 36)
    }.select("doc_id", "text")
    // snapshot A: ids [0, nDocs); churn by id arithmetic
    val docsA = docsOf(spark.range(nDocs).toDF("id")).cache(); docsA.count()
    val removed = col("doc_id") % 199 === 0
    val revised = col("doc_id") % 211 === 0
    val docsB = docsA.filter(!removed)
      .select(col("doc_id"), when(revised,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")).as("text"))
      .unionByName(docsOf(
        spark.range(nDocs, nDocs + nDocs / 200).toDF("id")))
      .cache()
    val nB = docsB.count()
    // stored snapshot-A artifacts (the previous crawl's dedup run),
    // persisted like the fixtures — build wall reported once
    val dir = s"target/tmp-labelrefresh/$nDocs"
    val (_, tIndex) = timed {
      if (!new File(s"$dir/labels.parquet").exists()) {
        ext.Extensions.minhashSignatures(docsA)
          .write.mode("overwrite").parquet(s"$dir/sigs.parquet")
        val sigsA0 = spark.read.parquet(s"$dir/sigs.parquet")
        ext.Extensions.sigPairs(sigsA0).select("id_a", "id_b")
          .write.mode("overwrite").parquet(s"$dir/pairs.parquet")
        ops.Graph.connectedComponents(
            spark.read.parquet(s"$dir/pairs.parquet"),
            docsA.select(col("doc_id").as("id")))
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
          .write.mode("overwrite").parquet(s"$dir/labels.parquet")
      }
    }
    val sigsA = spark.read.parquet(s"$dir/sigs.parquet")
    val pairsA = spark.read.parquet(s"$dir/pairs.parquet")
    val labelsA = spark.read.parquet(s"$dir/labels.parquet")
    // warm the stored artifacts' page cache (REFRESHPROBE rule: the
    // probe measures strategy cost, not cold I/O)
    sigsA.count(); pairsA.count(); labelsA.count()
    // REFRESH: the E76g fold verbatim over the planted diff
    val ((refreshed, nAffected, nClusters), tRefresh) = timed {
      val stale = docsA.filter(removed || revised).select("doc_id")
      val freshDocs = docsB
        .join(docsA.filter(revised).select("doc_id")
            .unionByName(docsB.select("doc_id")
              .join(docsA.select("doc_id"), Seq("doc_id"), "left_anti")),
          Seq("doc_id"))
      val (freshSigs, fPairs) =
        ext.Extensions.mhFreshPairs(sigsA, stale, freshDocs)
      val out = ext.Extensions.refreshClusterLabels(labelsA, "doc_id",
        stale, freshSigs.select("doc_id"), fPairs,
        ext.Extensions.storedSurvivorGraph(pairsA, "doc_id"))
        .localCheckpoint()
      val nOut = out.count()
      assert(nOut == nB, s"refreshed label count $nOut != |B| $nB")
      // affected fraction: the fold's own collect re-derived for the
      // report (labelsA components touched by stale or fresh edges)
      val touchers = docsA.filter(removed || revised).select("doc_id")
        .unionByName(fPairs.select(col("id_a").as("doc_id")))
        .unionByName(fPairs.select(col("id_b").as("doc_id")))
      val nAff = labelsA.join(touchers, Seq("doc_id"), "left_semi")
        .select("cluster_id").distinct().count()
      val nCl = labelsA.select("cluster_id").distinct().count()
      (out, nAff, nCl)
    }
    // the cost the refresh avoids: full snapshot-B pair gen + CC
    val (rebuilt, tRebuild) = timed {
      val l = ops.Graph.connectedComponents(
          ext.Extensions.minhashPairsFrom(docsB).select("id_a", "id_b"),
          docsB.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        .localCheckpoint()
      l.count(); l
    }
    val mismatch = refreshed.exceptAll(rebuilt).count() +
      rebuilt.exceptAll(refreshed).count()
    println(f"LABELREFRESHPROBE n=$nDocs%d nB=$nB%d " +
      f"affected=$nAffected%d/$nClusters%d clusters " +
      f"refresh_wall=$tRefresh%.1fs rebuild_wall=$tRebuild%.1fs " +
      f"speedup=${tRebuild / math.max(tRefresh, 0.001)}%.1fx " +
      f"index_build=$tIndex%.1fs mismatch=$mismatch%d")
    assert(mismatch == 0, "refreshed labels != from-scratch snapshot-B rebuild")
  }

  // ---------------------------------------------------------------------
  // The table
  // ---------------------------------------------------------------------

  /** The default probe: selected by no arguments or a numeric first
    * argument, never by its name. */
  private val minhash = Probe("minhash",
    "[nFamilies] [copies] [bandBucketCap]   (minhash: the default, no mode name)",
    minhashProbe)

  private val named: Seq[Probe] = Seq(
    Probe("skew", "skew [spokes] [hotDegree]", skewProbe, Aqe),
    Probe("skewsweep", "skewsweep [spokes] [partitions,...]", skewSweep, Aqe),
    Probe("semantic", "semantic [nVecs]", semanticProbe),
    Probe("semlife", "semlife [nVecs]", semLifeProbe),
    Probe("bm25", "bm25 [nDocs]", bm25Probe),
    Probe("bloom", "bloom [nTrainDocs]", bloomProbe),
    Probe("winnow", "winnow [nDocs]", winnowProbe),
    Probe("pagerank", "pagerank [nNodes]", pagerankProbe),
    Probe("prwarm", "prwarm [nNodes] [tolDiv] [driftMod]", prWarmProbe),
    Probe("capcycle", "capcycle [nVecs] [cycles]", capCycleProbe),
    Probe("pq", "pq [nVecs]", pqProbe),
    Probe("pqinc", "pqinc [nVecs]", pqIncProbe),
    Probe("compact", "compact [nVecs] [nCells]", compactProbe, SmallSplits),
    Probe("ivfpq", "ivfpq [nVecs] [nCells|auto] [nProbe]", ivfpqProbe, SmallSplits),
    Probe("imi", "imi [nVecs] [kPerHalf|auto] [nProbe|auto] [probeA] [noflat]",
      imiProbe, SmallSplits),
    Probe("filtered", "filtered [nVecs] [nCells|auto] [nProbe]", filteredProbe,
      SmallSplits),
    Probe("vecrefresh", "vecrefresh [nVecs]", vecRefreshProbe),
    Probe("lexinc", "lexinc [nDocs]", lexIncProbe),
    Probe("lexcompact", "lexcompact [nDocs]", lexCompactProbe, SmallSplits),
    // A/B knob for the arrival's stored-count read: AQE's runtime bloom
    // filter can inject a row-level filter from the batch's gram set
    // onto the 67M-row index scan (SPARK_GRAFT_BLOOM=true)
    Probe("substr", "substr [nDocs]", substrProbe, SmallSplits ++ Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        sys.env.getOrElse("SPARK_GRAFT_BLOOM", "false"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")),
    Probe("cms", "cms [nDocs]", cmsProbe, SmallSplits),
    Probe("mixture", "mixture [nDocs]", mixtureProbe,
      Seq("spark.sql.files.maxPartitionBytes" -> "4m")),
    Probe("purge", "purge [nDocs] [nShards] [nPurge]", purgeProbe),
    Probe("refresh", "refresh [nDocs]", refreshProbe),
    Probe("leakproof", "leakproof [nDocs]", leakproofProbe),
    Probe("labelrefresh", "labelrefresh [nDocs]", labelRefreshProbe))

  /** Every probe: the default one first. */
  val probes: Seq[Probe] = minhash +: named

  val usage: String = probes.map(p => s"  runMain graft.ScaleProbe ${p.usage}")
    .mkString("Usage:\n", "\n", "")

  /** The probe `args` names: the default one for no arguments or a
    * numeric first argument, else the mode named by `args(0)`. */
  def select(args: Array[String]): Option[Probe] = args.headOption match {
    case None => Some(minhash)
    case Some(a) if a.toIntOption.isDefined => Some(minhash)
    case Some(a) => named.find(_.name == a)
  }

  /** Runs the selected probe on its own session; an unknown mode prints
    * [[usage]] to stderr and returns 2. */
  def run(args: Array[String]): Int = select(args) match {
    case None =>
      Console.err.println(usage)
      2
    case Some(p) =>
      val spark = Dev.local(cpus, "WARN", p.confs: _*)
      try p.body(spark, args) finally spark.stop()
      0
  }

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }
}
