package graft

import org.apache.spark.sql.functions._
import graft.ext.Extensions

/** E71-E74: the takedown (purge) lifecycle verb, the snapshot diff
  * that produces arrival/purge batches, the Gopher rule set, and the
  * pack report. The oracle hash-matches prove cross-engine parity;
  * these tests pin the semantics the hashes can't — purge equality to
  * a rebuilt-from-filtered artifact, the pass-through path at a shard
  * count where it carries rows, and each Gopher bound flipping on its
  * planted violator. */
class PurgeSpec extends SparkSpec {

  test("bm25 purge: purged stored index reproduces the filtered-corpus search exactly") {
    val purgedIds = model.Tables.documents(spark, sf0001)
      .filter(pmod(graft.expr.Scalars.hash60(col("doc_id").cast("string")),
        lit(100L)) >= Extensions.PurgeBucketFrom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(purgedIds.nonEmpty, "purge set empty — the verb is unexercised")
    try {
      val got = Extensions.bm25Purge.fn(spark, sf0001).collect()
        .map(_.toSeq).toSeq
      // zero purged docs can rank: the postings anti-join removes them
      // from the only candidate source
      got.foreach(r => assert(!purgedIds(r(1).asInstanceOf[Long]),
        s"purged doc ranked: $r"))
      // the purged index == a from-scratch build over the filtered
      // corpus (BM25 derives n_docs/avgdl/df from the postings, so
      // this pins the stats, the scores, and the ranks)
      val twin = Extensions.bm25From(
        model.Tables.documents(spark, sf0001)
          .filter(pmod(graft.expr.Scalars.hash60(col("doc_id").cast("string")),
            lit(100L)) < Extensions.PurgeBucketFrom))
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(got == twin, "purged-index search != filtered-corpus rebuild")
    } finally Extensions.releaseCaches()
  }

  test("ivfpq purge: no purged id can appear; equals the filtered build under the same frozen models") {
    val sf = sf0001
    val purged = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
        lit(100L)) >= Extensions.PurgeBucketFrom)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(purged.nonEmpty, "purge set empty — the verb is unexercised")
    try {
      val got = Extensions.ivfpqPurge.fn(spark, sf).collect()
        .map(_.toSeq).toSeq
      got.foreach(r => assert(!purged(r(1).asInstanceOf[Long]),
        s"purged vector returned as a neighbor: $r"))
      // from-scratch twin: SAME frozen models, code table rebuilt over
      // the filtered corpus (at driver SFs the hot-cell cap has
      // headroom, so the anti-join and the rebuild keep identical
      // rows; at a bound cap the compaction cadence re-resolves — the
      // documented E71 semantics)
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val src = Some(s"$sf/embeddings.parquet")
      val cbs = Extensions.pqCodebooks(emb, codebookSrc = src)
      val cs = Extensions.ivfCentroids(emb, centroidSrc = src)
      val filtered = emb.filter(
        !col("vec_id").isin(purged.toSeq.map(Long.box): _*))
      val codes = Extensions.ivfpqCellCodes(filtered, cbs, cs, None)
      val twin = Extensions.ivfpqTopK(emb, Extensions.annQueryIds(emb),
        src = src, codes0 = Some(codes), cbs0 = Some(cbs), cs0 = Some(cs))
        .collect().map(_.toSeq).toSeq
      assert(got == twin, "purged-index search != filtered-corpus rebuild")
    } finally Extensions.releaseCaches()
  }

  test("lsh purge: no purged id can appear; equals the filtered build under the same frozen hyperplanes") {
    val sf = sf0001
    val purged = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
        lit(100L)) >= Extensions.PurgeBucketFrom)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(purged.nonEmpty, "purge set empty — the verb is unexercised")
    try {
      val got = Extensions.lshPurge.fn(spark, sf).collect()
        .map(_.toSeq).toSeq
      got.foreach(r => assert(!purged(r(1).asInstanceOf[Long]),
        s"purged vector returned as a neighbor: $r"))
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // cap headroom asserted, not assumed: the equality gate below is
      // only exact when no bucket sits at the cap (the documented E71
      // cap semantics — under a binding cap the next compaction
      // re-resolves)
      val maxBucket = Extensions.lshStoredBuckets(emb, 3, 6, 256, None)
        .groupBy("c_bucket").count().agg(max(col("count"))).first().getLong(0)
      assert(maxBucket < 256,
        s"bucket cap binds at driver SF ($maxBucket) — equality gate invalid")
      val filtered = emb.filter(
        !col("vec_id").isin(purged.toSeq.map(Long.box): _*))
      val twin = Extensions.annTopK(emb, Extensions.annQueryIds(emb),
        buckets0 = Some(Extensions.lshBucketRows(filtered, Some(256), 3, 6)))
        .collect().map(_.toSeq).toSeq
      assert(got == twin, "purged-index search != filtered-corpus rebuild")
    } finally Extensions.releaseCaches()
  }

  test("imipq purge: no purged id can appear; equals the filtered build under the same frozen models") {
    val sf = sf0001
    val purged = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
        lit(100L)) >= Extensions.PurgeBucketFrom)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(purged.nonEmpty, "purge set empty — the verb is unexercised")
    try {
      val got = Extensions.imipqPurge.fn(spark, sf).collect()
        .map(_.toSeq).toSeq
      got.foreach(r => assert(!purged(r(1).asInstanceOf[Long]),
        s"purged vector returned as a neighbor: $r"))
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val src = Some(s"$sf/embeddings.parquet")
      val cbs = Extensions.pqCodebooks(emb, codebookSrc = src)
      val cs0 = Extensions.imiCentroids(emb, 0, Extensions.ImiK, src)
      val cs1 = Extensions.imiCentroids(emb, 1, Extensions.ImiK, src)
      val filtered = emb.filter(
        !col("vec_id").isin(purged.toSeq.map(Long.box): _*))
      val codes = Extensions.imipqCellCodes(filtered, cbs, cs0, cs1, None)
      val twin = Extensions.imipqTopK(emb, Extensions.annQueryIds(emb),
        src = src, codes0 = Some(codes), cbs0 = Some(cbs),
        csH0 = Some(cs0), csH1 = Some(cs1))
        .collect().map(_.toSeq).toSeq
      assert(got == twin, "purged-index search != filtered-corpus rebuild")
    } finally Extensions.releaseCaches()
  }

  test("ivfpqr purge: no purged id can appear; equals the filtered residual build under the same frozen models") {
    val sf = sf0001
    val purged = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
        lit(100L)) >= Extensions.PurgeBucketFrom)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(purged.nonEmpty, "purge set empty — the verb is unexercised")
    try {
      val got = Extensions.ivfpqrPurge.fn(spark, sf).collect()
        .map(_.toSeq).toSeq
      got.foreach(r => assert(!purged(r(1).asInstanceOf[Long]),
        s"purged vector returned as a neighbor: $r"))
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val src = Some(s"$sf/embeddings.parquet")
      val cs = Extensions.ivfCentroids(emb, centroidSrc = src)
      val ms = Extensions.ivfCellMeans(emb, cs, src)
      val cbs = Extensions.pqrCodebooks(emb, cs, ms, src)
      val filtered = emb.filter(
        !col("vec_id").isin(purged.toSeq.map(Long.box): _*))
      val codes = Extensions.ivfpqrCellCodes(filtered, cbs, cs, ms, None)
      val twin = Extensions.ivfpqrTopK(emb, Extensions.annQueryIds(emb),
        src = src, codes0 = Some(codes), cbs0 = Some(cbs),
        cs0 = Some(cs), ms0 = Some(ms))
        .collect().map(_.toSeq).toSeq
      assert(got == twin, "purged-index search != filtered-corpus rebuild")
    } finally Extensions.releaseCaches()
  }

  test("semantic purge: no purged id survives; untouched clusters pass through verbatim") {
    val purged = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
        lit(100L)) >= Extensions.PurgeBucketFrom)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(purged.nonEmpty, "purge set empty — the verb is unexercised")
    try {
      val out = Extensions.semanticPurge.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.keySet.intersect(purged).isEmpty,
        "purged vectors still carry labels")
      assert(!out.values.exists(purged),
        "a purged vector survives as a cluster representative")
      // untouched components' labels are the stored cc-cache rows
      // verbatim (the O(affected) contract — the hash gate proves
      // equality to the filtered rebuild, this pins the SERVE path)
      val full = Extensions.semanticComponentLabels(spark, sf0001).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val affected = full.collect {
        case (id, cid) if purged(id) => cid }.toSet
      full.foreach { case (id, cid) =>
        if (!purged(id) && !affected(cid))
          assert(out(id) == cid,
            s"untouched vector $id relabeled: ${out(id)} != $cid")
      }
      assert(affected.nonEmpty,
        "no component contains a purged vector — the re-cluster path " +
          "is unexercised")
    } finally Extensions.releaseCaches()
  }

  test("semantic incremental: statuses equal the cross-split restriction of the monolithic pair set") {
    try {
      val got = Extensions.semanticIncremental.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def bucket(id: Long): Long = h60(id.toString) % 100
      // twin: the monolithic semantic pairs (cap headroom asserted by
      // the family's bucket-density gate), restricted to pairs that
      // straddle the 90-bucket corpus/batch boundary
      val pairs = Extensions.dedupSemantic.fn(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val nearTwin = pairs.flatMap { case (a, b) =>
        Seq(a, b).filter(id => bucket(id) >= 90 &&
          Seq(a, b).exists(o => o != id && bucket(o) < 90))
      }.toSet
      assert(got.keySet == got.keySet.filter(id => bucket(id) >= 90),
        "arrival emitted a non-batch vector")
      val gotNear = got.collect { case (id, "near_dup") => id }.toSet
      assert(gotNear == nearTwin,
        s"arrival near-dups != cross-split restriction of the " +
          s"monolithic pairs: ${gotNear.diff(nearTwin)} / ${nearTwin.diff(gotNear)}")
      assert(gotNear.nonEmpty,
        "no cross-split semantic near-dup at sf0.001 — the adoption " +
          "path is unexercised")
      assert(got.values.exists(_ == "new"), "the new path is unexercised")
    } finally Extensions.releaseCaches()
  }

  test("shard purge: untouched shards pass through verbatim; receipt equals rebuilt-from-filtered; store rewrite touches only affected dirs") {
    import spark.implicits._
    // 64 shards, 2 purged docs: the pass-through path carries ≥ 62
    // rows (at the registered ShardCount=8 a spread purge touches
    // every shard and only the recompute path runs)
    val n = 64
    val docs = (1L to 200L)
      .map(i => (i, s"purge receipt doc $i body", 20L + i % 7))
      .toDF("doc_id", "text", "n_chars")
    val h = graft.expr.Scalars.hash60(col("text"))
    val idx = docs.select(col("doc_id"), h.as("hh"), col("n_chars"),
      pmod(h, lit(n.toLong)).cast("int").as("shard"))
    val stored = Extensions.manifestAggOf(
      idx.select("shard", "hh", "n_chars"))
    val purge = idx.filter(col("doc_id").isin(3L, 77L))
    val affected = purge.select("shard").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(affected.nonEmpty && affected.size <= 2)
    val out = Extensions.shardManifestFold(stored, idx,
        purge.select("doc_id"), purge, purge.limit(0))
      .collect()
    // equality to the monolithic receipt over the filtered rows —
    // min/max included, the columns subtraction cannot maintain
    val twin = Extensions.manifestAggOf(
      idx.filter(!col("doc_id").isin(3L, 77L))
        .select("shard", "hh", "n_chars")).orderBy("shard").collect()
    assert(out.map(_.toSeq).toSeq == twin.map(_.toSeq).toSeq,
      "purged receipt != rebuilt-from-filtered receipt")
    // pass-through rows are the STORED rows verbatim, not recomputes
    val storedRows = stored.collect().map(r => r.getInt(0) -> r.toSeq).toMap
    val passedThrough = out.filter(r => !affected(r.getInt(0)))
    // every occupied-and-unaffected shard passes through (some of the
    // 64 shards hold no docs at 200 rows — they have no receipt row on
    // either side)
    assert(passedThrough.length == storedRows.size - affected.size &&
      passedThrough.length >= 50)
    passedThrough.foreach(r =>
      assert(storedRows(r.getInt(0)) == r.toSeq,
        s"untouched shard ${r.getInt(0)} row diverges from the stored receipt"))

    // physical store purge: only affected shard dirs are rewritten,
    // and the purged store == a monolithic write over the filtered docs
    val plain = docs.select("doc_id", "text")
    val storeDir = java.nio.file.Files.createTempDirectory("pstore").toString
    val monoDir = java.nio.file.Files.createTempDirectory("pmono").toString
    Extensions.writeShards(plain, storeDir)
    val before = (0 until Extensions.ShardCount).flatMap { s =>
      val d = new java.io.File(s"$storeDir/shard=$s")
      if (!d.exists()) None
      else Some(s -> d.listFiles().map(f => f.getName -> f.lastModified()).toMap)
    }.toMap
    // the takedown rows name their own shard from their content (the
    // stateless contract — no store read)
    val purgedDocsDf = plain.filter(col("doc_id").isin(3L, 77L))
      .select(col("doc_id"),
        pmod(graft.expr.Scalars.hash60(col("text")),
          lit(Extensions.ShardCount.toLong)).cast("int").as("shard"))
    val affected8 = purgedDocsDf.select("shard").collect()
      .map(_.getInt(0)).toSet
    Extensions.purgeShardStore(spark, storeDir, purgedDocsDf)
    Extensions.writeShards(plain.filter(!col("doc_id").isin(3L, 77L)), monoDir)
    def shardSeqs(dir: String): Map[Int, Seq[(Long, Long)]] =
      (0 until Extensions.ShardCount).flatMap { s =>
        val p = new java.io.File(s"$dir/shard=$s")
        if (!p.exists()) None
        else Some(s -> spark.read.parquet(p.toString)
          .select("doc_id", "content_hash").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq)
      }.toMap
    assert(shardSeqs(storeDir) == shardSeqs(monoDir),
      "purged store diverges from the monolithic filtered write")
    before.filterNot { case (s, _) => affected8(s) }.foreach { case (s, files) =>
      val now = new java.io.File(s"$storeDir/shard=$s").listFiles()
        .map(f => f.getName -> f.lastModified()).toMap
      assert(now == files, s"untouched shard dir $s was rewritten")
    }
    Seq(storeDir, monoDir).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("substr purge: counts exactly the filtered rebuild; tombstones exactly the purged-canonical grams; surviving canonicals still valid") {
    val purgedIds = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(pmod(graft.expr.Scalars.hash60(col("doc_id").cast("string")),
        lit(100L)) >= Extensions.PurgeBucketFrom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(purgedIds.nonEmpty)
    try {
      val out = Extensions.substrPurge.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select("doc_id", "text")
      val survivors = docs.filter(
        !col("doc_id").isin(purgedIds.toSeq.map(Long.box): _*))
      // counts: the purged index == the filtered rebuild, gram for gram
      val rebuilt = Extensions.substringGramIndex(survivors).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out.keySet == rebuilt.keySet,
        "purged index gram set != filtered rebuild gram set")
      out.foreach { case (g, (cnt, _)) =>
        assert(cnt == rebuilt(g)._1, s"gram $g count $cnt != rebuild ${rebuilt(g)._1}")
      }
      // tombstones: exactly the grams whose FULL-corpus canonical doc
      // was purged — stats stay exact, the keep-one rewrite must wait
      // for compaction on these
      val fullCanon = Extensions.substringGramIndex(docs).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      out.foreach { case (g, (_, tomb)) =>
        assert(tomb == purgedIds(fullCanon(g)),
          s"gram $g tombstone flag diverges from its canonical's purged-ness")
      }
      assert(out.values.exists(!_._2),
        "surviving canonicals must be exercised")
      // a NON-tombstoned canonical is still the filtered rebuild's
      // canonical (the min of a subset that kept its min)
      out.filter(!_._2._2).keys.take(500).foreach { g =>
        assert(fullCanon(g) == rebuilt(g)._2,
          s"surviving canonical for gram $g diverges from the rebuild")
      }
    } finally Extensions.releaseCaches()
  }

  test("substr purge: planted tombstone — a purged canonical leaves its surviving gram tombstoned") {
    import spark.implicits._
    // docs 1 and 2 share one 20-token text (one gram, cnt 2, canonical
    // doc 1); doc 3 is unique. Purging doc 1 must leave the shared
    // gram cnt 1 TOMBSTONED (its stored canonical died — the rewrite
    // must wait for compaction) and doc 3's gram untouched. The
    // registered corpus only exercises this path at sf0.1 (202 grams);
    // this pins it at any scale.
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val unique = (1 to 20).map(i => s"uniq$i").mkString(" ")
    val docs = Seq((1L, shared), (2L, shared), (3L, unique))
      .toDF("doc_id", "text")
    val stored = Extensions.substringGramIndex(docs)
    val purged = docs.filter(col("doc_id") === 1L)
    val out = Extensions.substrRefreshFold(stored, purged, purged.limit(0),
        d => d === 1L)
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    assert(out.toSet == Set((1L, true), (1L, false)),
      s"want one tombstoned and one clean surviving gram, got ${out.toSeq}")
  }

  test("clusters purge: purging the bridge splits its component, relabels the min-id, passes untouched clusters through") {
    import spark.implicits._
    // frozen chain, found by deterministic search over the library's
    // own minhash pipeline: A~B and B~C band-collide with est ≥ 0.5
    // (B concatenates A and C, both sharing a 12-word core), while A
    // and C never become banded candidates — B is the bridge, and it
    // is ALSO the component's doc-id-wise middle so the split
    // exercises the min-id relabel on the C side
    val core = (0 until 12).map(i => s"core6w$i").mkString(" ")
    val a = core + " " + (0 until 5).map(i => s"alpha6x$i").mkString(" ")
    val c = core + " " + (0 until 5).map(i => s"gamma6y$i").mkString(" ")
    val b = a + " " + c
    val docs = Seq((10L, a), (20L, b), (30L, c),
      (40L, "an unrelated quiet document about nothing at all"),
      (41L, "an unrelated quiet document about nothing at all"))
      .toDF("doc_id", "text")
    try {
      val sigs = Extensions.minhashSignatures(docs)
      val pairs = Extensions.minhashPairsFrom(docs).select("id_a", "id_b")
      val labels = graft.ops.Graph.connectedComponents(pairs,
          docs.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      val pre = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(pre == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
        40L -> 40L, 41L -> 40L),
        s"planted chain did not cluster as designed: $pre")
      val out = Extensions.purgeClusterLabels(labels, "doc_id",
          Seq(20L).toDF("doc_id"), Extensions.mhSurvivorGraph(sigs))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(out.toSet == Set((10L, 10L, true), (30L, 30L, true),
        (40L, 40L, true), (41L, 40L, false)),
        s"expected the {10,20,30} component to split and {40,41} to pass through: ${out.toSeq}")
    } finally Extensions.releaseCaches()
  }

  test("empty takedown: stored cluster labels (both families) and the stored shard receipt come back verbatim, no re-cluster") {
    import spark.implicits._
    // the refresh folds' no-affected guard: nothing leaves, nothing
    // arrives — the stored artifact IS the answer, and a survivor-pair
    // derivation (the re-cluster's input) must never be asked for
    val noRecluster: org.apache.spark.sql.DataFrame =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
      _ => fail("survivor subgraph derived for an empty takedown")
    try {
      for ((labels, idCol) <- Seq(
          (Extensions.minhashComponentLabels(spark, sf0001), "doc_id"),
          (Extensions.semanticComponentLabels(spark, sf0001), "vec_id"))) {
        val out = Extensions.purgeClusterLabels(labels, idCol,
            Seq.empty[Long].toDF(idCol), noRecluster)
          .collect().map(_.toSeq).toSeq
        val stored = labels.select(col(idCol), col("cluster_id"),
            (col(idCol) === col("cluster_id")).as("keep"))
          .orderBy(idCol).collect().map(_.toSeq).toSeq
        assert(out.nonEmpty && out == stored,
          s"$idCol: empty takedown changed the stored labels")
      }
      val docs = (1L to 50L).map(i => (i, s"empty takedown doc $i"))
        .toDF("doc_id", "text")
      val h = graft.expr.Scalars.hash60(col("text"))
      val idx = docs.select(col("doc_id"), h.as("hh"),
        length(col("text")).cast("long").as("n_chars"),
        pmod(h, lit(16L)).cast("int").as("shard"))
      val stored = Extensions.manifestAggOf(
        idx.select("shard", "hh", "n_chars")).orderBy("shard")
      val none = idx.limit(0)
      val out = Extensions.shardManifestFold(stored, idx,
        none.select("doc_id"), none, none).collect().map(_.toSeq).toSeq
      assert(out.nonEmpty && out == stored.collect().map(_.toSeq).toSeq,
        "empty takedown changed the stored shard receipt")
      // the postings and gram bindings' purge step: nothing leaves,
      // nothing arrives, no witness is stale — each stored table comes
      // back verbatim and no gram is tombstoned
      val noDocs = docs.limit(0)
      val takedown = Extensions.DocDelta(noDocs.select("doc_id"), noDocs,
        _ => lit(false), noDocs)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val postings = Extensions.postingsOf(docs)
      val postingsOut =
        rows(Extensions.PostingsIndex.refresh(postings, takedown))
      assert(postingsOut.nonEmpty && postingsOut == rows(postings),
        "empty takedown changed the stored postings")
      val grams = Extensions.substringGramIndex(docs)
      val gramsOut = Extensions.GramIndex.refresh(grams, takedown)
      assert(gramsOut.filter(col("tombstoned")).isEmpty,
        "empty takedown tombstoned a gram")
      assert(rows(gramsOut.drop("tombstoned")) == rows(grams),
        "empty takedown changed the stored gram index")
    } finally Extensions.releaseCaches()
  }

  test("hard negatives: indexed path leaks no same-label rows and clears the recall floor vs the exact miner") {
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val labelOf = spark.read.parquet(s"$sf/embeddings.parquet")
        .select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val exact = Extensions.hardNegatives.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      val got = Extensions.hardNegativesIvfpq.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      try {
        // a hard negative with the QUERY'S label is a positive — wrong,
        // not approximate
        got.foreach { case (q, c) =>
          assert(labelOf(c) != labelOf(q),
            s"same-label row: query $q (label ${labelOf(q)}) got $c")
        }
        val exactSet = exact.toSet
        val byQ = exact.groupBy(_._1)
        val recalls = byQ.map { case (q, rows) =>
          got.count(r => r._1 == q && exactSet((q, r._2))).toDouble / rows.length
        }
        val recall = recalls.sum / recalls.size
        info(f"hard-negative indexed recall@10 at $sf: $recall%.4f")
        assert(recall >= 0.40,
          f"indexed hard-negative recall $recall%.4f below floor 0.40")
      } finally Extensions.releaseCaches()
    }
  }

  test("snapshot diff: all four statuses, each exactly the predicate-derived set") {
    val got = Extensions.snapshotDiff.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ids = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    // in-memory twin of the snapshot derivation
    val expected = ids.map { id =>
      val b = h60(id.toString) % 100
      val status =
        if (b < Extensions.SnapBFrom) "removed"
        else if (b >= Extensions.SnapABelow) "added"
        else if (b % Extensions.SnapRevMod == 0) "changed"
        else "unchanged"
      (id, status)
    }
    assert(got.sorted.toSeq == expected.sorted.toSeq)
    val byStatus = got.groupBy(_._2)
    Seq("removed", "added", "changed", "unchanged").foreach(s =>
      assert(byStatus.getOrElse(s, Array.empty).nonEmpty,
        s"status '$s' unexercised at sf0.001 — the diff's planted corpus is broken"))
  }

  test("gopher rules: each bound flips on its planted violator") {
    import spark.implicits._
    val good = Seq.fill(6)("the quick brown fox jumps over and lazy dogs near")
      .mkString(" ")
    val docs = Seq(
      1L -> good,
      2L -> "the cat and dog",                                    // r_words
      3L -> Seq.fill(60)("extraordinarilylong").mkString(" "),    // r_mean_len
      4L -> (Seq.fill(50)("word") ++ Seq.fill(10)("#")).mkString(" "), // r_symbols
      5L -> Seq.fill(10)("- item").mkString("\n"),                // r_bullets
      6L -> "so it goes...\nand more...",                         // r_ellipsis
      7L -> Seq.fill(60)("12345").mkString(" "),                  // r_alpha
      8L -> Seq.fill(60)("zebra").mkString(" ")                   // r_stopwords
    ).toDF("doc_id", "text")
    val out = Extensions.gopherRulesFrom(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flag(id: Long, name: String): Boolean = {
      val r = out(id)
      r.getBoolean(r.fieldIndex(name))
    }
    assert(flag(1L, "keep"), "the clean document must pass every rule")
    assert(!flag(2L, "r_words") && !flag(2L, "keep"))
    assert(!flag(3L, "r_mean_len"))
    assert(!flag(4L, "r_symbols"))
    assert(!flag(5L, "r_bullets"))
    assert(!flag(6L, "r_ellipsis"))
    assert(!flag(7L, "r_alpha"))
    assert(!flag(8L, "r_stopwords"))
  }

  test("pack report: the receipt agrees with the spans layout it reports on") {
    val spans = Extensions.packSpans.fn(spark, sf0001).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(5)))
    try {
      val rep = Extensions.packReport.fn(spark, sf0001).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      spans.groupBy(_._1).foreach { case (lang, rows) =>
        val (nDocs, totalTok, nSeqs, nSpanning, tailWaste) = rep(lang)
        assert(nDocs == rows.length)
        assert(totalTok == rows.map(_._2).sum)
        assert(nSeqs == rows.map(_._4).max + 1,
          s"$lang: n_seqs != max(seq_end)+1")
        assert(nSpanning == rows.count(r => r._4 > r._3),
          s"$lang: spanning-doc count diverges from the spans")
        assert(tailWaste >= 0 && tailWaste < Extensions.PackSeqLen,
          s"$lang: tail waste $tailWaste outside [0, seqLen)")
      }
    } finally Extensions.releaseCaches()
  }
}
