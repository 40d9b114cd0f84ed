package graft

import org.apache.spark.sql.functions._
import graft.ext.Extensions

/** E76-E78: the crawl-refresh composition, the span-level
  * decontamination rewrite, and the leak-proof (cluster-aware) split.
  * The oracle hash-matches prove cross-engine parity; these tests pin
  * what the hashes can't — refresh equality to a from-scratch
  * snapshot-B index (index identity, not just search output), the
  * rewrite's touched-set identity with E10's contamination flags plus
  * a full independent in-memory twin of the span arithmetic, and the
  * split's no-straddling invariant over every minhash pair. */
class RefreshSpec extends SparkSpec {

  test("crawl refresh: refreshed index row-identical to a from-scratch snapshot-B build") {
    try {
      val got = Extensions.refreshedDocIndex(Extensions.PostingsIndex,
          spark, sf0001).collect().map(_.toSeq).sortBy(_.toString).toSeq
      val twin = Extensions
        .postingsOf(Extensions.snapshotDocsB(spark, sf0001))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(got.nonEmpty, "refreshed index empty — the verb is unexercised")
      assert(got == twin,
        "purge+arrive composition != from-scratch snapshot-B postings")
    } finally Extensions.releaseCaches()
  }

  test("crawl refresh: the diff feeding it exercises all four statuses") {
    try {
      val counts = Extensions
        .snapshotStatuses(Extensions.snapshotDocsA(spark, sf0001),
          Extensions.snapshotDocsB(spark, sf0001))
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq("added", "removed", "changed", "unchanged").foreach(s =>
        assert(counts.getOrElse(s, 0L) > 0,
          s"status '$s' unexercised at sf0.001 — the refresh would not " +
            "cover that maintenance path"))
    } finally Extensions.releaseCaches()
  }

  test("refresh report: each family's receipt arithmetic matches its physical fold") {
    try {
      val rows = Extensions.refreshReport.fn(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val families = rows.keySet.map(_._1)
      assert(families == Set("postings", "substr", "shard", "mh_sigs",
        "ivfpq_codes", "imipq_codes", "ivfpqr_codes", "lsh_buckets",
        "sem_buckets"),
        s"family coverage drifted: $families")
      val docFamilies = Set("postings", "substr", "shard", "mh_sigs")
      for (fam <- families) {
        val rep = rows.collect { case ((f, s), v) if f == fam => s -> v }.toMap
        // unchanged docs move nothing; removed cannot arrive; added
        // cannot purge — per family
        assert(rep("unchanged")._2 == 0 && rep("unchanged")._3 == 0,
          s"$fam: unchanged rows purged/arrived must be zero")
        assert(rep("removed")._3 == 0, s"$fam: removed docs cannot arrive rows")
        assert(rep("added")._2 == 0, s"$fam: added docs cannot purge rows")
        // n_docs per status identical across families sharing a diff
        // (doc families share the doc diff, vector families the vec
        // diff — each is computed ONCE and cached)
        val anchor = if (docFamilies(fam)) "postings" else "ivfpq_codes"
        assert(rep.view.mapValues(_._1).toMap ==
          rows.collect { case ((f, s), v) if f == anchor => s -> v._1 }.toMap,
          s"$fam: per-status doc counts diverge from the shared diff")
      }
      // vector families: pre-cap units per vector — codes 1, lsh
      // buckets LshTables; |A| − purged + arrived == |B| per family
      val nA = Extensions.snapshotVecsA(spark, sf0001).count()
      val nB = Extensions.snapshotVecsB(spark, sf0001).count()
      for ((fam, u) <- Seq(("ivfpq_codes", 1L), ("imipq_codes", 1L),
          ("ivfpqr_codes", 1L), ("lsh_buckets", Extensions.LshTables.toLong),
          ("sem_buckets", Extensions.SemanticTables.toLong))) {
        val purged = rows.collect { case ((f, _), v) if f == fam => v._2 }.sum
        val arrived = rows.collect { case ((f, _), v) if f == fam => v._3 }.sum
        assert(nA * u - purged + arrived == nB * u,
          s"$fam receipt broken: $nA*$u - $purged + $arrived != $nB*$u")
      }
      // shard: chars identity over the doc snapshots
      def chars(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(length(col("text")).cast("long"))).first().getLong(0)
      val cStored = chars(Extensions.snapshotDocsA(spark, sf0001))
      val cRefreshed = chars(Extensions.snapshotDocsB(spark, sf0001))
      val cPurged = rows.collect { case (("shard", _), v) => v._2 }.sum
      val cArrived = rows.collect { case (("shard", _), v) => v._3 }.sum
      assert(cStored - cPurged + cArrived == cRefreshed,
        s"shard receipt broken: $cStored - $cPurged + $cArrived != $cRefreshed")
      // mh_sigs: one signature row per doc — |A| − purged + arrived
      // == |B| (the refreshed signature index the E76g fold unions)
      val dA = Extensions.snapshotDocsA(spark, sf0001).count()
      val dB = Extensions.snapshotDocsB(spark, sf0001).count()
      val sPurged = rows.collect { case (("mh_sigs", _), v) => v._2 }.sum
      val sArrived = rows.collect { case (("mh_sigs", _), v) => v._3 }.sum
      assert(dA - sPurged + sArrived == dB,
        s"mh_sigs receipt broken: $dA - $sPurged + $sArrived != $dB")
      // postings: stored − purged + arrived == refreshed ROW count
      val pStored = Extensions.postingsOf(
        Extensions.snapshotDocsA(spark, sf0001)).count()
      val pRefreshed = Extensions.refreshedDocIndex(Extensions.PostingsIndex,
        spark, sf0001).count()
      val pPurged = rows.collect { case (("postings", _), v) => v._2 }.sum
      val pArrived = rows.collect { case (("postings", _), v) => v._3 }.sum
      assert(pStored - pPurged + pArrived == pRefreshed,
        s"postings receipt broken: $pStored - $pPurged + $pArrived != $pRefreshed")
      // substr: stored − purged + arrived == refreshed OCCURRENCE count
      // (Σ cnt — the unit the gram index aggregates)
      def sumCnt(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(col("cnt"))).first() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      val gStored = sumCnt(Extensions.substringGramIndex(
        Extensions.snapshotDocsA(spark, sf0001)))
      val gRefreshed = sumCnt(
        Extensions.refreshedDocIndex(Extensions.GramIndex, spark, sf0001))
      val gPurged = rows.collect { case (("substr", _), v) => v._2 }.sum
      val gArrived = rows.collect { case (("substr", _), v) => v._3 }.sum
      assert(gStored - gPurged + gArrived == gRefreshed,
        s"substr receipt broken: $gStored - $gPurged + $gArrived != $gRefreshed")
    } finally Extensions.releaseCaches()
  }

  test("substr refresh: counts equal the snapshot-B rebuild; non-tombstoned canonicals equal the rebuild; tombstones only where the stored witness was stale") {
    try {
      val refr = Extensions.refreshedDocIndex(Extensions.GramIndex, spark,
          sf0001).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4)))))
        .toMap
      val rebuilt = Extensions.substringGramIndex(
          Extensions.snapshotDocsB(spark, sf0001)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(refr.keySet == rebuilt.keySet,
        "refreshed gram set != snapshot-B rebuild gram set")
      refr.foreach { case (g, (cnt, _, _)) =>
        assert(cnt == rebuilt(g)._1,
          s"gram $g count $cnt != rebuild ${rebuilt(g)._1}")
      }
      refr.foreach { case (g, (_, tomb, canon)) =>
        if (tomb) assert(canon.isEmpty,
          s"tombstoned gram $g must carry no canonical")
        else assert(canon.contains((rebuilt(g)._2, rebuilt(g)._3)),
          s"gram $g canonical $canon != rebuild (${rebuilt(g)._2}, ${rebuilt(g)._3})")
      }
      // every tombstone's stored snapshot-A witness was stale —
      // asserted against the ORIGINAL index, not the fold's own column
      val storedCanon = Extensions.substringGramIndex(
          Extensions.snapshotDocsA(spark, sf0001)).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      def stale(d: Long): Boolean = {
        val b = h60(d.toString) % 100
        b < Extensions.SnapBFrom || b % Extensions.SnapRevMod == 0
      }
      refr.foreach { case (g, (_, tomb, _)) =>
        if (tomb) assert(stale(storedCanon(g)),
          s"gram $g tombstoned but its stored witness ${storedCanon(g)} survives")
      }
      // the tombstone path must actually fire on the registered corpus
      // (162 at sf0.001 when written) — a zero here means the snapshot
      // derivation stopped mixing stale witnesses with survivors and
      // the exactness assertions above run vacuously on that branch
      assert(refr.count(_._2._2) > 0,
        "tombstone path unexercised on the registered corpus")
      info(s"grams=${refr.size} tombstoned=${refr.count(_._2._2)}")
    } finally Extensions.releaseCaches()
  }

  test("substr refresh fold: planted tombstone, all-died-takes-fresh-min, and fresh-only gram cases") {
    import spark.implicits._
    val W = Extensions.SubstrDedupW
    def text(tag: String): String = (1 to W).map(i => s"$tag$i").mkString(" ")
    // snapshot A: docs 1,2 share gram S (canonical doc 1); doc 3 alone
    // holds gram U. Stale = {1, 3}; fresh = doc 4 (new gram F) and
    // doc 5 (gram U again).
    val snapA = Seq((1L, text("s")), (2L, text("s")), (3L, text("u")))
      .toDF("doc_id", "text")
    val stored = Extensions.substringGramIndex(snapA)
    val staleDocs = snapA.filter(col("doc_id").isin(1L, 3L))
    val freshDocs = Seq((4L, text("f")), (5L, text("u")))
      .toDF("doc_id", "text")
    val out = Extensions.substrRefreshFold(stored, staleDocs, freshDocs,
        d => d.isin(1L, 3L))
      .collect()
      .map(r => (r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    // S: cnt 2−1=1, TOMBSTONED (stored witness doc 1 died, doc 2
    //    survives), canonical null
    // U: stored occurrences all died (cnt 0 → row dropped), fresh doc 5
    //    re-adds it — cnt 1, NO tombstone, canonical = the fresh witness
    // F: fresh-only — cnt 1, no tombstone, canonical doc 4
    assert(out.toSet == Set((1L, true, None), (1L, false, Some(5L)),
      (1L, false, Some(4L))),
      s"fold cases diverge: ${out.toSeq}")
  }

  test("ivfpq refresh: equals the from-scratch snapshot-B build under the same frozen models; no removed vector returned") {
    val sf = sf0001
    try {
      val got = Extensions.ivfpqRefresh.fn(spark, sf).collect()
        .map(_.toSeq).toSeq
      assert(got.nonEmpty, "refreshed search empty — the verb is unexercised")
      val removed = spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
          lit(100L)) < Extensions.SnapBFrom)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(removed.nonEmpty, "no removed vectors — the purge half is unexercised")
      got.foreach(r => assert(!removed(r(1).asInstanceOf[Long]),
        s"removed vector returned as a neighbor: $r"))
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val src = Some(s"$sf/embeddings.parquet")
      val vecsB = Extensions.snapshotVecsB(spark, sf)
      val cbs = Extensions.pqCodebooks(emb, codebookSrc = src)
      val cs = Extensions.ivfCentroids(emb, centroidSrc = src)
      val twin = Extensions.ivfpqTopK(vecsB, Extensions.annQueryIds(vecsB),
        codes0 = Some(Extensions.ivfpqCellCodes(vecsB, cbs, cs, None)),
        cbs0 = Some(cbs), cs0 = Some(cs))
        .collect().map(_.toSeq).toSeq
      assert(got == twin,
        "refreshed-index search != from-scratch snapshot-B build")
    } finally Extensions.releaseCaches()
  }

  test("decontam rewrite: touched docs are EXACTLY E10's contaminated set; span arithmetic matches an independent in-memory twin") {
    try {
      val got = Extensions.decontamRewrite.fn(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
      val touched = got.filter(r => r._3 < r._2).map(_._1).toSet
      assert(touched.nonEmpty,
        "no contaminated spans at sf0.001 — the rewrite is unexercised")
      val flagged = Extensions.decontaminate.fn(spark, sf0001).collect()
        .filter(_.getBoolean(1)).map(_.getLong(0)).toSet
      assert(touched == flagged,
        "span-touched set != E10 contamination flags (same predicate, " +
          "same width, same split — these must coincide)")

      // independent in-memory twin over the raw corpus: same tokenize,
      // gram, split and coverage FORMULA, written against plain Scala
      // collections rather than the delta-row window fold
      val raw = model.Tables.documents(spark, sf0001)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      def toks(t: String): Array[String] =
        t.toLowerCase.replaceAll("^\\s+|\\s+$", "").split("\\s+")
      def gramsOf(tk: Array[String]): Seq[(Int, Long)] = {
        val n = tk.length
        (0 until math.max(n - (Extensions.DecontamW - 1), 1)).map(i =>
          i -> h60(tk.slice(i, i + Extensions.DecontamW).mkString(" ")))
      }
      val byBucket = raw.map { case (id, t) => (id, t, h60(t) % 100) }
      val testGrams = byBucket.filter(_._3 >= 95)
        .flatMap(d => gramsOf(toks(d._2)).map(_._2)).toSet
      val expect = byBucket.filter(_._3 < 90).map { case (id, t, _) =>
        val tk = toks(t)
        val covered = gramsOf(tk).filter(g => testGrams(g._2))
          .flatMap { case (p, _) =>
            p until math.min(p + Extensions.DecontamW, tk.length) }.toSet
        val keptToks = tk.indices.filterNot(covered).map(tk)
        (id, tk.length.toLong, keptToks.length.toLong, keptToks.mkString(" "))
      }.sortBy(_._1).toSeq
      assert(got.sortBy(_._1) == expect,
        "rewrite output != independent in-memory span-removal twin")
    } finally Extensions.releaseCaches()
  }

  test("leak-proof split: no minhash pair straddles; singletons equal ext_split_assign; at least one doc is reassigned") {
    try {
      val assign = Extensions.splitLeakproof.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      val splitOf = assign.map { case (id, (_, s)) => id -> s }.toMap
      val pairs = Extensions.minhashPairs(spark, sf0001)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty, "no near-dup pairs — the guard is unexercised")
      pairs.foreach { case (a, b) =>
        assert(splitOf(a) == splitOf(b),
          s"near-dup pair ($a, $b) straddles splits " +
            s"${splitOf(a)}/${splitOf(b)} — the leak the operator exists " +
              "to close")
      }
      val clusterSizes = assign.groupBy(_._2._1).view.mapValues(_.length)
      val own = Extensions.splitTrainTest.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assign.foreach { case (id, (cid, s)) =>
        if (clusterSizes(cid) == 1)
          assert(s == own(id),
            s"singleton $id reassigned: $s != ${own(id)} — for the corpus " +
              "majority this operator must BE ext_split_assign")
      }
      val reassigned = assign.count { case (id, (_, s)) => s != own(id) }
      assert(reassigned > 0,
        "no doc adopted its representative's split — the operator is a " +
          "no-op on this corpus")
    } finally Extensions.releaseCaches()
  }

  test("corpus datasheet: every column matches an independent per-language recount") {
    try {
      val got = Extensions.corpusDatasheet.fn(spark, sf0001).collect()
        .map(r => r.getString(0) -> r).toMap
      val raw = model.Tables.documents(spark, sf0001)
        .select("doc_id", "lang", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      // verified per-doc outputs of the operators the datasheet reuses
      val qscore = Extensions.qualityScore.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val gkeep = Extensions.gopherRules.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> r.getBoolean(9)).toMap
      val clusterOf = Extensions.dedupClusters.fn(spark, sf0001).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val clusterSize = clusterOf.values.groupBy(identity).view
        .mapValues(_.size).toMap
      val copies = raw.groupBy(_._4).view.mapValues(_.length).toMap
      // per-doc span stats from the VERIFIED E52 definition — the
      // datasheet's span_dup_frac must be its token-weighted roll-up
      val spanStats = Extensions.substringDedupStats(
          model.Tables.documents(spark, sf0001)
            .select(col("doc_id"), col("text"))).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
      def approx(a: Double, b: Double, what: String): Unit =
        assert(math.abs(a - b) < 1e-6, s"$what: $a != $b")
      raw.groupBy(_._2).foreach { case (lang, ds) =>
        val r = got(lang)
        assert(r.getLong(1) == ds.length, s"$lang n_docs")
        assert(r.getLong(2) == ds.map(_._3).distinct.length, s"$lang n_sources")
        val toks = ds.map(d =>
          d._4.replaceAll("^\\s+|\\s+$", "").split("\\s+").length.toLong)
        assert(r.getLong(3) == toks.sum, s"$lang total_tokens")
        approx(r.getDouble(4), math.rint(toks.sum.toDouble / toks.length * 100) / 100,
          s"$lang mean_doc_tokens")
        val dup = ds.count(d => copies(d._4) > 1)
        assert(r.getLong(5) == dup, s"$lang dup_docs")
        approx(r.getDouble(6), math.rint(dup.toDouble / ds.length * 10000) / 10000,
          s"$lang dup_frac")
        approx(r.getDouble(7),
          math.rint(ds.count(d => clusterSize(clusterOf(d._1)) > 1).toDouble
            / ds.length * 10000) / 10000, s"$lang near_dup_frac")
        approx(r.getDouble(8),
          math.rint(ds.map(d => spanStats(d._1)._2).sum.toDouble /
            ds.map(d => spanStats(d._1)._1).sum * 10000) / 10000,
          s"$lang span_dup_frac")
        approx(r.getDouble(9),
          math.rint(ds.map(d => qscore(d._1)).sum / ds.length * 10000) / 10000,
          s"$lang mean_quality")
        approx(r.getDouble(10),
          math.rint(ds.count(d => qscore(d._1) >= 0.6).toDouble / ds.length
            * 10000) / 10000, s"$lang high_quality_frac")
        approx(r.getDouble(11),
          math.rint(ds.count(d => gkeep(d._1)).toDouble / ds.length
            * 10000) / 10000, s"$lang gopher_keep_frac")
      }
      assert(got.keySet == raw.map(_._2).toSet, "language coverage")
    } finally Extensions.releaseCaches()
  }

  test("incremental leak-proof split: equals a twin over the verified adoption labels; adoption actually moves a doc") {
    try {
      val got = Extensions.splitLeakproofIncremental.fn(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      val labels = Extensions.clustersIncremental.fn(spark, sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bucketOf = model.Tables.documents(spark, sf0001)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> h60(r.getString(1)) % 100).toMap
      def splitOf(b: Long) =
        if (b < 90) "train" else if (b < 95) "val" else "test"
      val twin = labels.toSeq.map { case (id, cid) =>
        (id, cid, splitOf(bucketOf(cid))) }.sortBy(_._1)
      assert(got.sortBy(_._1) == twin,
        "arrival split != twin over ext_clusters_incremental's labels")
      val adopted = got.filter(r => r._2 != r._1)
      assert(adopted.nonEmpty, "no batch doc adopted a corpus cluster — " +
        "the guard is unexercised")
      val reassigned = got.count { case (id, _, s) =>
        s != splitOf(bucketOf(id)) }
      assert(reassigned > 0,
        "no adopted doc changed split — the leak path is unexercised")
    } finally Extensions.releaseCaches()
  }

  /** Shared assertions for the round-14 vector-family refresh verbs
    * (E76d): the refreshed search equals a from-scratch snapshot-B
    * build under the same frozen models, and no removed vector can be
    * returned — the ivfpq refresh test's contract, one per family. */
  private def assertVecRefresh(name: String,
      got: Seq[Seq[Any]], twin: Seq[Seq[Any]]): Unit = {
    assert(got.nonEmpty, s"$name: refreshed search empty — verb unexercised")
    val removed = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(pmod(graft.expr.Scalars.hash60(col("vec_id").cast("string")),
        lit(100L)) < Extensions.SnapBFrom)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(removed.nonEmpty, s"$name: no removed vectors — purge half unexercised")
    got.foreach(r => assert(!removed(r(1).asInstanceOf[Long]),
      s"$name: removed vector returned as a neighbor: $r"))
    assert(got == twin,
      s"$name: refreshed-index search != from-scratch snapshot-B build")
  }

  test("spark.graft.checkpointDir: reliable delta checkpoints serve the same rows as localCheckpoint") {
    // the arrival branch of the refresh and incremental verbs is
    // truncated by deltaCheckpoint — localCheckpoint by default, a
    // reliable checkpoint under the conf key; both must serve the same
    // rows, and the reliable path must actually write checkpoint data
    val key = "spark.graft.checkpointDir"
    val verbs = Seq(Extensions.ivfpqRefresh, Extensions.ivfpqIncremental)
    def rows(q: Q): Seq[String] =
      try q.fn(spark, sf0001).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      finally Extensions.releaseCaches()
    def rddDirs(): Int = spark.sparkContext.getCheckpointDir.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p).count(_.getPath.getName.startsWith("rdd-"))
      else 0
    }.getOrElse(0)
    assert(spark.conf.getOption(key).isEmpty, s"$key must start unset")
    val local = verbs.map(rows)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val before = rddDirs()
    spark.conf.set(key, dir.toString)
    val reliable = try verbs.map(rows) finally spark.conf.unset(key)
    val after = rddDirs()
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    assert(after > before, "reliable path wrote no checkpoint data")
    local.zip(verbs).foreach { case (l, q) =>
      assert(l.nonEmpty, s"${q.name}: empty output — the verb is unexercised")
    }
    assert(reliable == local,
      "reliable-checkpoint outputs differ from the localCheckpoint outputs")
  }

  test("imipq refresh: equals the from-scratch snapshot-B build under the same frozen models; no removed vector returned") {
    try {
      val got = Extensions.imipqRefresh.fn(spark, sf0001).collect()
        .map(_.toSeq).toSeq
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val src = Some(s"$sf0001/embeddings.parquet")
      val vecsB = Extensions.snapshotVecsB(spark, sf0001)
      val cbs = Extensions.pqCodebooks(emb, codebookSrc = src)
      val cs0 = Extensions.imiCentroids(emb, 0, Extensions.ImiK, src)
      val cs1 = Extensions.imiCentroids(emb, 1, Extensions.ImiK, src)
      val twin = Extensions.imipqTopK(vecsB, Extensions.annQueryIds(vecsB),
        codes0 = Some(Extensions.imipqCellCodes(vecsB, cbs, cs0, cs1, None)),
        cbs0 = Some(cbs), csH0 = Some(cs0), csH1 = Some(cs1))
        .collect().map(_.toSeq).toSeq
      assertVecRefresh("imipq", got, twin)
    } finally Extensions.releaseCaches()
  }

  test("ivfpqr refresh: equals the from-scratch snapshot-B build under the same frozen residual models; no removed vector returned") {
    try {
      val got = Extensions.ivfpqrRefresh.fn(spark, sf0001).collect()
        .map(_.toSeq).toSeq
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val src = Some(s"$sf0001/embeddings.parquet")
      val vecsB = Extensions.snapshotVecsB(spark, sf0001)
      val cs = Extensions.ivfCentroids(emb, centroidSrc = src)
      val ms = Extensions.ivfCellMeans(emb, cs, src)
      val cbs = Extensions.pqrCodebooks(emb, cs, ms, src)
      val twin = Extensions.ivfpqrTopK(vecsB, Extensions.annQueryIds(vecsB),
        codes0 = Some(Extensions.ivfpqrCellCodes(vecsB, cbs, cs, ms, None)),
        cbs0 = Some(cbs), cs0 = Some(cs), ms0 = Some(ms))
        .collect().map(_.toSeq).toSeq
      assertVecRefresh("ivfpqr", got, twin)
    } finally Extensions.releaseCaches()
  }

  test("lsh refresh: equals the from-scratch snapshot-B build under the same hyperplanes; no removed vector returned") {
    try {
      val got = Extensions.lshRefresh.fn(spark, sf0001).collect()
        .map(_.toSeq).toSeq
      val vecsB = Extensions.snapshotVecsB(spark, sf0001)
      val twin = Extensions.annTopK(vecsB, Extensions.annQueryIds(vecsB),
        buckets0 = Some(Extensions.lshBucketRows(vecsB,
          Some(Extensions.LshBucketCap))))
        .collect().map(_.toSeq).toSeq
      assertVecRefresh("lsh", got, twin)
    } finally Extensions.releaseCaches()
  }

  test("shard refresh fold: pass-through path carries untouched shards; planted empty-shard and arrival cases") {
    // ShardCount=8 spreads any real diff over every shard, so the
    // registered query never exercises the pass-through branch — drive
    // the fold directly with a planted 4-shard store where shard 3 is
    // untouched, shard 0 loses one doc, shard 1 empties entirely, and
    // shard 2 gains an arrival (the fold the shard purge shares)
    import spark.implicits._
    try {
      val idxA = Seq(
        (10L, 0, 100L, 5L), (11L, 0, 108L, 7L), // shard 0: one stays
        (12L, 1, 201L, 3L),                     // shard 1: dies
        (13L, 2, 302L, 4L),                     // shard 2: gains
        (14L, 3, 403L, 9L))                     // shard 3: untouched
        .toDF("doc_id", "shard", "hh", "n_chars")
      val stored = Extensions.manifestAggOf(
        idxA.select("shard", "hh", "n_chars"))
      val stale = Seq(11L, 12L).toDF("doc_id")
      val arrived = Seq((20L, 2, 310L, 6L))
        .toDF("doc_id", "shard", "hh", "n_chars")
      val got = Extensions.shardManifestFold(stored, idxA, stale,
          idxA.join(stale, Seq("doc_id"), "left_semi"), arrived).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      // monolithic twin over the post-refresh rows
      val twin = Extensions.manifestAggOf(
          idxA.filter(!col("doc_id").isin(11L, 12L))
            .unionByName(arrived).select("shard", "hh", "n_chars"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(got == twin, s"refreshed manifest != monolithic twin: $got vs $twin")
      assert(!got.contains(1), "emptied shard must vanish from the receipt")
      assert(got(3) == (1L, 9L, 403L, 403L, 403L % 100003L),
        "untouched shard must pass through from the stored receipt")
      assert(got(2)._1 == 2L, "arrival shard must count the arrived doc")
    } finally Extensions.releaseCaches()
  }

  test("shard refresh: registered receipt equals the monolithic snapshot-B manifest") {
    try {
      val got = Extensions.shardRefresh.fn(spark, sf0001).collect()
        .map(_.toSeq).toSeq
      val b = Extensions.snapshotDocsB(spark, sf0001)
      val h = graft.expr.Scalars.hash60(col("text"))
      val twin = Extensions.manifestAggOf(
          b.select(pmod(h, lit(Extensions.ShardCount.toLong)).cast("int")
              .as("shard"), h.as("hh"),
            length(col("text")).cast("long").as("n_chars")))
        .orderBy("shard").collect().map(_.toSeq).toSeq
      assert(got == twin, "refreshed shard receipt != monolithic B manifest")
      assert(got.nonEmpty)
    } finally Extensions.releaseCaches()
  }

  test("clusters refresh: labels equal a from-scratch snapshot-B CC rebuild; merge path exercised") {
    try {
      val got = Extensions.clustersRefreshLabels(spark, sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      val docsB = Extensions.snapshotDocsB(spark, sf0001)
      val pairs = Extensions.minhashPairsFrom(docsB).select("id_a", "id_b")
      val twin = graft.ops.Graph.connectedComponents(pairs,
          docsB.select(col("doc_id").as("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      assert(got.nonEmpty, "refreshed labels empty — the verb is unexercised")
      assert(got == twin,
        "purge+arrive+merge composition != from-scratch snapshot-B labels")
      assert(got.exists { case (id, c) => id != c },
        "no non-singleton cluster at sf0.001 — the pair machinery is unexercised")
    } finally Extensions.releaseCaches()
  }

  test("semantic refresh: labels equal a from-scratch snapshot-B CC rebuild over the refreshed vector values") {
    try {
      val got = Extensions.semanticRefreshLabels(spark, sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      val vecsB = Extensions.snapshotVecsB(spark, sf0001)
      val pairs = Extensions.semanticPairsFrom(vecsB).select("id_a", "id_b")
      val twin = graft.ops.Graph.connectedComponents(pairs,
          vecsB.select(col("vec_id").as("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      assert(got.nonEmpty, "refreshed labels empty — the verb is unexercised")
      assert(got == twin,
        "purge+arrive+merge composition != from-scratch snapshot-B labels")
      assert(got.exists { case (id, c) => id != c },
        "no non-singleton cluster at sf0.001 — the pair machinery is unexercised")
    } finally Extensions.releaseCaches()
  }
}
