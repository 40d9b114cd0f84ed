package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val sample = Seq(
    Event(1, ts("2024-01-01 00:00:10"), 1, "click", 10.0),
    Event(2, ts("2024-01-01 00:01:10"), 1, "click", 20.0),
    Event(3, ts("2024-01-01 00:09:00"), 1, "buy", 5.0),   // >5min gap → new session
    Event(4, ts("2024-01-01 00:00:30"), 2, "click", 7.0))

  test("windowedCounts over a real stream (MemoryStream → memory sink)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = EventStreams.windowedCounts(ms.toDF(), "5 minutes", "5 minutes", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("win_counts").start()
    try {
      // append mode: a window emits only after the watermark passes its
      // end, and the watermark advances at batch END — so feed three
      // batches: data, a marker to advance the watermark, and one more
      // to trigger the emission pass.
      ms.addData(sample: _*); q.processAllAvailable()
      ms.addData(Event(99, ts("2024-01-01 01:00:00"), 9, "noop", 0.0)); q.processAllAvailable()
      ms.addData(Event(100, ts("2024-01-01 01:10:00"), 9, "noop", 0.0)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("win_counts").filter(col("event_type") === "click").collect()
    assert(rows.map(_.getAs[Long]("n")).sum == 3) // 3 clicks in closed windows
  }

  test("stream-static enrichment joins each micro-batch against the dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val ms = MemoryStream[Event]
    val q = EventStreams.enrichWithStatic(ms.toDF(), dim, "user_id")
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      ms.addData(sample: _*); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enriched")
      .select("event_id", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L).contains("gold") && rows(4L).contains("silver"))
    assert(rows.size == 4) // left join: unmatched users survive with null
  }

  test("dedupWithinWatermark: replayed event_ids are dropped, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = EventStreams.dedupWithinWatermark(ms.toDF(), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      ms.addData(sample: _*); q.processAllAvailable()
      // replay two events (same event_id — an at-least-once upstream
      // redelivery) plus one genuinely new event
      ms.addData(sample(0), sample(1),
        Event(5, ts("2024-01-01 00:02:00"), 3, "view", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"got ${ids.toSeq}")
  }

  test("transformWithState: per-user running totals accumulate across micro-batches") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      val q = EventStreams.runningUserTotals(ms.toDS())
        .writeStream.outputMode("update").format("memory").queryName("run_totals").start()
      try {
        ms.addData(Event(1, ts("2024-01-01 00:00:10"), 1, "click", 10.0),
          Event(2, ts("2024-01-01 00:00:20"), 1, "click", 5.0))
        q.processAllAvailable()
        ms.addData(Event(3, ts("2024-01-01 00:01:00"), 1, "buy", 7.0),
          Event(4, ts("2024-01-01 00:01:10"), 2, "view", 3.0))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("run_totals")
        .groupBy("user_id").agg(max("total_value").as("total"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows == Map(1L -> 22.0, 2L -> 3.0), s"got $rows")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState: streaming near-dup hits flag later twins against the bucket owner") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val textA = (1 to 40).map(i => s"alpha$i").mkString(" ")
      val textB = (1 to 40).map(i => s"beta$i").mkString(" ")
      val textC = (1 to 40).map(i => s"gamma$i").mkString(" ")
      val ms = MemoryStream[(Long, String)]
      val q = EventStreams.streamingNearDupHits(
          ms.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("update").format("memory").queryName("neardup_hits").start()
      try {
        // batch 1: doc 1 owns textA's buckets; doc 10 is a same-batch
        // byte-twin (must flag against 1); doc 2 is unrelated
        ms.addData((1L, textA), (10L, textA), (2L, textB))
        q.processAllAvailable()
        // batch 2: doc 3 is a later twin of textA (cross-batch state
        // hit); doc 4 is fresh; doc 3 REPLAYED in batch 3 must not
        // invent a new owner or a new pair
        ms.addData((3L, textA), (4L, textC))
        q.processAllAvailable()
        ms.addData((3L, textA))
        q.processAllAvailable()
      } finally q.stop()
      val pairs = spark.table("neardup_hits")
        .select("doc_id", "first_doc_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((10L, 1L), (3L, 1L)), s"got $pairs")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("sessionWindows: gap-based sessions (batch-mode execution of the same plan)") {
    // unified model: the streaming transform runs on a batch DF directly
    val out = EventStreams.sessionWindows(sample.toDF(), "5 minutes", "10 minutes")
    val u1 = out.filter(col("user_id") === 1).orderBy("sess_start").collect()
    assert(u1.length == 2) // events 1,2 in one session; 3 after the gap
    assert(u1(0).getAs[Long]("n_events") == 2)
    assert(u1(1).getAs[Long]("n_events") == 1)
    assert(out.filter(col("user_id") === 2).count() == 1)
  }

  test("valueCappedSessions: closes on accumulated value, not time") {
    implicit val s = spark
    val events = Seq(
      Event(1, ts("2024-01-01 00:00:01"), 1, "a", 40.0),
      Event(2, ts("2024-01-01 00:00:02"), 1, "b", 70.0), // 110 >= 100 → close
      Event(3, ts("2024-01-01 00:00:03"), 1, "c", 30.0)) // dangling state
      .toDS()
    val out = EventStreams.valueCappedSessions(events, cap = 100.0).collect()
    assert(out.length == 1)
    assert(out(0).n_events == 2 && out(0).total_value == 110.0 && out(0).closed_by == "cap")
  }

  test("stream-stream join: purchases match clicks in the trailing window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = EventStreams.streamStreamJoin(
      clicks.toDF().toDF("user_id", "ts"),
      buys.toDF().toDF("user_id", "rts"),
      "user_id", lateness = "1 hour", windowBound = "10 minutes")
      .selectExpr("l.user_id AS u", "l.ts AS click_ts", "r.rts AS buy_ts")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    try {
      clicks.addData((1L, ts("2024-01-01 00:00:00")), // within 10min of buy
                     (1L, ts("2024-01-01 00:20:00")), // AFTER the buy → no match
                     (2L, ts("2024-01-01 00:01:00"))) // other user
      buys.addData((1L, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString))
    assert(rows.toSet == Set((1L, "2024-01-01 00:00:00.0")))
  }

  test("windowed agg on the real events table matches a batch groupBy") {
    val e = model.Tables.events(spark, sf0001)
    val streamingShaped = EventStreams.windowedCounts(e, "1 hour", "1 hour", "1 minute")
    val batch = e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamingShaped.agg(sum("n")).collect()(0).getLong(0) ==
      batch.agg(sum("n")).collect()(0).getLong(0))
  }

  test("streaming postings arrival: appended micro-batches == batch tokenize; replay idempotent") {
    // the streaming twin of ext_bm25_incremental's arrival contract:
    // docs arrive on a stream, each micro-batch is tokenized once and
    // appended to the stored layout under checkpoint-owned progress;
    // the merged read-back must equal the one-shot batch tokenize of
    // the same docs, and a crash-replayed batch (same batchId) must
    // rewrite its own partition, never double-append
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IndexMaintenanceStream
    val dir = java.nio.file.Files.createTempDirectory("postidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("postckpt").toString
    val docsAll = Seq(
      (1L, "alpha beta beta"), (2L, "beta gamma"),
      (3L, "alpha alpha delta"), (4L, "gamma gamma gamma"))
    val ms = MemoryStream[(Long, String)]
    val land = IndexMaintenanceStream.rowsOf(graft.ext.Extensions.postingsOf)
    val q = IndexMaintenanceStream.start("postings",
      ms.toDF().toDF("doc_id", "text"), dir, ckpt, land)
    try {
      ms.addData(docsAll.take(2): _*); q.processAllAvailable()
      ms.addData(docsAll.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val merged = IndexMaintenanceStream.mergedRows(spark, dir)
    val oneShot = graft.ext.Extensions.postingsOf(
      docsAll.toDF("doc_id", "text"))
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "streamed postings diverged from the one-shot batch tokenize")
    // at-least-once replay: re-running a batch id overwrites in place
    val before = merged.count()
    IndexMaintenanceStream.appendBatch(
      docsAll.take(2).toDF("doc_id", "text"), dir, 0L, land)
    assert(IndexMaintenanceStream.mergedRows(spark, dir).count() == before,
      "replayed micro-batch double-appended instead of rewriting its partition")
  }

  test("streaming imipq arrival: appended micro-batches == one-shot encode; replay idempotent") {
    // the vector twin of the postings stream — E43's contract with
    // checkpoint-owned progress: embeddings arrive on a stream, each
    // micro-batch is encoded + product-cell-assigned once against the
    // FROZEN models and appended; merged read-back must equal the
    // one-shot encode of the same vectors, and a replayed batch id
    // must rewrite its own partition
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IndexMaintenanceStream
    val rnd = new scala.util.Random(29)
    val vecsAll = (1L to 12L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian())))
    val allDf = vecsAll.toDF("vec_id", "v")
    val cbs = graft.ext.Extensions.pqCodebooks(allDf)
    val cs0 = graft.ext.Extensions.imiCentroids(allDf, 0, k = 2)
    val cs1 = graft.ext.Extensions.imiCentroids(allDf, 1, k = 2)
    val dir = java.nio.file.Files.createTempDirectory("imipqidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("imipqckpt").toString
    val ms = MemoryStream[(Long, Seq[Double])]
    val land = IndexMaintenanceStream.rowsOf(
      graft.ext.Extensions.imipqEncodeAssign(_, cbs, cs0, cs1))
    val q = IndexMaintenanceStream.start("imipq",
      ms.toDF().toDF("vec_id", "v"), dir, ckpt, land)
    try {
      ms.addData(vecsAll.take(6): _*); q.processAllAvailable()
      ms.addData(vecsAll.drop(6): _*); q.processAllAvailable()
    } finally q.stop()
    val merged = IndexMaintenanceStream.mergedRows(spark, dir)
    val oneShot = graft.ext.Extensions.imipqEncodeAssign(allDf, cbs, cs0, cs1)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "streamed combined-index rows diverged from the one-shot encode")
    val before = merged.count()
    IndexMaintenanceStream.appendBatch(
      vecsAll.take(6).toDF("vec_id", "v"), dir, 0L, land)
    assert(IndexMaintenanceStream.mergedRows(spark, dir).count() == before,
      "replayed micro-batch double-appended instead of rewriting its partition")
  }

  test("streaming ivfpq arrival: appended micro-batches == one-shot encode; replay idempotent") {
    // the flat-IVF vector twin — E39's contract with checkpoint-owned
    // progress: same discipline as the imipq stream with the coarse
    // quantizer swapped
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IndexMaintenanceStream
    val rnd = new scala.util.Random(37)
    val vecsAll = (1L to 12L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian())))
    val allDf = vecsAll.toDF("vec_id", "v")
    val cbs = graft.ext.Extensions.pqCodebooks(allDf)
    val cs = graft.ext.Extensions.ivfCentroids(allDf, nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfpqckpt").toString
    val ms = MemoryStream[(Long, Seq[Double])]
    val land = IndexMaintenanceStream.rowsOf(
      graft.ext.Extensions.ivfpqEncodeAssign(_, cbs, cs))
    val q = IndexMaintenanceStream.start("ivfpq",
      ms.toDF().toDF("vec_id", "v"), dir, ckpt, land)
    try {
      ms.addData(vecsAll.take(6): _*); q.processAllAvailable()
      ms.addData(vecsAll.drop(6): _*); q.processAllAvailable()
    } finally q.stop()
    val merged = IndexMaintenanceStream.mergedRows(spark, dir)
    val oneShot = graft.ext.Extensions.ivfpqEncodeAssign(allDf, cbs, cs)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "streamed combined-index rows diverged from the one-shot encode")
    val before = merged.count()
    IndexMaintenanceStream.appendBatch(
      vecsAll.take(6).toDF("vec_id", "v"), dir, 0L, land)
    assert(IndexMaintenanceStream.mergedRows(spark, dir).count() == before,
      "replayed micro-batch double-appended instead of rewriting its partition")
  }

  test("streaming ivfpqr arrival: appended micro-batches == one-shot encode; replay idempotent") {
    // the RESIDUAL vector twin — E49's contract with checkpoint-owned
    // progress: same discipline as the ivfpq stream with the encoder
    // swapped for the residual triple (centroids + cell means +
    // L2-trained residual codebook). The last stored index family
    // without a streaming arrival.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IndexMaintenanceStream
    val rnd = new scala.util.Random(41)
    val vecsAll = (1L to 12L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian())))
    val allDf = vecsAll.toDF("vec_id", "v")
    val cs = graft.ext.Extensions.ivfCentroids(allDf, nCells = 4)
    val ms = graft.ext.Extensions.ivfCellMeans(allDf, cs, None)
    val cbs = graft.ext.Extensions.pqrCodebooks(allDf, cs, ms, None)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqridx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfpqrckpt").toString
    val ms2 = MemoryStream[(Long, Seq[Double])]
    val land = IndexMaintenanceStream.rowsOf(
      graft.ext.Extensions.ivfpqrEncodeAssign(_, cbs, cs, ms))
    val q = IndexMaintenanceStream.start("ivfpqr",
      ms2.toDF().toDF("vec_id", "v"), dir, ckpt, land)
    try {
      ms2.addData(vecsAll.take(6): _*); q.processAllAvailable()
      ms2.addData(vecsAll.drop(6): _*); q.processAllAvailable()
    } finally q.stop()
    val merged = IndexMaintenanceStream.mergedRows(spark, dir)
    val oneShot = graft.ext.Extensions.ivfpqrEncodeAssign(allDf, cbs, cs, ms)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "streamed residual-index rows diverged from the one-shot encode")
    val before = merged.count()
    IndexMaintenanceStream.appendBatch(
      vecsAll.take(6).toDF("vec_id", "v"), dir, 0L, land)
    assert(IndexMaintenanceStream.mergedRows(spark, dir).count() == before,
      "replayed micro-batch double-appended instead of rewriting its partition")
  }

  test("streaming lsh arrival: appended micro-batches == one-shot hash scan; replay idempotent") {
    // the bucket-index twin — appends are UNCAPPED by design (the
    // hot-bucket cap is re-resolved over the merged table per search,
    // the same discipline as the batch arrival)
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IndexMaintenanceStream
    val rnd = new scala.util.Random(41)
    val vecsAll = (1L to 12L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian())))
    val allDf = vecsAll.toDF("vec_id", "v")
    val dir = java.nio.file.Files.createTempDirectory("lshidx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lshckpt").toString
    val ms = MemoryStream[(Long, Seq[Double])]
    val land = IndexMaintenanceStream.rowsOf(
      graft.ext.Extensions.lshBucketRows(_, cap = None))
    val q = IndexMaintenanceStream.start("lsh",
      ms.toDF().toDF("vec_id", "v"), dir, ckpt, land)
    try {
      ms.addData(vecsAll.take(6): _*); q.processAllAvailable()
      ms.addData(vecsAll.drop(6): _*); q.processAllAvailable()
    } finally q.stop()
    val merged = IndexMaintenanceStream.mergedRows(spark, dir)
    val oneShot = graft.ext.Extensions.lshBucketRows(allDf, cap = None)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "streamed bucket rows diverged from the one-shot hash scan")
    val before = merged.count()
    IndexMaintenanceStream.appendBatch(
      vecsAll.take(6).toDF("vec_id", "v"), dir, 0L, land)
    assert(IndexMaintenanceStream.mergedRows(spark, dir).count() == before,
      "replayed micro-batch double-appended instead of rewriting its partition")
  }

  test("streaming substr arrival: summed partial counts == one-shot; replay idempotent") {
    // the substring-dedup twin (E56's streaming form): each micro-batch
    // lands its PARTIAL (g, cnt) counts; counts are aggregates, so the
    // merged read SUMS per gram — the fold must equal the one-shot
    // count of every streamed doc, including a gram split ACROSS
    // micro-batches (doc 1 and doc 3 share a whole-doc gram but arrive
    // in different batches)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IndexMaintenanceStream
    val docsAll = Seq(
      (1L, "a b c d e f g h"), (2L, "p q r s t u v w x"),
      (3L, "a b c d e f g h"), (4L, "k l m n o k l m n o"))
    val dir = java.nio.file.Files.createTempDirectory("substridx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("substrckpt").toString
    val ms = MemoryStream[(Long, String)]
    val land = IndexMaintenanceStream.rowsOf(
      graft.ext.Extensions.substringGramIndex)
    val q = IndexMaintenanceStream.start("substr",
      ms.toDF().toDF("doc_id", "text"), dir, ckpt, land)
    try {
      ms.addData(docsAll.take(2): _*); q.processAllAvailable()
      ms.addData(docsAll.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val merged = IndexMaintenanceStream.mergedSubstrGrams(spark, dir)
    val oneShot = graft.ext.Extensions.substringGramIndex(
      docsAll.toDF("doc_id", "text"))
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "folded streamed index diverged from the one-shot gram index " +
        "(counts or canonicals)")
    // the streamed index serves the rewrite arrival exactly like the
    // batch-built fixture: a later batch repeating doc 1's text loses
    // it (the canonical lives in the streamed corpus)
    val rewritten = graft.ext.Extensions.substrRewriteAgainst(
        Seq((9L, "a b c d e f g h")).toDF("doc_id", "text"), merged)
      .collect()
    assert(rewritten.length == 1 && rewritten(0).getLong(2) == 0L,
      "batch copy of a streamed-corpus span must lose it entirely")
    // the cross-batch gram really merged: docs 1 and 3 are identical
    // 8-token docs in different micro-batches → one gram with cnt 2
    val dupTotal = merged.filter(col("cnt") >= 2).count()
    assert(dupTotal >= 1, "cross-micro-batch duplicate gram not summed")
    val before = merged.count()
    IndexMaintenanceStream.appendBatch(
      docsAll.take(2).toDF("doc_id", "text"), dir, 0L, land)
    assert(IndexMaintenanceStream.mergedSubstrGrams(spark, dir).count() == before,
      "replayed micro-batch double-appended instead of rewriting its partition")
  }

  test("streamed substr index with legacy (g,cnt)-only partitions: counts exact, canon from new partials only") {
    // schema migration: batches appended before the canon columns
    // existed carry (g, cnt) only — the fold must keep counts exact on
    // any mix and must never let a legacy partition's nulls win the
    // canonical min
    import spark.implicits._
    import graft.streaming.IndexMaintenanceStream
    val dir = java.nio.file.Files.createTempDirectory("substrmix").toString
    val oldDocs = Seq((1L, "a b c d e f g h"))
    val newDocs = Seq((3L, "a b c d e f g h"))
    // legacy partition: counts-only schema, written as the old append did
    graft.ext.Extensions.substringGramCounts(oldDocs.toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$dir/batch=0")
    IndexMaintenanceStream.appendBatch(newDocs.toDF("doc_id", "text"),
      dir, 1L, IndexMaintenanceStream.rowsOf(
        graft.ext.Extensions.substringGramIndex))
    val merged = IndexMaintenanceStream.mergedSubstrGrams(spark, dir).collect()
    assert(merged.length == 1)
    val r = merged(0)
    assert(r.getLong(1) == 2L, "counts must sum across old and new partials")
    assert(!r.isNullAt(2) && r.getLong(2) == 3L && r.getLong(3) == 0L,
      "canonical must come from the canon-carrying partial (doc 3), " +
        s"not a legacy null: $r")
    // all-legacy dir: stats-serving fold still works, canon is null
    val dirOld = java.nio.file.Files.createTempDirectory("substrold").toString
    graft.ext.Extensions.substringGramCounts(oldDocs.toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$dirOld/batch=0")
    val legacy = IndexMaintenanceStream.mergedSubstrGrams(spark, dirOld).collect()
    assert(legacy.length == 1 && legacy(0).getLong(1) == 1L &&
      legacy(0).isNullAt(2),
      "all-legacy dir must fold counts with null canonicals")
  }

  test("streaming shard-delta arrival: compacted base ∪ streamed deltas == monolithic write; replay idempotent") {
    // E66's streaming form, the last stored artifact's twin: docs
    // arrive on a stream, each micro-batch lands as per-shard delta
    // files (stateless content-hash assignment — no standing-corpus
    // read, no model, no state store), and compaction folds base ∪
    // streamed deltas byte-identically to a monolithic write over
    // everything — the store cannot tell how a delta arrived
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IndexMaintenanceStream
    val base = (1L to 40L).map(i => (i, s"standing shard doc $i body"))
    val arriving = (41L to 60L).map(i => (i, s"streamed shard doc $i body"))
    val dirs = Seq("sbase", "sdelta", "sckpt", "scomp", "smono")
      .map(p => java.nio.file.Files.createTempDirectory(p).toString)
    val Seq(baseDir, deltaDir, ckpt, compDir, monoDir) = dirs
    graft.ext.Extensions.writeShards(base.toDF("doc_id", "text"), baseDir)
    val ms = MemoryStream[(Long, String)]
    val land: IndexMaintenanceStream.Landing =
      graft.ext.Extensions.writeShards(_, _)
    val q = IndexMaintenanceStream.start("shard-delta",
      ms.toDF().toDF("doc_id", "text"), deltaDir, ckpt, land)
    try {
      ms.addData(arriving.take(10): _*); q.processAllAvailable()
      ms.addData(arriving.drop(10): _*); q.processAllAvailable()
    } finally q.stop()
    graft.ext.Extensions.compactShards(spark, baseDir, deltaDir, compDir)
    graft.ext.Extensions.writeShards(
      (base ++ arriving).toDF("doc_id", "text"), monoDir)
    def shardSeqs(dir: String): Map[Int, Seq[(Long, Long)]] =
      (0 until graft.ext.Extensions.ShardCount).flatMap { s =>
        val p = new java.io.File(s"$dir/shard=$s")
        if (!p.exists()) None
        else Some(s -> spark.read.parquet(p.toString)
          .select("doc_id", "content_hash").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq)
      }.toMap
    assert(shardSeqs(compDir) == shardSeqs(monoDir),
      "compacted streamed deltas diverge from the monolithic write")
    assert(shardSeqs(compDir).values.map(_.size).sum == 60)
    // at-least-once replay: re-running a batch id overwrites in place
    val before = spark.read.parquet(deltaDir).count()
    IndexMaintenanceStream.appendBatch(
      arriving.take(10).toDF("doc_id", "text"), deltaDir, 0L, land)
    assert(spark.read.parquet(deltaDir).count() == before,
      "replayed micro-batch double-appended instead of rewriting its partition")
    dirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }
}
