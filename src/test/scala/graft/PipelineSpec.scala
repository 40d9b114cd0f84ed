package graft

import java.nio.file.Files
import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.pipeline.{Pipelines, RunConfig, SyncJob}
import graft.sink._

/** Scripted transport: behavior keyed by naturalKey prefix.
  *   FAIL400-*  → permanent 400
  *   RETRY-*    → 429 twice, then 201
  *   FLAKY-*    → 503 forever (exhausts retries → sentinel 599)
  *   everything else → 201 with id "ID-<key>"
  * State lives in a JVM-static log (local-mode executors deserialize
  * their own copy of the transport, so instance fields never reach the
  * driver). */
object StubLog {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  val attempts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  def reset(): Unit = { batches.clear(); attempts.clear() }
}

class StubTransport extends UpsertTransport {
  def batchSizes: Seq[Int] = {
    import scala.jdk.CollectionConverters._
    StubLog.batches.asScala.toSeq
  }
  override def send(objectType: String, batch: Seq[UpsertRecord]): Seq[TransportStatus] = {
    StubLog.batches.add(batch.size)
    batch.map { r =>
      val k = r.naturalKey
      val n = StubLog.attempts.merge(k, 1, _ + _)
      if (k.startsWith("FAIL400")) TransportStatus(400, None, "bad request")
      else if (k.startsWith("RETRY") && n <= 2) TransportStatus(429, None, "rate limited")
      else if (k.startsWith("FLAKY")) TransportStatus(503, None, "unavailable")
      else TransportStatus(201, Some(s"ID-$k"), "ok")
    }
  }
}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def mkSource(rows: Seq[(String, String)]) =
    rows.toDF("natural_key", "upd")
      .select(col("natural_key"), col("upd").cast("timestamp").as("updated_at"),
        map(lit("k"), lit("v")).as("props"))

  private def freshDir() = Files.createTempDirectory("graft-ctl-").toString

  test("end-to-end run: outcomes, DLQ routing, id-map merge, ledger, watermark") {
    val dir = freshDir()
    val transport = new StubTransport
    // no-sleep retrying happens inside executors; keep keys tiny
    val src = mkSource(Seq(
      "A" -> "2024-01-01 00:00:00",
      "B" -> "2024-01-02 00:00:00",
      "FAIL400-C" -> "2024-01-03 00:00:00",
      (null: String) -> "2024-01-04 00:00:00"))
    val cfg = SyncJob.Config("patients", "contacts", batchSize = 50,
      nowMs = 1750000000000L)
    val s = SyncJob.run(spark, src, cfg, dir, transport)

    assert(s.readCount == 4)
    assert(s.createdCount == 2) // A, B
    assert(s.errorCount == 1)   // FAIL400-C
    assert(s.skippedCount == 1) // null key → ambiguous
    assert(s.status == "partial")
    // watermark HELD on failure (reference holds; main.py:837-842)
    assert(s.highWatermarkMs.isEmpty)

    val idMap = spark.read.parquet(s"$dir/id_map")
    val ids = idMap.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(ids == Map("A" -> "ID-A", "B" -> "ID-B"))

    val dlq = spark.read.parquet(s"$dir/dlq")
    assert(dlq.count() == 2)
    assert(dlq.filter(col("error").startsWith("HTTP 400")).count() == 1)
    assert(dlq.filter(col("error").startsWith("ambiguous")).count() == 1)

    val ledger = spark.read.parquet(s"$dir/ledger")
    assert(ledger.count() == 1 && ledger.collect()(0).getAs[String]("status") == "partial")
  }

  test("DLQ rows round-trip the failed record's JSON payload (main.py:398)") {
    val dir = freshDir()
    val src = mkSource(Seq("FAIL400-X" -> "2024-01-01 00:00:00",
      "OK-Y" -> "2024-01-02 00:00:00"))
    val cfg = SyncJob.Config("patients", "contacts", nowMs = 1750000000000L)
    SyncJob.run(spark, src, cfg, dir, new StubTransport)
    val dlq = spark.read.parquet(s"$dir/dlq").collect()
    assert(dlq.length == 1)
    // the reference stores the full JSON payload (truncated to 90 000);
    // pre-round-2 this was a literal "{}"
    assert(dlq(0).getAs[String]("payload") == """{"k":"v"}""")
  }

  test("DLQ truncation parity: payload capped at 90 000, error at 10 000 (main.py:398-399)") {
    val dir = freshDir()
    // a single failing record whose JSON payload and error body both
    // exceed the reference's DLQ caps
    val src = Seq(("FAIL-BIG", "2024-01-01 00:00:00", "x" * 120000))
      .toDF("natural_key", "upd", "big")
      .select(col("natural_key"), col("upd").cast("timestamp").as("updated_at"),
        map(lit("k"), col("big")).as("props"))
    val hugeErrTransport = new graft.sink.UpsertTransport {
      override def send(objectType: String, batch: Seq[graft.sink.UpsertRecord]) =
        batch.map(_ => graft.sink.TransportStatus(400, None, "e" * 20000))
    }
    val cfg = SyncJob.Config("patients", "contacts", nowMs = 1750000000000L)
    SyncJob.run(spark, src, cfg, dir, hugeErrTransport)
    val row = spark.read.parquet(s"$dir/dlq").collect()(0)
    assert(row.getAs[String]("payload").length == 90000)
    assert(row.getAs[String]("error").length == 10000)
    assert(row.getAs[String]("error").startsWith("HTTP 400"))
  }

  test("DLQ attempt is the cross-run counter — alert reachable after N nightly retries") {
    val dir = freshDir()
    val cfg = SyncJob.Config("patients", "contacts", nowMs = 1750000000000L)
    SyncJob.run(spark, mkSource(Seq("FAIL400-P" -> "2024-01-01 00:00:00")),
      cfg, dir, new StubTransport)
    SyncJob.run(spark, mkSource(Seq("FAIL400-P" -> "2024-01-02 00:00:00")),
      cfg.copy(nowMs = 1750000100000L), dir, new StubTransport)
    // the reference increments per (job, key, error) across runs
    // (main.py:404-420): one failure per nightly run → 1 then 2, so the
    // 5-attempt alert threshold is actually reachable
    val attempts = spark.read.parquet(s"$dir/dlq")
      .filter(col("natural_key") === "FAIL400-P")
      .collect().map(_.getAs[Long]("attempt")).sorted
    assert(attempts.toSeq == Seq(1L, 2L), s"got ${attempts.toSeq}")
    assert(SyncJob.alerts(spark.read.parquet(s"$dir/dlq"), 2).count() == 1)
  }

  test("P4: configured protected properties never reach the sink payload") {
    val cfg = new RunConfig(Map("roi.protected.properties" -> "amount, status"))
    val keys = Pipelines.roisSource(spark, sf0001, cfg)
      .select(explode(map_keys(col("props"))).as("k")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(!keys.contains("amount") && !keys.contains("status"), s"leaked: $keys")
    assert(keys.contains("roi_id") && keys.contains("patient_chart"))
    // without the config the same keys flow through
    val open = Pipelines.roisSource(spark, sf0001)
      .select(explode(map_keys(col("props"))).as("k")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(open.contains("amount") && open.contains("status"))
  }

  test("bucketed id-map merge rewrites only the touched buckets") {
    val dir = freshDir() + "/id_map_bucketed"
    def mapDf(rows: Seq[(String, String, String)]) =
      rows.toDF("natural_key", "hubspot_id", "upd")
        .select(lit("contacts").as("hubspot_object_type"), col("natural_key"),
          col("hubspot_id"), col("upd").cast("timestamp").as("updated_at"))
    def bucketFiles(): Map[String, Set[String]] = {
      val base = new java.io.File(dir)
      base.listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    }
    val seed = mapDf((0 until 200).map(i => (s"K$i", s"ID$i", "2024-01-01 00:00:00")))
    SyncJob.mergeIdMapBucketed(spark, dir, seed, numBuckets = 8)
    val before = bucketFiles()
    assert(before.size > 1, "seed should span several buckets")

    SyncJob.mergeIdMapBucketed(spark, dir,
      mapDf(Seq(("K5", "ID5-NEW", "2024-06-01 00:00:00"))), numBuckets = 8)
    val after = bucketFiles()
    val changed = before.keySet.filter(b => before(b) != after(b))
    assert(changed.size == 1, s"exactly one bucket should be rewritten, got $changed")

    // merged content: K5 updated (last writer wins), everything else intact
    val m = spark.read.parquet(dir)
    assert(m.count() == 200)
    assert(m.filter(col("natural_key") === "K5").collect()
      .head.getAs[String]("hubspot_id") == "ID5-NEW")
    // stale-timestamp update loses (same LWW contract as mergeIdMap)
    SyncJob.mergeIdMapBucketed(spark, dir,
      mapDf(Seq(("K5", "ID5-STALE", "2023-01-01 00:00:00"))), numBuckets = 8)
    assert(spark.read.parquet(dir).filter(col("natural_key") === "K5").collect()
      .head.getAs[String]("hubspot_id") == "ID5-NEW")
  }

  test("re-run is idempotent: matched keys become updates, not creates") {
    val dir = freshDir()
    val src = mkSource(Seq("A" -> "2024-01-01 00:00:00", "B" -> "2024-01-02 00:00:00"))
    val cfg1 = SyncJob.Config("patients", "contacts", nowMs = 1750000000000L)
    val s1 = SyncJob.run(spark, src, cfg1, dir, new StubTransport)
    assert(s1.createdCount == 2 && s1.status == "success")
    assert(s1.highWatermarkMs.contains(
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00").getTime))

    // second run: same rows *plus later updates* so the delta filter
    // (watermark from run 1) still admits them
    val src2 = mkSource(Seq("A" -> "2024-03-01 00:00:00", "B" -> "2024-03-02 00:00:00"))
    val s2 = SyncJob.run(spark, src2,
      cfg1.copy(nowMs = 1750000100000L), dir, new StubTransport)
    assert(s2.createdCount == 0 && s2.updatedCount == 2)
    // id map still has exactly one row per key
    assert(spark.read.parquet(s"$dir/id_map").groupBy("natural_key").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("watermark delta: rows at-or-before the watermark are not re-read") {
    val dir = freshDir()
    val cfg = SyncJob.Config("patients", "contacts", nowMs = 1750000000000L)
    SyncJob.run(spark, mkSource(Seq("A" -> "2024-01-05 00:00:00")), cfg, dir, new StubTransport)
    // second run sees an old row (before wm) and a new one
    val s2 = SyncJob.run(spark,
      mkSource(Seq("OLD" -> "2024-01-01 00:00:00", "NEW" -> "2024-02-01 00:00:00")),
      cfg.copy(nowMs = 1750000100000L), dir, new StubTransport)
    assert(s2.readCount == 1) // only NEW passes the delta filter
    val ids = spark.read.parquet(s"$dir/id_map").collect().map(_.getString(1)).toSet
    assert(ids == Set("A", "NEW"))
  }

  test("retry/backoff: 429 retried to success; 503 exhausts to sentinel 599") {
    val upserter = new RetryingUpserter(new StubTransport, sleeper = _ => ())
    val out = upserter.upsertBatch("contacts", Seq(
      UpsertRecord("RETRY-X", None, Map()),
      UpsertRecord("FLAKY-Y", Some("old"), Map()),
      UpsertRecord("OK", None, Map())))
    val byKey = out.map(r => r.naturalKey -> r).toMap
    assert(byKey("RETRY-X").outcome == "created" && byKey("RETRY-X").attempts == 3)
    assert(byKey("FLAKY-Y").outcome == "failed")
    assert(byKey("FLAKY-Y").error.get.startsWith("HTTP 599")) // main.py:457 sentinel
    assert(byKey("OK").outcome == "created" && byKey("OK").attempts == 1)
  }

  test("rate limit: token bucket paces sends at 1/rate, retries count, idle banks no burst") {
    var clock = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sleep(ms: Long): Unit = { sleeps += ms; clock += ms * 1000000L }
    StubLog.reset()
    val up = new RetryingUpserter(new StubTransport, sleeper = sleep,
      maxRequestsPerSec = 2.0, nanoTime = () => clock) // min gap 500 ms
    up.upsertBatch("contacts", Seq(UpsertRecord("A", None, Map())))
    assert(sleeps.isEmpty) // first send is free
    up.upsertBatch("contacts", Seq(UpsertRecord("B", None, Map())))
    up.upsertBatch("contacts", Seq(UpsertRecord("C", None, Map())))
    assert(sleeps.toSeq == Seq(500L, 500L), s"got $sleeps")
    // a RETRY key 429s twice: its 3 sends interleave pacing with the
    // backoff sleeps (500+1000 ms), and pacing only tops up to the gap
    sleeps.clear()
    up.upsertBatch("contacts", Seq(UpsertRecord("RETRY-R", None, Map())))
    // send1: pace 500 (gap since C); send2: backoff 500 covers the gap,
    // no pace sleep; send3: backoff 1000 covers the gap, no pace sleep
    assert(sleeps.toSeq == Seq(500L, 500L, 1000L), s"got $sleeps")
    // idle periods do not bank a burst: after a long quiet stretch two
    // back-to-back sends still pace
    sleeps.clear()
    clock += 60L * 1000000000L
    up.upsertBatch("contacts", Seq(UpsertRecord("D", None, Map())))
    up.upsertBatch("contacts", Seq(UpsertRecord("E", None, Map())))
    assert(sleeps.toSeq == Seq(500L), s"got $sleeps")
    StubLog.reset()
  }

  test("backoff schedule matches min(30, 0.5·2^(n-1)) (main.py:441)") {
    assert(RetryPolicy.backoffSec(1) == 0.5)
    assert(RetryPolicy.backoffSec(2) == 1.0)
    assert(RetryPolicy.backoffSec(3) == 2.0)
    assert(RetryPolicy.backoffSec(7) == 30.0) // capped
  }

  test("sink batches at the configured size (50; main.py:51)") {
    val dir = freshDir()
    StubLog.reset()
    val transport = new StubTransport
    val rows = (1 to 120).map(i => (f"K$i%03d", "2024-01-01 00:00:00"))
    val src = mkSource(rows).coalesce(1) // single partition → deterministic chunks
    SyncJob.run(spark, src, SyncJob.Config("patients", "contacts",
      batchSize = 50, nowMs = 1750000000000L), dir, transport)
    assert(transport.batchSizes.sorted == Seq(20, 50, 50))
  }

  test("transport crash fails the run without corrupting control tables") {
    val dir = freshDir()
    // seed a successful run so there is a watermark to protect
    val cfg = SyncJob.Config("patients", "contacts", nowMs = 1750000000000L)
    SyncJob.run(spark, mkSource(Seq("A" -> "2024-01-05 00:00:00")), cfg, dir, new StubTransport)
    val wmBefore = SyncJob.readHighWatermark(spark.read.parquet(s"$dir/ledger"), "patients")
    assert(wmBefore.isDefined)
    val ledgerRows = spark.read.parquet(s"$dir/ledger").count()

    // a transport that throws (not an HTTP error — a crash)
    val boom = new UpsertTransport {
      override def send(objectType: String, batch: Seq[UpsertRecord]) =
        throw new RuntimeException("connection pool exploded")
    }
    // the reference's run_job records the crash in the ledger (finally,
    // status="failed", watermark held) and returns a failed summary
    // rather than throwing (main.py:839-857)
    val failed = SyncJob.run(spark, mkSource(Seq("B" -> "2024-02-01 00:00:00")),
      cfg.copy(nowMs = 1750000100000L), dir, boom)
    assert(failed.status == "failed" && failed.errorCount == 1)
    // watermark held, failed ledger row appended, id map unchanged
    assert(SyncJob.readHighWatermark(
      spark.read.parquet(s"$dir/ledger"), "patients") == wmBefore)
    assert(spark.read.parquet(s"$dir/ledger").count() == ledgerRows + 1)
    assert(spark.read.parquet(s"$dir/ledger")
      .filter(col("status") === "failed").count() == 1)
    assert(spark.read.parquet(s"$dir/id_map").collect().map(_.getString(1)).toSet == Set("A"))

    // recovery: the same delta re-runs cleanly afterwards
    val s3 = SyncJob.run(spark, mkSource(Seq("B" -> "2024-02-01 00:00:00")),
      cfg.copy(nowMs = 1750000200000L), dir, new StubTransport)
    assert(s3.createdCount == 1 && s3.status == "success")
  }

  test("control tables under a file:// URI controlDir: created once, then reused") {
    val dir = "file://" + freshDir()
    val cfg = SyncJob.Config("patients", "contacts", nowMs = 1750000000000L)
    val s1 = SyncJob.run(spark, mkSource(Seq("A" -> "2024-01-01 00:00:00")), cfg, dir,
      new StubTransport)
    assert(s1.createdCount == 1 && s1.status == "success")
    // the second run must find the id map written by the first (an
    // existence check that misreads the URI would recreate it empty and
    // turn the update into a second create)
    val s2 = SyncJob.run(spark, mkSource(Seq("A" -> "2024-02-01 00:00:00")),
      cfg.copy(nowMs = 1750000100000L), dir, new StubTransport)
    assert(s2.createdCount == 0 && s2.updatedCount == 1, s2)
    assert(spark.read.parquet(s"$dir/ledger").count() == 2)
    assert(spark.read.parquet(s"$dir/id_map").collect().map(_.getString(1)).toSeq == Seq("A"))
  }

  /** A control dir after one successful run that mapped A and B. */
  private def mappedAB(): (String, SyncJob.Config) = {
    val dir = freshDir()
    val cfg = SyncJob.Config("patients", "contacts", nowMs = 1750000000000L)
    SyncJob.run(spark, mkSource(Seq("A" -> "2024-01-01 00:00:00", "B" -> "2024-01-02 00:00:00")),
      cfg, dir, new StubTransport)
    (dir, cfg.copy(nowMs = 1750000100000L))
  }

  private def idMapKeys(dir: String): Set[String] =
    spark.read.parquet(s"$dir/id_map").collect().map(_.getString(1)).toSet

  test("id-map swap crash window: a committed id_map_next is restored, never an empty map") {
    val (dir, cfg) = mappedAB()
    // a crash between the swap's delete and its rename leaves only the
    // committed next map on disk
    Files.move(java.nio.file.Paths.get(dir, "id_map"), java.nio.file.Paths.get(dir, "id_map_next"))
    assert(new java.io.File(s"$dir/id_map_next/_SUCCESS").exists())
    val s = SyncJob.run(spark,
      mkSource(Seq("A" -> "2024-03-01 00:00:00", "C" -> "2024-03-02 00:00:00")),
      cfg, dir, new StubTransport)
    // A is already mapped → update; only the new key C is created
    assert(s.createdCount == 1 && s.updatedCount == 1 && s.status == "success", s)
    assert(idMapKeys(dir) == Set("A", "B", "C"))
    assert(!new java.io.File(s"$dir/id_map_next").exists())
  }

  test("id-map swap crash window: a committed id_map_next beside the old map wins") {
    val (dir, cfg) = mappedAB()
    // a crash after the merged map committed but before the old one was
    // deleted: both exist, and only the next map knows C's id
    spark.read.parquet(s"$dir/id_map")
      .union(Seq(("contacts", "C", "ID-C", java.sql.Timestamp.valueOf("2025-06-15 00:00:00")))
        .toDF("hubspot_object_type", "natural_key", "hubspot_id", "updated_at"))
      .write.parquet(s"$dir/id_map_next")
    val s = SyncJob.run(spark, mkSource(Seq("C" -> "2024-03-02 00:00:00")),
      cfg, dir, new StubTransport)
    assert(s.createdCount == 0 && s.updatedCount == 1, s)
    assert(idMapKeys(dir) == Set("A", "B", "C"))
  }

  test("id-map swap crash window: an id_map_next without _SUCCESS is ignored") {
    val (dir, cfg) = mappedAB()
    // an interrupted write of the next map: files, but no commit marker
    Seq(("contacts", "Z", "ID-Z", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("hubspot_object_type", "natural_key", "hubspot_id", "updated_at")
      .write.parquet(s"$dir/id_map_next")
    new java.io.File(s"$dir/id_map_next/_SUCCESS").delete()
    val s = SyncJob.run(spark,
      mkSource(Seq("A" -> "2024-03-01 00:00:00", "Z" -> "2024-03-02 00:00:00")),
      cfg, dir, new StubTransport)
    // the live map decides: A updates, Z (only in the torn write) is new
    assert(s.createdCount == 1 && s.updatedCount == 1, s)
    assert(idMapKeys(dir) == Set("A", "B", "Z"))
  }

  test("one run's Spark work is pinned: job count, and id_map scanned by join and merge only") {
    val (dir, cfg) = mappedAB()
    val src = mkSource(Seq("A" -> "2024-03-01 00:00:00", "C" -> "2024-03-02 00:00:00",
      "FAIL400-D" -> "2024-03-03 00:00:00", (null: String) -> "2024-03-04 00:00:00"))
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    def idMapScans(p: SparkPlanInfo): Int =
      (if (p.nodeName.startsWith("Scan") &&
        p.metadata.get("Location").exists(_.contains(s"$dir/id_map]"))) 1 else 0) +
        p.children.map(idMapScans).sum
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val lst = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => scans.addAndGet(idMapScans(s.sparkPlanInfo))
        case _ => ()
      }
    }
    org.apache.spark.graft.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(lst)
    val s = try {
      val s = SyncJob.run(spark, src, cfg, dir, new StubTransport)
      org.apache.spark.graft.ListenerBusAccess.drain(spark.sparkContext)
      s
    } finally spark.sparkContext.removeSparkListener(lst)
    assert(s.readCount == 4 && s.createdCount == 1 && s.updatedCount == 1 &&
      s.errorCount == 1 && s.skippedCount == 1, s)
    info(s"jobs=${jobs.get} id_map scans=${scans.get}")
    // every phase (watermark, sink, counts, merge, DLQ, ledger) is one
    // action; a cached copy of the merged map or a copy-back of
    // id_map_next would add jobs and, for the former, a third scan
    assert(jobs.get <= 11, s"${jobs.get} Spark jobs for one run")
    assert(scans.get == 2, s"id_map scanned ${scans.get} times")
  }

  test("alerts fire at >=5 attempts only (A3; main.py:716,764)") {
    val dlq = Seq(
      ("patients", "k1", "HTTP 500", 4L),
      ("patients", "k1", "HTTP 500", 5L),
      ("patients", "k2", "HTTP 400", 2L))
      .toDF("job_type", "natural_key", "error", "attempt")
    val posted = mutable.Buffer[String]()
    val n = Pipelines.postAlerts(dlq, 5, posted += _)
    assert(n == 1 && posted.head.contains("k1") && posted.head.contains("attempts=5"))
  }

  test("run-scoped alerts: only keys that failed THIS run re-alert (main.py:716-727)") {
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val dlq = Seq(
      // k_old crossed the threshold in a PRIOR run and did not fail again
      ("patients", "k_old", "HTTP 500", 5L, t1),
      // k_new crosses the threshold with a failure in THIS run (t2)
      ("patients", "k_new", "HTTP 500", 4L, t1),
      ("patients", "k_new", "HTTP 500", 5L, t2),
      // under threshold this run → silent either way
      ("patients", "k_low", "HTTP 400", 2L, t2))
      .toDF("job_type", "natural_key", "error", "attempt", "ts")
    val posted = mutable.Buffer[String]()
    val n = Pipelines.postAlerts(dlq, 5, posted += _, firedAt = Some(t2))
    assert(n == 1 && posted.head.contains("k_new"), posted)
    // history view (no firedAt) still reports every over-threshold key
    assert(Pipelines.postAlerts(dlq, 5, _ => ()) == 2)
    // a null-key (ambiguous) row this run must not crash the semi-join
    val withNull = dlq.union(Seq(("patients", null: String, "ambiguous: no natural key", 1L, t2))
      .toDF("job_type", "natural_key", "error", "attempt", "ts"))
    assert(Pipelines.postAlerts(withNull, 5, _ => (), firedAt = Some(t2)) == 1)
  }

  test("patients/rois sources satisfy the SyncJob contract on testdata") {
    for (src <- Seq(Pipelines.patientsSource(spark, sf0001),
                    Pipelines.roisSource(spark, sf0001))) {
      assert(src.columns.toSet == Set("natural_key", "updated_at", "props"))
      assert(src.count() > 0)
      // P3: no blank values survive in props
      val blanks = src.select(explode(col("props"))).filter(length(trim(col("value"))) === 0)
      assert(blanks.count() == 0)
    }
  }
}
