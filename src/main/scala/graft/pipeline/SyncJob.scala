package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.sink.{RetryingUpserter, UpsertRecord, UpsertTransport}

/** The reverse-ETL lifecycle (SURVEY.md §3, Spark replacement), one run:
  *
  *   read parquet → watermark filter → project/derive → join id_map →
  *   batched upsert sink (keyless rows pass through unsent) → durable
  *   results file → outcome agg → merge id_map (last-writer-wins) →
  *   append DLQ + ledger → alert check
  *
  * Each phase is one Spark action: the source and the id map are read
  * once, by the sink's write, and every later phase reads the results
  * file it left. Control tables are parquet dirs under `controlDir`
  * with the reference's DDL schemas (main.py:285-327 → Tables.*Schema),
  * read with those schemas so no read infers one from file footers.
  *
  * Id-map swap: the merged map is written to `id_map_next`, then
  * `id_map` is deleted and `id_map_next` renamed over it (O(1) file
  * operations, not a copy). A crash after `id_map_next` commits and
  * before the rename leaves it on disk with its `_SUCCESS` marker, and
  * it is always newer than `id_map`; the next run finds it on start and
  * finishes the swap before reading anything, so the map is neither
  * stale nor recreated empty. An `id_map_next` without `_SUCCESS` is a
  * write that never committed and is ignored.
  *
  * Scale notes: the id map is broadcast only when small
  * (spark.sql.autoBroadcastJoinThreshold governs — we do NOT force the
  * hint here, unlike the fixture queries, because at 100 TB an id map
  * over all historical keys can exceed broadcast size; Catalyst/AQE
  * picks broadcast vs shuffle from stats — SURVEY.md §7 risk (f)).
  * The sink runs once per partition with batches of `batchSize`;
  * repartition upstream controls sink parallelism vs API rate limits.
  */
object SyncJob {

  final case class Summary(
      runId: String,
      jobType: String,
      readCount: Long,
      createdCount: Long,
      updatedCount: Long,
      skippedCount: Long,
      errorCount: Long,
      status: String,
      highWatermarkMs: Option[Long])

  final case class Config(
      jobType: String,
      objectType: String,
      batchSize: Int = 50,
      alertThreshold: Int = 5, // attempts (main.py:716,764)
      nowMs: Long,             // injected clock for determinism
      // streaming micro-batches are already deltas (the checkpoint owns
      // progress), so StreamingSync disables the ledger-watermark filter
      useWatermark: Boolean = true,
      // proactive sink rate cap, PER PARTITION TASK (0 = unlimited):
      // set to global_api_budget / max_concurrent_sink_tasks so a wide
      // cluster cannot stampede the target API (see RetryingUpserter)
      maxRequestsPerSec: Double = 0.0)

  /** Latest successful watermark (A1). Falls back to None = full scan. */
  def readHighWatermark(ledger: DataFrame, jobType: String): Option[java.sql.Timestamp] = {
    val rows = ledger
      .filter(col("status") === "success" && col("job_type") === jobType &&
        col("high_watermark").isNotNull)
      .agg(max_by(col("high_watermark"), col("finished_at")).as("wm"))
      .collect()
    rows.headOption.flatMap(r => Option(r.getTimestamp(0)))
  }

  /** Last-writer-wins merge of new (key → id) mappings into the id map
    * (J5; main.py:354-371 MERGE re-expressed). Small-table full rewrite. */
  def mergeIdMap(old: DataFrame, updates: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("hubspot_object_type"), col("natural_key"))
      .orderBy(col("updated_at").desc, col("hubspot_id").desc)
    old.unionByName(updates)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Partitioned (Delta-style) last-writer-wins merge for the regime
    * where the id map itself approaches fact-table size and the full
    * rewrite of `mergeIdMap` stops scaling (SURVEY.md §7 risk (f); noted
    * in the round-1 review). The map lives as a parquet table
    * hash-partitioned on `bucket = pmod(xxhash64(natural_key), n)`;
    * a merge reads and rewrites ONLY the buckets the update batch
    * touches — O(update batch), not O(id map):
    *
    *  - partition pruning keeps the read to the touched bucket dirs;
    *  - dynamic partition overwrite replaces just those dirs on write;
    *  - the bucket list collected to the driver is ≤ numBuckets ints.
    */
  def mergeIdMapBucketed(spark: SparkSession, dir: String, updates: DataFrame,
                         numBuckets: Int = 64): Unit = {
    val withBucket = updates.withColumn("bucket",
      pmod(xxhash64(col("natural_key")), lit(numBuckets)).cast("int"))
    val touched = withBucket.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing =
      if (fs.exists(path))
        spark.read.parquet(dir).filter(col("bucket").isin(touched: _*))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        withBucket.schema)
    val merged = mergeIdMap(existing, withBucket)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** One sync run.
    *
    * @param source    pre-projected source: must carry `natural_key`
    *                  (nullable), `updated_at`, `props` (map<string,string>,
    *                  already blank-filtered)
    * @param controlDir parquet dir holding id_map / dlq / ledger
    */
  def run(spark: SparkSession, source: DataFrame, cfg: Config,
          controlDir: String, transport: UpsertTransport): Summary = {
    import spark.implicits._

    val runId = s"${cfg.jobType}-${cfg.nowMs}"
    val started = new java.sql.Timestamp(cfg.nowMs)

    // finish an id-map swap a crashed run left half done BEFORE the
    // existence check below, which would otherwise recreate it empty
    val nextCommitted = new Path(s"$controlDir/id_map_next/_SUCCESS")
    if (nextCommitted.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(nextCommitted)) {
      swapIdMap(spark, controlDir)
      EtlLog.info("id_map_recovered", "run_id" -> runId, "job_type" -> cfg.jobType)
    }
    ControlSchemas.foreach { case (name, schema) =>
      Tables.ensureControlTable(spark, controlDir, name, schema)
    }

    // --- S2/F1: delta read from the last successful watermark ---
    // (read OUTSIDE the try, like the reference — main.py:821)
    val wm = if (cfg.useWatermark)
      readHighWatermark(readControl(spark, controlDir, "ledger"), cfg.jobType) else None
    val delta = wm.map(t => source.filter(col("updated_at") >= lit(t))).getOrElse(source)

    // The reference's run_job never lets an exception escape without a
    // ledger row: the finally block records status="failed" with the
    // watermark HELD, and the job returns a failed summary
    // (main.py:839-857). Mirror that: any crash below lands here.
    // runBody's success-ledger append is its LAST fatal step (cleanup
    // after it is non-fatal), so reaching this catch implies no success
    // row was written — the run can never leave two contradictory rows.
    try runBody(spark, delta, cfg, controlDir, transport, runId, started, wm)
    catch {
      case e: Exception =>
        EtlLog.error("job_exception",
          "run_id" -> runId, "job_type" -> cfg.jobType,
          "error" -> (e.toString + " @ " +
            e.getStackTrace.take(3).mkString(" <- ")))
        val failedRow = Seq((runId, started, new java.sql.Timestamp(cfg.nowMs + 1),
          cfg.jobType, wm.orNull, 0L, 0L, 0L, 0L, 1L, "failed"))
          .toDF("run_id", "started_at", "finished_at", "job_type", "high_watermark",
            "read_count", "updated_count", "created_count", "skipped_count",
            "error_count", "status")
        failedRow.write.mode(SaveMode.Append).parquet(s"$controlDir/ledger")
        Summary(runId, cfg.jobType, 0, 0, 0, 0, 1, "failed", wm.map(_.getTime))
    }
  }

  private val ControlSchemas = Seq(
    "id_map" -> Tables.idMapSchema, "dlq" -> Tables.dlqSchema,
    "ledger" -> Tables.runLedgerSchema)

  private def readControl(spark: SparkSession, controlDir: String, name: String): DataFrame =
    spark.read.schema(ControlSchemas.toMap.apply(name)).parquet(s"$controlDir/$name")

  /** Outcome of a keyless row in the results file: never sent, DLQ'd. */
  private final val Ambiguous = "ambiguous"

  /** A sink input row: natural_key, existing_id, props, payload, updated_at. */
  private type SinkIn = (String, Option[String], Map[String, String], String, java.sql.Timestamp)

  private def runBody(spark: SparkSession, delta: DataFrame, cfg: Config,
                      controlDir: String, transport: UpsertTransport,
                      runId: String, started: java.sql.Timestamp,
                      wm: Option[java.sql.Timestamp]): Summary = {
    import spark.implicits._

    // --- J1: existing-id lookup (AQE picks broadcast vs shuffle) ---
    val idMap = readControl(spark, controlDir, "id_map")
      .filter(col("hubspot_object_type") === cfg.objectType)
      .select(col("natural_key").as("im_key"), col("hubspot_id").as("existing_id"))
    val matched = delta.join(idMap, delta("natural_key") === col("im_key"), "left")

    // --- S6/S7 + F3: batched, retrying sink; results come back as a DF.
    // A row with no key at all is ambiguous (F3): it bypasses the sink
    // and lands in the results file as outcome "ambiguous" for the DLQ.
    val batchSize = cfg.batchSize
    val objectType = cfg.objectType
    val sinkOut = matched
      .select(col("natural_key"), col("existing_id"), col("props"),
        // DLQ payload fidelity (main.py:398): the record's full JSON
        // payload, truncated to 90 000 chars, rides along with the
        // record so the DLQ write needs no join back to the source
        substring(to_json(col("props")), 1, 90000).as("payload"),
        col("updated_at"))
      .as[SinkIn]
      .mapPartitions { rows =>
        val upserter = new RetryingUpserter(transport,
          maxRequestsPerSec = cfg.maxRequestsPerSec)
        val batch = scala.collection.mutable.ArrayBuffer.empty[SinkIn]
        // upsertBatch results are order-aligned with its input; keep
        // the payload only on failures so the durable results file
        // stays lean at scale
        def flush() = {
          val chunk = batch.toSeq
          batch.clear()
          val recs = chunk.map { case (k, id, props, _, _) => UpsertRecord(k, id, props) }
          upserter.upsertBatch(objectType, recs).zip(chunk).map {
            case (r, (_, _, _, payload, upd)) =>
              (r.naturalKey, r.hubspotId, r.outcome, r.error, r.attempts,
                if (r.outcome == "failed") payload else null, upd)
          }
        }
        // batches hold keyed rows only, so their composition is the
        // same as if keyless rows had been filtered out upstream
        rows.flatMap {
          case (null, _, _, payload, upd) =>
            Seq((null, None, Ambiguous, None, 0, payload, upd))
          case row =>
            batch += row
            if (batch.size == batchSize) flush() else Nil
        } ++ (if (batch.nonEmpty) flush() else Nil)
      }.toDF("natural_key", "hubspot_id", "outcome", "error", "attempts", "payload",
        "updated_at")
    // The sink is non-idempotent at the HTTP level, so its output is
    // persisted durably in ONE pass and re-read for every downstream
    // use — a .cache() can silently recompute (evicted partitions, AQE
    // replans) which would re-send the batch.
    val resultsDir = s"$controlDir/results_$runId"
    sinkOut.write.mode(SaveMode.Overwrite).parquet(resultsDir)
    val results = spark.read.schema(sinkOut.schema).parquet(resultsDir)

    // --- A4 + T1: outcome counters (distributed agg, no accumulators)
    // and the watermark candidate, max(updated_at) of the keyed rows
    // (the tighter variant the reference's comment wishes for,
    // main.py:838), in one pass ---
    val byOutcome = results.groupBy("outcome")
      .agg(count(lit(1)), max(col("updated_at"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), Option(r.getTimestamp(2)))).toMap
    def outcomes(o: String): Long = byOutcome.get(o).fold(0L)(_._1)
    val created = outcomes("created")
    val updated = outcomes("updated")
    val failed = outcomes("failed")
    val skipped = outcomes(Ambiguous)
    val readCount = byOutcome.values.map(_._1).sum
    val maxUpdated = byOutcome.collect { case (o, (_, Some(t))) if o != Ambiguous => t }
      .reduceOption((a, b) => if (a.after(b)) a else b)

    // --- J5: merge new ids into the id map (idempotent re-runs), then
    // swap it in by rename (see the object doc for the crash rule) ---
    val newIds = results.filter(col("hubspot_id").isNotNull && col("outcome") =!= "failed")
      .select(lit(cfg.objectType).as("hubspot_object_type"), col("natural_key"),
        col("hubspot_id"), lit(started).as("updated_at"))
    mergeIdMap(readControl(spark, controlDir, "id_map"), newIds)
      .write.mode(SaveMode.Overwrite).parquet(s"$controlDir/id_map_next")
    swapIdMap(spark, controlDir)

    // --- S5/T2: DLQ append — sink failures + ambiguous rows ---
    // `attempt` is the CROSS-RUN counter the reference keeps
    // (read_failure_attempts + 1 per (job, key, error) — main.py:404-420,
    // 713-715): a record failing once per nightly run reaches the
    // alert threshold after 5 runs. The within-run HTTP try count is a
    // different number (retry/backoff bookkeeping) and is not it.
    // Counting joins on the STABLE error class ("HTTP 400"), never the
    // raw transport text — real CRM error bodies embed per-request
    // correlation ids, so raw-text keys would never repeat and the
    // counter would stay at 1 forever. The full text still lands in the
    // DLQ row for debugging.
    val newError = substring(coalesce(col("error"), lit("unknown")), 1, 10000)
    val failDlq =
      if (failed == 0)
        // no failures → don't aggregate the (ever-growing, append-only)
        // DLQ at all; under StreamingSync this would otherwise run per
        // micro-batch for nothing
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Tables.dlqSchema)
      else {
        val priorAttempts = readControl(spark, controlDir, "dlq")
          .filter(col("job_type") === cfg.jobType)
          .groupBy(col("natural_key").as("pk"), errorClass(col("error")).as("pe"))
          .agg(max(col("attempt")).as("prior"))
        results.filter(col("outcome") === "failed")
          .withColumn("error_txt", newError)
          .join(priorAttempts,
            col("natural_key") === col("pk") &&
              errorClass(col("error_txt")) === col("pe"), "left")
          .select(lit(started).as("ts"), lit(cfg.jobType).as("job_type"),
            col("natural_key"), lit(cfg.objectType).as("hubspot_object_type"),
            // reference truncates DLQ payloads at 90 000 chars (errors
            // at 10 000, applied in newError above) — main.py:398-399
            substring(coalesce(col("payload"), lit("{}")), 1, 90000).as("payload"),
            col("error_txt").as("error"),
            (coalesce(col("prior"), lit(0L)) + 1L).as("attempt"))
      }
    val ambDlq = results.filter(col("outcome") === Ambiguous)
      .select(lit(started).as("ts"), lit(cfg.jobType).as("job_type"),
        lit(null).cast("string").as("natural_key"),
        lit(cfg.objectType).as("hubspot_object_type"),
        col("payload"),
        lit("ambiguous: no natural key").as("error"),
        lit(1L).as("attempt"))
    failDlq.unionByName(ambDlq).write.mode(SaveMode.Append).parquet(s"$controlDir/dlq")

    val status = if (failed == 0) "success" else "partial"
    val newWm = if (failed == 0) maxUpdated.orElse(wm) else wm // hold on failure

    // --- S4: ledger append ---
    val ledgerRow = Seq((runId, started, new java.sql.Timestamp(cfg.nowMs + 1),
      cfg.jobType, newWm.orNull, readCount, updated, created, skipped, failed, status))
      .toDF("run_id", "started_at", "finished_at", "job_type", "high_watermark",
        "read_count", "updated_count", "created_count", "skipped_count",
        "error_count", "status")
    ledgerRow.write.mode(SaveMode.Append).parquet(s"$controlDir/ledger")

    // Post-ledger steps are NON-FATAL by design: the success row is
    // already durable, so a cleanup hiccup must not trip run()'s catch
    // and append a contradictory "failed" row for the same run.
    try {
      // the per-run sink-results dir has served every consumer (counts,
      // id-map merge, DLQ); drop it or StreamingSync accumulates one
      // directory per micro-batch forever
      val resultsPath = new Path(resultsDir)
      val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(resultsPath, true)
    } catch {
      case e: Exception =>
        EtlLog.error("results_cleanup_failed",
          "run_id" -> runId, "error" -> String.valueOf(e.getMessage))
    }
    // structured, PHI-safe run log (the reference's JSON log surface)
    EtlLog.info("sync_run_complete",
      "run_id" -> runId, "job_type" -> cfg.jobType, "status" -> status,
      "read_count" -> readCount, "created" -> created, "updated" -> updated,
      "skipped" -> skipped, "errors" -> failed,
      "high_watermark_ms" -> newWm.map(_.getTime).getOrElse(-1L))
    Summary(runId, cfg.jobType, readCount, created, updated, skipped, failed,
      status, newWm.map(_.getTime))
  }

  /** Publishes `id_map_next` as `id_map`: delete, then rename. The
    * session's cached plans over either path are refreshed, since the
    * files under them changed outside Spark's writer. */
  private def swapIdMap(spark: SparkSession, controlDir: String): Unit = {
    val live = new Path(s"$controlDir/id_map")
    val next = new Path(s"$controlDir/id_map_next")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(live, true)
    if (!fs.rename(next, live))
      throw new java.io.IOException(s"id-map swap: rename $next -> $live failed")
    Seq(live, next).foreach(p => spark.catalog.refreshByPath(p.toString))
  }

  /** Stable error identity for attempt counting and alerting: the
    * "HTTP <code>" prefix when present, else the whole (truncated) text.
    * Raw transport bodies vary per request (correlation ids, timestamps)
    * and must never key a cross-run counter. */
  def errorClass(error: Column): Column = {
    val cls = regexp_extract(error, "^(HTTP [0-9]+)", 1)
    when(cls =!= "", cls).otherwise(coalesce(error, lit("unknown")))
  }

  /** A2/A3: per-(job,key,error-class) attempt maxima at-or-over the
    * alert threshold — the caller posts these to its alert sink (S11).
    * Returns a SMALL DataFrame (collect-safe by construction). */
  /** With `firedAt`, alerting is RUN-SCOPED, matching the reference: it
    * alerts at the moment a failure THIS run pushes the cross-run
    * counter to ≥ threshold (main.py:716-727) — keys already over
    * threshold that did NOT fail again this run stay quiet instead of
    * re-alerting every nightly run forever. `firedAt` is the run's DLQ
    * append timestamp (`ts` of this run's rows); None keeps the
    * whole-history view (the audit/backfill shape). */
  def alerts(dlq: DataFrame, threshold: Int,
             firedAt: Option[java.sql.Timestamp] = None): DataFrame = {
    def over(rows: DataFrame): DataFrame =
      rows.groupBy(col("job_type"), col("natural_key"),
          errorClass(col("error")).as("error"))
        .agg(coalesce(max(col("attempt")), lit(0L)).as("attempts"))
        .filter(col("attempts") >= threshold)
    firedAt match {
      case None => over(dlq)
      case Some(ts) =>
        // only this run's (job, key, error-class) triples can fire, so
        // the history is narrowed to them BEFORE the aggregation: the
        // this-run set is small (rows appended in one run) and the
        // semi-join broadcasts it, so the groupBy shuffles only the
        // history of keys that failed again — never the whole DLQ.
        // Same groups, same maxima as aggregating first.
        val thisRun = dlq.filter(col("ts") === lit(ts))
          .select(col("job_type").as("fjob"), col("natural_key").as("fkey"),
            errorClass(col("error")).as("ferr"))
          .distinct()
        over(dlq.join(broadcast(thisRun),
          col("job_type") === col("fjob") &&
            col("natural_key") <=> col("fkey") &&
            errorClass(col("error")) === col("ferr"),
          "left_semi"))
    }
  }
}
