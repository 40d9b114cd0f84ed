package graftbench

import java.nio.file.{Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Pipelines, SyncJob}

/** The nightly reverse-ETL job, incremental: the patients and rois
  * pipelines run through `SyncJob.run` into one set of control tables,
  * each followed by the alert check. Every iteration starts from a copy
  * of the generated year of history (full id map, ledger watermark, DLQ
  * with the planted keys one attempt below the alert threshold), and
  * the stub transport answers with the planted fault schedule. */
final class SyncDelta(spark: SparkSession, inputs: String, work: Path,
                      expect: JsonNode, seed: Long) extends Workload {
  import Util._

  private val jobs = Seq("patients", "rois")
  private val batchSize = SyncJob.Config("", "", nowMs = 0L).batchSize
  private val now = expect.get("now_ms").asLong
  private val threshold = expect.get("alert_threshold").asInt
  private def exp(job: String): JsonNode = expect.get("jobs").get(job)
  private def strings(n: JsonNode): Set[String] = n.elements().asScala.map(_.asText).toSet
  private def nowOf(job: String): Long = now + jobs.indexOf(job) * 60000L

  private def plantedBy(field: String): Map[String, Set[String]] =
    jobs.map(j => exp(j).get("object").asText -> strings(exp(j).get(field))).toMap

  private val stub = new StubTransport(seed, baseMicros = 1500, jitterMicros = 1000,
    permanent = plantedBy("permanent"), transient = plantedBy("transient"))

  val inputRows: Long = expect.get("input_rows").asLong

  private def source(job: String): DataFrame = job match {
    case "patients" => Pipelines.patientsSource(spark, inputs)
    case "rois" => Pipelines.roisSource(spark, inputs)
  }

  def setup(): Unit = iteration(-1, traced = false)

  def iteration(i: Int, traced: Boolean): Iter = {
    val ctl = work.resolve(s"ctl-$i")
    deleteTree(ctl)
    copyTree(Paths.get(inputs, "control"), ctl)
    StubLog.reset()
    if (traced) { drain(spark); SparkStats.reset() }
    Trace.iteration = i
    group(spark, "t.pipeline")
    val t0 = System.nanoTime()
    val runs = Trace.span("iteration") {
      jobs.map { job =>
        Trace.span(s"pipeline.$job") {
          val s = SyncJob.run(spark, source(job),
            SyncJob.Config(job, exp(job).get("object").asText, nowMs = nowOf(job)),
            ctl.toString, stub)
          val posted = ListBuffer.empty[String]
          Pipelines.postAlerts(spark.read.parquet(s"$ctl/dlq"), threshold,
            m => posted += m, Some(new Timestamp(nowOf(job))))
          (job, s, posted.toList)
        }
      }
    }
    val wall = secs(t0)
    group(spark, "u.check")
    val problems = runs.flatMap { case (job, s, posted) => check(ctl, job, s, posted) }
    val offered = runs.map { case (_, s, _) => s.readCount - s.skippedCount }.sum
    var facts = Map("api_calls_per_record" -> StubLog.sends.get.toDouble / math.max(1L, offered))
    if (traced) facts ++= layerFacts(ctl)
    deleteTree(ctl)
    Iter(wall, problems.isEmpty, problems.mkString("; "), facts)
  }

  /** Every output against what the generator planted. */
  private def check(ctl: Path, job: String, s: SyncJob.Summary,
                    posted: List[String]): Seq[String] = {
    val e = exp(job)
    val bad = ListBuffer.empty[String]
    def eq(what: String, got: Any, want: Any): Unit =
      if (got != want) bad += s"$job $what=$got, expected $want"
    eq("read", s.readCount, e.get("read").asLong)
    eq("created", s.createdCount, e.get("created").asLong)
    eq("updated", s.updatedCount, e.get("updated").asLong)
    eq("skipped", s.skippedCount, e.get("skipped").asLong)
    eq("errors", s.errorCount, e.get("errors").asLong)
    eq("status", s.status, e.get("status").asText)
    eq("watermark", s.highWatermarkMs, Some(e.get("wm_ms").asLong))
    val keys = spark.read.parquet(s"$ctl/id_map")
      .filter(col("hubspot_object_type") === e.get("object").asText)
      .select("natural_key").collect().map(_.getString(0))
    eq("id_map rows", keys.length.toLong, e.get("idmap_count").asLong)
    eq("id_map keys", sha256(keys.sorted.mkString("\n")), e.get("idmap_digest").asText)
    val dlq = spark.read.parquet(s"$ctl/dlq")
      .filter(col("job_type") === job && col("ts") === lit(new Timestamp(nowOf(job))))
      .groupBy("attempt").count().collect()
      .map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    val wantDlq = e.get("dlq_new").fields().asScala.map(f => f.getKey -> f.getValue.asLong).toMap
    eq("dlq attempts", dlq, wantDlq)
    val alerted = posted.map(_.split(" ").find(_.startsWith("key=")).getOrElse("").stripPrefix("key=")).sorted
    eq("alerts", alerted, e.get("alerts").elements().asScala.map(_.asText).toList.sorted)
    val ledger = spark.read.parquet(s"$ctl/ledger")
      .filter(col("run_id") === s"$job-${nowOf(job)}")
      .select(col("status"), col("high_watermark")).collect()
      .map(r => (r.getString(0), Option(r.getTimestamp(1)).map(_.getTime))).toSeq
    eq("ledger", ledger, Seq((e.get("status").asText, Some(e.get("wm_ms").asLong))))
    bad.toSeq
  }

  /** Sink, pipeline and source numbers of the iteration just run, plus
    * the standalone control-table operations timed on its tables. */
  private def layerFacts(ctl: Path): Map[String, Double] = {
    drain(spark)
    val spans = Trace.all.filter(_.iter == Trace.iteration)
    val runs = spans.filter(_.name.startsWith("pipeline."))
    val sends = spans.filter(_.name == "sink.send")
    val runNs = runs.map(_.durNs).sum
    val selfNs = runs.map(r => Trace.selfNs(r, sends.filter(_.parent == r.id))).sum
    val pipe = SparkStats.sum("t.pipeline")
    val lat = StubLog.latencies
    val nSends = StubLog.sends.get.toDouble
    val nRecs = StubLog.records.get.toDouble
    val timedFacts = Map(
      "sink.sends" -> nSends,
      "sink.batch_fill" -> (if (nSends > 0) nRecs / nSends / batchSize else 0.0),
      "sink.transport_s" -> StubLog.transportNs.get / 1e9,
      "sink.send_p50_ms" -> percentile(lat, 0.50) / 1e6,
      "sink.send_p99_ms" -> percentile(lat, 0.99) / 1e6,
      "sink.retries_429" -> StubLog.answered429.get.toDouble,
      "sink.retries_5xx" -> StubLog.answered5xx.get.toDouble,
      "sink.resent_records" -> (if (nRecs > 0) StubLog.resentRecords.get / nRecs else 0.0),
      "sink.wait_s" -> StubLog.waitNs.get / 1e9,
      "pipeline.run_s" -> runNs / 1e9,
      "pipeline.self_s" -> selfNs / 1e9,
      "pipeline.jobs" -> pipe.jobs.toDouble,
      "pipeline.plan_s" -> runs.map(r => SparkStats.planSeconds(r.startMs, r.endMs)).sum,
      "pipeline.bytes_written" -> pipe.bytesWritten.toDouble)
    val sparkFacts = SparkStats.iterationFacts(spans)

    // standalone control-table operations, timed on this iteration's tables
    group(spark, "u.pipeline")
    val ledger = spark.read.parquet(s"$ctl/ledger")
    val (_, wmS) = timed(jobs.foreach(j => SyncJob.readHighWatermark(ledger, j)))
    val idMap = spark.read.parquet(s"$ctl/id_map")
    val updates = idMap.limit(1000).withColumn("updated_at", lit(new Timestamp(now)))
    val (_, mergeS) = timed(noop(SyncJob.mergeIdMap(idMap, updates)))
    val dlq = spark.read.parquet(s"$ctl/dlq")
    val (_, alertS) = timed(SyncJob.alerts(dlq, threshold).collect())
    group(spark, "u.sources")
    val (_, srcS) = timed(jobs.foreach(j => noop(source(j))))
    drain(spark)
    val src = SparkStats.sum("u.sources")
    timedFacts ++ sparkFacts ++ Map(
      "pipeline.watermark_s" -> wmS, "pipeline.id_map_merge_s" -> mergeS,
      "pipeline.alerts_s" -> alertS, "sources.s" -> srcS,
      "sources.records_read" -> src.recordsRead.toDouble,
      "sources.bytes_read" -> src.bytesRead.toDouble)
  }
}
