package graft.pipeline

import graft.sink.{TransportStatus, UpsertRecord, UpsertTransport}

/** Staging transport: accepts every batch, synthesizes deterministic ids
  * — lets the full pipeline run end-to-end with zero egress. */
final class DryRunTransport extends UpsertTransport {
  override def send(objectType: String, batch: Seq[UpsertRecord]): Seq[TransportStatus] =
    batch.map(r => TransportStatus(201, Some(s"DRY-${r.naturalKey}"), "dry-run"))
}

/** Runs both reference pipelines (patients, rois — main.py:863-867)
  * against testdata with the dry-run transport; prints the run
  * summaries and re-runs patients to demonstrate watermark + idempotent
  * upsert behavior. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val ctl = java.nio.file.Files.createTempDirectory("graft-demo-").toString
    val spark = graft.Dev.local("4", "WARN", graft.Dev.Utc)

    val t = new DryRunTransport
    val run1 = SyncJob.run(spark, Pipelines.patientsSource(spark, sfDir),
      SyncJob.Config("patients", "contacts", nowMs = 1754000000000L), ctl, t)
    println(s"run1: $run1")
    val run2 = SyncJob.run(spark, Pipelines.patientsSource(spark, sfDir),
      SyncJob.Config("patients", "contacts", nowMs = 1754000100000L), ctl, t)
    println(s"run2: $run2")
    val rois = SyncJob.run(spark, Pipelines.roisSource(spark, sfDir),
      SyncJob.Config("rois", "p_rois", nowMs = 1754000200000L), ctl, t)
    println(s"rois: $rois")
    // run-scoped: only keys that failed in the rois run (the latest)
    // alert — over-threshold history alone stays quiet (main.py:716-727)
    val alerts = Pipelines.postAlerts(spark.read.parquet(s"$ctl/dlq"), 5,
      m => println(s"ALERT: $m"),
      firedAt = Some(new java.sql.Timestamp(1754000200000L)))
    println(s"alerts=$alerts ctl=$ctl")

    // continuous mode: the same lifecycle per micro-batch over a file
    // stream (new parquet files appear -> batch runs -> ledger row)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-src-").toString
    val ssCtl = java.nio.file.Files.createTempDirectory("graft-stream-ctl-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt-").toString
    val schema = StructType(Seq(
      StructField("natural_key", StringType),
      StructField("updated_at", TimestampType),
      StructField("props", MapType(StringType, StringType))))
    import spark.implicits._
    def writeBatch(keys: Seq[String]): Unit =
      keys.map(k => (k, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Map("k" -> "v")))
        .toDF("natural_key", "updated_at", "props")
        .write.mode("append").parquet(srcDir)
    writeBatch(Seq("S1", "S2"))
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val q = StreamingSync.start(spark, stream,
      SyncJob.Config("patients", "contacts", nowMs = 1754001000000L),
      ssCtl, t, ckpt)
    q.processAllAvailable()
    writeBatch(Seq("S3"))
    q.processAllAvailable()
    q.stop()
    val ssLedger = spark.read.parquet(s"$ssCtl/ledger").count()
    val ssKeys = spark.read.parquet(s"$ssCtl/id_map").collect().map(_.getString(1)).sorted
    println(s"streaming: batches=$ssLedger idMapKeys=${ssKeys.mkString(",")}")

    spark.stop()
  }
}
