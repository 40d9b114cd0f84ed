package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.Scalars
import graft.model.Fixtures

/** Concrete pipeline wiring: the two reference jobs (patients → contacts,
  * rois → custom object; main.py:863-867) expressed as source builders
  * that produce SyncJob's contract: `natural_key`, `updated_at`,
  * `props` (map<string,string>, blank-filtered — P3).
  */
object Pipelines {

  /** Null/blank-dropping property map (P3: main.py:610,656). */
  def propsMap(pairs: (String, org.apache.spark.sql.Column)*): org.apache.spark.sql.Column =
    map_filter(
      map(pairs.flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*),
      (_, v) => v.isNotNull && length(trim(v)) > 0)

  /** Patients pipeline source (P1 over the customer stand-in).
    * updated_at is synthesized deterministically from the key (the
    * testdata has no per-customer timestamp). */
  def patientsSource(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Fixtures.patients(spark, sfDir)
    val email = Scalars.emailNorm(col("email_raw"))
    p.select(
      coalesce(col("patient_id"), col("patient_chart"), email,
        Scalars.hash8(col("c_name"))).as("natural_key"),
      timestamp_millis(lit(1704067200000L) + (col("c_custkey") % 90) * 86400000L)
        .as("updated_at"),
      propsMap(
        "patient_id" -> col("patient_id"),
        "patient_chart" -> col("patient_chart"),
        "email" -> email,
        "full_name" -> col("c_name"),
        "segment" -> col("c_mktsegment"),
        "acct_balance" -> col("c_acctbal")).as("props"))
  }

  /** P4: config-driven protected-property drop (main.py:657-658,
    * README.md:77). Keys listed in `roi.protected.properties` (env
    * `ROI_PROTECTED_PROPERTIES`, comma-separated) are removed from every
    * payload before the sink can see them — the reference pops them from
    * each dict; here it is one `map_filter` over the props column. */
  def dropProtected(props: org.apache.spark.sql.Column, cfg: RunConfig): org.apache.spark.sql.Column = {
    val protectedKeys = cfg.get("roi.protected.properties")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    if (protectedKeys.isEmpty) props
    else map_filter(props, (k, _) => !k.isInCollection(protectedKeys))
  }

  /** ROIs pipeline source (P2 over the orders stand-in). Processed rows
    * are skipped up front (F2); protected properties are dropped per the
    * run config (P4). */
  def roisSource(spark: SparkSession, sfDir: String,
                 cfg: RunConfig = new RunConfig()): DataFrame = {
    val r = Fixtures.rois(spark, sfDir)
      .filter(!(lower(col("status")) === "processed" && col("processed_at").isNotNull))
    r.select(
      col("roi_patient_id").as("natural_key"),
      coalesce(col("processed_at"), col("o_orderdate")).as("updated_at"),
      dropProtected(propsMap(
        "roi_id" -> col("roi_id"),
        "status" -> col("status"),
        "amount" -> col("amount"),
        "patient_chart" -> col("roi_patient_chart")), cfg).as("props"))
  }

  /** Production webhook poster for postAlerts (S11: main.py:258-274) —
    * one JSON `{"text": msg}` POST per alert line, 10s timeout. A
    * failed POST (no connection, or a non-2xx answer) never fails the
    * run, matching the reference's try/except around the Slack call,
    * but is logged as `alert_post_failed` with its cause. The URL is
    * not logged: webhook URLs carry their secret in the path. */
  def webhookPoster(url: String): String => Unit = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    msg => {
      // full JSON escaping (EtlLog.esc): DLQ error text can embed raw
      // HTTP bodies with newlines/control chars — a partial escape
      // produces invalid JSON the webhook rejects, silently losing the
      // alert
      val body = "{\"text\": \"" + EtlLog.escape(msg) + "\"}"
      try {
        val status = client.send(java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(url))
          .timeout(java.time.Duration.ofSeconds(10))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
          java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
        if (status / 100 != 2) EtlLog.error("alert_post_failed", "error" -> s"HTTP $status")
      } catch {
        case e: Exception =>
          EtlLog.error("alert_post_failed",
            "error" -> (e.toString + Option(e.getCause).fold("")(c => s" <- $c")))
      }
    }
  }

  /** S11: alert sink — collects the (small) over-threshold aggregate and
    * posts one line per key. Pluggable poster so tests capture instead
    * of egressing; production wires `webhookPoster`. */
  def postAlerts(dlq: DataFrame, threshold: Int, post: String => Unit,
                 firedAt: Option[java.sql.Timestamp] = None): Int = {
    val rows = SyncJob.alerts(dlq, threshold, firedAt).collect()
    rows.foreach { r =>
      post(s"[reverse-etl] ${r.getAs[String]("job_type")} key=${r.getAs[String]("natural_key")} " +
        s"error=${r.getAs[String]("error")} attempts=${r.getAs[Long]("attempts")}")
    }
    rows.length
  }
}
