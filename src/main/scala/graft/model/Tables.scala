package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All reads are plain parquet scans so Catalyst predicate pushdown /
  * column pruning apply (SURVEY.md §4): callers `.select`/`.filter` on the
  * returned DataFrame and the parquet reader prunes row groups + columns.
  *
  * `events.ts` arrives in one of two physical shapes depending on the
  * testdata generation: parquet TIMESTAMP(NANOS) (read as a long via
  * legacy nanosAsLong and truncated to µs — Spark's vectorized reader
  * cannot produce ns timestamps) or TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) (read as TIMESTAMP_NTZ). Both are normalized
  * to TimestampType (µs, UTC session zone) here so every consumer —
  * `unix_millis`, window ranges, watermarks — sees ONE type; the NTZ→LTZ
  * cast is instant-preserving because every graft session pins
  * `spark.sql.session.timeZone=UTC`, matching DuckDB's naive reading.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(path(sfDir, name))

  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** events with `ts` normalized to TimestampType (µs, UTC). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsDelta(spark, sfDir, None)

  /** Delta-read of events: the watermark predicate is applied to the RAW
    * parquet column (the ns-encoded long) *before* the timestamp
    * conversion, so it pushes into the scan as a row-group filter.
    * Filtering the converted column instead leaves only IsNotNull pushed
    * (Catalyst cannot push through `timestamp_micros(ts div 1000)`) and
    * at 100 TB that is a full-table read. Equivalence is exact:
    * floor(ns/1000) >= wm_µs  ⟺  ns >= wm_µs·1000. */
  def eventsDelta(spark: SparkSession, sfDir: String,
                  watermarkMicros: Option[Long]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path(sfDir, "events"))
    df.schema("ts").dataType match {
      case LongType =>
        val filtered = watermarkMicros
          .map(wm => df.filter(col("ts") >= wm * 1000L)).getOrElse(df)
        // ns since epoch -> µs since epoch (floor; epoch is positive here)
        filtered.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // filter on the RAW NTZ column so the predicate pushes into the
        // parquet scan (a post-cast filter would not), then normalize.
        // The literal folds to an NTZ constant before pushdown; with a
        // UTC session the NTZ→LTZ cast re-labels, never re-bases, µs.
        val filtered = watermarkMicros
          .map(wm => df.filter(
            col("ts") >= timestamp_micros(lit(wm)).cast(TimestampNTZType)))
          .getOrElse(df)
        filtered.withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        watermarkMicros
          .map(wm => df.filter(col("ts") >= timestamp_micros(lit(wm)))).getOrElse(df)
    }
  }

  // ----- control-table schemas (reference DDL, main.py:285-327) -----

  /** reverse_etl_run_ledger — /root/reference/main.py:285-299 */
  val runLedgerSchema: StructType = StructType(Seq(
    StructField("run_id", StringType),
    StructField("started_at", TimestampType),
    StructField("finished_at", TimestampType),
    StructField("job_type", StringType),
    StructField("high_watermark", TimestampType),
    StructField("read_count", LongType),
    StructField("updated_count", LongType),
    StructField("created_count", LongType),
    StructField("skipped_count", LongType),
    StructField("error_count", LongType),
    StructField("status", StringType)))

  /** reverse_etl_dlq — /root/reference/main.py:304-314 */
  val dlqSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("job_type", StringType),
    StructField("natural_key", StringType),
    StructField("hubspot_object_type", StringType),
    StructField("payload", StringType),
    StructField("error", StringType),
    StructField("attempt", LongType)))

  /** hubspot_id_map — /root/reference/main.py:319-326 */
  val idMapSchema: StructType = StructType(Seq(
    StructField("hubspot_object_type", StringType),
    StructField("natural_key", StringType),
    StructField("hubspot_id", StringType),
    StructField("updated_at", TimestampType)))

  /** Idempotent "CREATE TABLE IF NOT EXISTS" analog (main.py:280-328):
    * write an empty DataFrame with the control schema if absent. The
    * check goes through the Hadoop FileSystem of `dir`, so a URI
    * (`file:///…`, `hdfs://…`) resolves the way Spark's writer does. */
  def ensureControlTable(spark: SparkSession, dir: String, name: String,
                         schema: StructType): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(p.toString)
    }
  }
}
