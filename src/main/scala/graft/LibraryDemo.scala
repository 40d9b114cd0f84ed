package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** User-facing sample: the library surface a reference user would
  * touch after switching — SQL-registered custom expressions,
  * streaming sessionization, multimodal feature extraction feeding
  * similarity search. Run: sbt "runMain graft.LibraryDemo [sfDir]". */
object LibraryDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    implicit val spark: SparkSession = Dev.local("4", "WARN", Dev.Utc)

    // 1. custom expressions through the SQL surface
    graft.expr.GraftFunctions.register(spark)
    val sqlRow = spark.sql(
      """SELECT next_birthday(DATE '1992-02-29', DATE '2026-08-12') AS nb,
        |       dot_product(array(1.0d,2.0d,3.0d), array(4.0d,5.0d,6.0d)) AS dp""".stripMargin)
      .collect()(0)
    println(s"sql: next_birthday=${sqlRow.getDate(0)} dot_product=${sqlRow.getDouble(1)}")

    // 2. streaming-shaped sessionization on the real events table
    val sessions = streaming.EventStreams.sessionWindows(
      model.Tables.events(spark, sfDir), "30 minutes", "1 hour")
    println(s"sessions: n=${sessions.count()} " +
      s"maxEvents=${sessions.agg(max("n_events")).collect()(0).get(0)}")

    // 3. multimodal: binary payloads -> batched stub decode -> ANN input
    val media = multimodal.Multimodal.syntheticMedia(spark, sfDir)
    val feats = multimodal.Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("feature").cast("array<double>").as("v"))
    val sims = feats.as("a").join(feats.as("b"),
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id"), col("b.media_id"),
        graft.expr.ColumnOps.dotProduct(col("a.v"), col("b.v")).as("sim"))
      .orderBy(desc("sim")).limit(3)
    sims.collect().foreach(r =>
      println(f"sim: ${r.getLong(0)}%d ~ ${r.getLong(1)}%d = ${r.getDouble(2)}%.4f"))

    // 4. schema-pinned CSV ingest with quarantine (no inference scan)
    val csvDir = java.nio.file.Files.createTempDirectory("graft-csv-demo-")
    java.nio.file.Files.writeString(csvDir.resolve("in.csv"),
      "id,name,amount\n1,a,10.5\n2,b,20.0\nbad-row,c,zzz\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("amount", org.apache.spark.sql.types.DoubleType)))
    val (clean, bad) = sources.Sources.quarantine(
      sources.Sources.csv(spark, csvDir.toString, schema))
    println(s"csv: clean=${clean.count()} quarantined=${bad.count()}")

    // 5. alert webhook against an in-process endpoint (zero egress)
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(200, 0); ex.close()
    })
    server.start()
    import spark.implicits._
    val dlq = Seq(("patients", "k9", "HTTP 599", 6L))
      .toDF("job_type", "natural_key", "error", "attempt")
    pipeline.Pipelines.postAlerts(dlq, 5,
      pipeline.Pipelines.webhookPoster(s"http://127.0.0.1:${server.getAddress.getPort}"))
    server.stop(0)
    println(s"webhook received: ${received.peek()}")

    // 6. scale techniques: bucketed co-located join + salted skew join
    ops.Scale.writeBucketed(model.Tables.orders(spark, sfDir), "demo_orders", "o_custkey", 8)
    ops.Scale.writeBucketed(
      model.Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey"),
      "demo_customer", "o_custkey", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bucketJoined = ops.Scale.bucketedJoin(spark, "demo_orders", "demo_customer", "o_custkey")
    bucketJoined.collect()
    val shuffles = "Exchange hashpartitioning".r
      .findAllIn(bucketJoined.queryExecution.executedPlan.toString).size
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val salted = ops.Scale.saltedJoin(
      model.Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey").as("k")),
      model.Tables.customer(spark, sfDir).select(col("c_custkey").as("k"), col("c_mktsegment")),
      "k", salt = 7)
    println(s"scale: bucketedJoin rows=${bucketJoined.count()} shuffleExchanges=$shuffles " +
      s"saltedJoin rows=${salted.count()}")

    // 7. tiered match, large-build-side regime (melt: 1 join vs 3)
    val p7 = model.Fixtures.patients(spark, sfDir)
    val im7 = model.Fixtures.idMap(spark, sfDir)
      .filter(col("hubspot_object_type") === "contacts")
      .select(col("natural_key"), col("hubspot_id"))
    val melted = ops.TieredMatch.melt(p7, "c_custkey",
      Seq(col("patient_id"), col("patient_chart")), im7)
    val tiers = melted.groupBy("tier").count().orderBy("tier").collect()
      .map(r => s"t${r.getInt(0)}=${r.getLong(1)}").mkString(" ")
    println(s"tieredMelt: rows=${melted.count()} $tiers")

    // 8. partitioned data-lake layout + pruning
    val lakeDir = java.nio.file.Files.createTempDirectory("graft-lake-").toString
    sources.Sources.writePartitioned(
      model.Tables.events(spark, sfDir).withColumn("event_date", to_date(col("ts"))),
      s"$lakeDir/events", Seq("event_date"))
    val pruned = spark.read.parquet(s"$lakeDir/events")
      .filter(col("event_date") === "2024-01-03")
    val nParts = new java.io.File(s"$lakeDir/events").listFiles()
      .count(_.getName.startsWith("event_date="))
    println(s"lake: partitions=$nParts prunedScanRows=${pruned.count()}")

    spark.stop()
  }
}
