package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.expr.ColumnOps
import graft.ext.Extensions
import graft.model.Tables

/** Helpers of the training-data workload. */
object Corpus {
  import Util._

  val Queries: Seq[String] = Seq("ext_corpus_curate_full", "ext_dedup_minhash",
    "ext_topk_ivfpq", "ext_topk_cosine")

  /** Mean over queries of |approx ∩ exact| / |exact| per query. */
  def recall(approx: Seq[Row], exact: Seq[Row]): Double = {
    def byQuery(rows: Seq[Row]) = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("corpus_id")).toSet }
    val a = byQuery(approx)
    val e = byQuery(exact)
    if (e.isEmpty) 0.0
    else e.map { case (q, ids) => (a.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size }
      .sum / e.size
  }

  def digest(rows: Seq[Row]): String = sha256(rows.map(_.toString).sorted.mkString("\n"))

  def vectors(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** `df` eight times over, in four partitions: enough rows that a
    * kernel's cost, not job scheduling, dominates its projection. */
  def replicate(spark: SparkSession, df: DataFrame): DataFrame =
    df.crossJoin(spark.range(8).select()).repartition(4)

  /** rows/s of each kernel over a cached frame of the workload's own
    * inputs: the median of three noop-materialized projections. */
  def kernelRates(spark: SparkSession, frame: DataFrame,
                  kernels: Seq[(String, Column)]): Map[String, Double] = {
    val cached = frame.cache()
    val n = cached.count().toDouble
    val out = kernels.map { case (name, k) =>
      group(spark, s"u.expr.$name")
      val walls = (1 to 3).map(_ => timed(noop(cached.select(k.as("o"))))._2)
      s"expr.$name.rows_per_s" -> n / median(walls)
    }.toMap
    cached.unpersist()
    out
  }

  /** Fixture directories (target/<family>/<key>) under the working dir. */
  def fixtureDirs(): Set[Path] = {
    val root = Paths.get("target")
    if (!Files.isDirectory(root)) Set.empty
    else Files.list(root).iterator().asScala.filter(Files.isDirectory(_))
      .flatMap(f => Files.list(f).iterator().asScala.toSeq).toSet
  }
}

/** The daily training-data refresh on warm stored models: four
  * registered queries (curation funnel, near-dup pairs, ANN and exact
  * search), each built and collected, caches cleared between them as
  * the registry's own bench does. */
final class CorpusDaily(spark: SparkSession, inputs: String, work: Path,
                        expect: JsonNode) extends Workload {
  import Util._
  import Corpus._

  val inputRows: Long = expect.get("input_rows").asLong
  private val fns = SparkEntry.queries
  private var reference = Map.empty[String, String]
  private val exactPairs: Seq[(Long, Long)] =
    expect.get("exact_pairs").elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq

  /** Every query built, then collected: (rows, build s, exec s) by name. */
  private def runAll(): Map[String, (Seq[Row], Double, Double)] =
    Queries.map { q =>
      group(spark, s"t.ext.$q")
      Trace.span(s"ext.$q") {
        val (df, buildS) = timed(fns(q)(spark, inputs))
        val (rows, execS) = timed(df.collect().toSeq)
        spark.sqlContext.clearCache()
        println(f"[graftbench] $q build ${buildS}%.3f s exec ${execS}%.3f s")
        q -> (rows, buildS, execS)
      }
    }.toMap

  /** The first, cold run builds every stored model and fixture and gives
    * the reference outputs; its curation output and oracle SQL are left
    * for the DuckDB comparison made after the run. */
  def setup(): Unit = {
    val rows = runAll().map { case (q, (rs, _, _)) => q -> rs }
    reference = rows.map { case (q, rs) => q -> digest(rs) }
    val curate = rows("ext_corpus_curate_full")
    require(curate.nonEmpty, "ext_corpus_curate_full returned no rows")
    spark.createDataFrame(curate.asJava, curate.head.schema)
      .write.mode("overwrite").parquet(work.resolve("oracle/result").toString)
    Files.writeString(work.resolve("oracle/query.sql"),
      SparkEntry.oracleSql("ext_corpus_curate_full"))
  }

  def iteration(i: Int, traced: Boolean): Iter = {
    if (traced) { drain(spark); SparkStats.reset() }
    Trace.iteration = i
    val t0 = System.nanoTime()
    val out = Trace.span("iteration")(runAll())
    val wall = secs(t0)
    val rows = out.map { case (q, (rs, _, _)) => q -> rs }
    group(spark, "u.check")
    val bad = ListBuffer.empty[String]
    for (q <- Seq("ext_corpus_curate_full", "ext_dedup_minhash", "ext_topk_cosine"))
      if (digest(rows(q)) != reference(q)) bad += s"$q output differs from the first run"
    val pairs = rows("ext_dedup_minhash").map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val missed = exactPairs.filterNot(p => pairs.get(p).contains(1.0))
    if (missed.nonEmpty) bad += s"ext_dedup_minhash misses planted exact duplicates $missed"
    val k = Extensions.AnnQueryCount * Extensions.AnnK
    for (q <- Seq("ext_topk_ivfpq", "ext_topk_cosine"))
      if (rows(q).size != k) bad += s"$q returned ${rows(q).size} rows, expected $k"
    val r = recall(rows("ext_topk_ivfpq"), rows("ext_topk_cosine"))
    if (r < Extensions.IvfpqRecallFloor) bad += f"recall@10 $r%.4f below ${Extensions.IvfpqRecallFloor}"
    var facts = Map("recall_at_10" -> r)
    if (traced) facts ++= layerFacts(out)
    Iter(wall, bad.isEmpty, bad.mkString("; "), facts)
  }

  private def layerFacts(out: Map[String, (Seq[Row], Double, Double)]): Map[String, Double] = {
    drain(spark)
    val spans = Trace.all.filter(_.iter == Trace.iteration)
    val perQuery = Queries.flatMap { q =>
      val c = SparkStats.sum(s"t.ext.$q")
      val plan = spans.filter(_.name == s"ext.$q")
        .map(s => SparkStats.planSeconds(s.startMs, s.endMs)).sum
      val (_, buildS, execS) = out(q)
      Seq(s"ext.$q.build_s" -> buildS, s"ext.$q.exec_s" -> execS, s"ext.$q.plan_s" -> plan,
        s"ext.$q.jobs" -> c.jobs.toDouble, s"ext.$q.cpu_s" -> c.cpuNs / 1e9,
        s"ext.$q.shuffle_bytes" -> c.shuffleWriteBytes.toDouble)
    }
    perQuery.toMap ++ SparkStats.iterationFacts(spans)
  }

  override def layersOnce(): Map[String, Double] = {
    val docs = replicate(spark, Tables.documents(spark, inputs).select(col("text")))
    val text = col("text")
    val sorted = array_sort(array_distinct(ColumnOps.shingleSha60(text, 5)))
    val textKernels = Seq(
      "sha60" -> ColumnOps.sha60(text),
      "shingleSha60" -> ColumnOps.shingleSha60(text, 5),
      "wordGramSha60" -> ColumnOps.wordGramSha60(text, 5),
      "polyKgramHash" -> ColumnOps.polyKgramHash(text))
    kernelRates(spark, docs, textKernels) ++
      kernelRates(spark, docs.select(sorted.as("a")),
        Seq("sortedIntersectCount" -> ColumnOps.sortedIntersectCount(col("a"), col("a")))) ++
      kernelRates(spark, replicate(spark, vectors(spark, inputs)),
        Seq("dotProduct" -> ColumnOps.dotProduct(col("v"), col("v")))) ++
      coldIndex()
  }

  /** The index layer, which the daily refresh finds already built: a
    * cold build over a fresh copy of the embeddings (so no stored model,
    * code table or memo entry matches) that trains, encodes and serves
    * the first search. The fixtures it mints are removed afterwards. */
  private def coldIndex(): Map[String, Double] = {
    val dir = work.resolve("cold-index")
    copyTree(Paths.get(inputs, "embeddings.parquet"), dir.resolve("embeddings.parquet"))
    val src = s"$dir/embeddings.parquet"
    val emb = vectors(spark, dir.toString)
    val before = fixtureDirs()
    group(spark, "u.index.train")
    val ((cs, cbs), trainS) = timed((Extensions.ivfCentroids(emb, centroidSrc = Some(src)),
      Extensions.pqCodebooks(emb, codebookSrc = Some(src))))
    group(spark, "u.index.encode")
    val (_, encodeS) = timed(Extensions.ivfpqCellCodes(emb, cbs, cs, Some(src)))
    group(spark, "u.index.search")
    val (_, searchS) = timed(
      Extensions.ivfpqTopK(emb, Extensions.annQueryIds(emb), src = Some(src)).collect())
    drain(spark)
    val minted = fixtureDirs() -- before
    val out = Map(
      "index.train_s" -> trainS, "index.encode_s" -> encodeS, "index.search_s" -> searchS,
      "index.jobs" -> SparkStats.sum("u.index").jobs.toDouble,
      "index.fixture_builds" -> minted.size.toDouble,
      "index.fixture_bytes" -> minted.toSeq.map(treeBytes).sum.toDouble)
    spark.sqlContext.clearCache()
    minted.foreach(deleteTree)
    deleteTree(dir)
    out
  }
}

