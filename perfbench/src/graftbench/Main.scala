package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Run from the run's working directory (the
  * program writes its stored fixtures under `target/` there):
  *
  *   graftbench.Main --workload W --inputs DIR --seed N --seconds S
  *                   --trace 0|1 --out result.json
  *   graftbench.Main --selftest 1
  *
  * Sets up the workload, then runs closed-loop iterations until the
  * budget is spent and writes every iteration's wall and check outcome.
  * With --trace 1 the budget is split in three: untraced, traced,
  * untraced; the per-layer numbers come from the traced third and the
  * ratio of the traced to the untraced median wall is the tracing
  * overhead. */
object Main {
  import Util._

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("selftest")) { SelfTest.run(); return }
    val workload = opt("workload")
    val inputs = Paths.get(opt("inputs")).toAbsolutePath.toString
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get("").toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val expect = new ObjectMapper().readTree(Paths.get(inputs, "expected.json").toFile)
      val w: Workload = workload match {
        case "sync_delta" => new SyncDelta(spark, inputs, work, expect, opt("seed").toLong)
        case "corpus_daily" => new CorpusDaily(spark, inputs, work, expect)
      }
      val (_, setupS) = timed(w.setup())
      println(f"[graftbench] workload set-up ${setupS}%.3f s")
      val setupEndMs = System.currentTimeMillis()
      val result =
        if (!traced) Result(loop(w, seconds, traced = false, 0), Nil, Map.empty)
        else {
          // untraced, traced, untraced: the overhead compares the traced
          // iterations with untraced ones on both sides of them, so JIT
          // warm-up still in progress does not read as tracing cost
          val before = loop(w, seconds / 3, traced = false, 0)
          spark.sparkContext.addSparkListener(SparkStats)
          spark.listenerManager.register(SparkStats)
          val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
          heap.foreach(_.resetPeakUsage())
          Trace.enabled = true
          val iters = loop(w, seconds / 3, traced = true, before.size)
          Trace.enabled = false
          val heapMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
          Trace.writeJsonl(work.resolve("spans.jsonl"))
          val once = w.layersOnce()
          spark.listenerManager.unregister(SparkStats)
          spark.sparkContext.removeSparkListener(SparkStats)
          val after = loop(w, seconds / 3, traced = false, before.size + iters.size)
          val keys = iters.flatMap(_.facts.keys).distinct
          val layers = keys.map(k => k -> median(iters.flatMap(_.facts.get(k)))).toMap ++ once ++
            Map("driver.heap_peak_mb" -> heapMb,
              "trace.overhead" -> (median(iters.map(_.wallS)) /
                median((before ++ after).map(_.wallS)) - 1))
          Result(iters, before ++ after, layers)
        }
      val control = median((1 to 3).map(_ => timed(
        spark.range(0, 20000000L, 1, cpus).selectExpr("sum(hash(id))").collect())._2))
      writeResult(work.resolve(opt("out")), setupEndMs, w.inputRows, control, result)
    } finally spark.stop()
  }

  /** Closed loop: iterations back to back, at least one, and no further
    * iteration once the mean so far says it would end past `budget`
    * seconds. A thrown iteration counts as failed. */
  private def loop(w: Workload, budget: Double, traced: Boolean, first: Int): Seq[Iter] = {
    val out = ArrayBuffer.empty[Iter]
    val t0 = System.nanoTime()
    var i = first
    while (out.isEmpty || secs(t0) * (out.size + 1) / out.size <= budget) {
      val s = System.nanoTime()
      val it = try w.iteration(i, traced) catch {
        case e: Exception => Iter(secs(s), ok = false, e.toString, Map.empty)
      }
      println(f"[graftbench] iteration $i traced=$traced wall ${it.wallS}%.3f s ok=${it.ok} ${it.why}")
      out += it
      i += 1
    }
    out.toSeq
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String = "\"" + graft.pipeline.EtlLog.escape(s) + "\""

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  private def iters(xs: Seq[Iter]): String =
    xs.map(i => s"""{"wall_s":${num(i.wallS)},"ok":${i.ok},"why":${str(i.why)},""" +
      s""""facts":${obj(i.facts)}}""").mkString("[", ",", "]")

  private def writeResult(path: Path, setupEndMs: Long, inputRows: Long, control: Double,
                          r: Result): Unit =
    Files.writeString(path,
      s"""{"setup_end_ms":$setupEndMs,"input_rows":$inputRows,""" +
        s""""host_control_s":${num(control)},"iters":${iters(r.iters)},""" +
        s""""untraced_iters":${iters(r.untraced)},"layers":${obj(r.layers)}}""" + "\n")
}

/** Measured iterations (traced ones under --trace 1), the untraced ones
  * around them, and the per-layer numbers. */
final case class Result(iters: Seq[Iter], untraced: Seq[Iter], layers: Map[String, Double])
