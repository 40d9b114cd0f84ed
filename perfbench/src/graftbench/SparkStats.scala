package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side work attributed to the job group the benchmark set
  * around each layer call. */
final class Counters {
  var jobs, stages, tasks, cpuNs, gcMs, shuffleWriteBytes, spillBytes,
      recordsRead, bytesRead, bytesWritten = 0L
  def +=(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
  }
}

/** Reads Spark's own listener events: jobs, stages and task metrics by
  * job group, and each action's planning phases (analysis, optimization,
  * physical planning) from `queryExecution.tracker`. Callers drain the
  * listener bus (`ListenerBusAccess.drain`) before reading. */
object SparkStats extends SparkListener with QueryExecutionListener {
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val phases = new ConcurrentLinkedQueue[(Long, Long)]()

  private def of(group: String): Counters =
    groups.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("other")
    js.stageIds.foreach(stageGroup.put(_, g))
    val c = of(g)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val c = of(stageGroup.getOrDefault(sc.stageInfo.stageId, "other"))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    val c = of(stageGroup.getOrDefault(te.stageId, "other"))
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private def track(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.endTimeMs)))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    track(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    track(qe)

  def reset(): Unit = { groups.clear(); stageGroup.clear(); phases.clear() }

  /** Counters of every group whose name starts with `prefix`. */
  def sum(prefix: String): Counters = {
    val out = new Counters
    groups.asScala.foreach { case (g, c) => if (g.startsWith(prefix)) out += c }
    out
  }

  /** Planning seconds whose phase began inside [startMs, endMs]. */
  def planSeconds(startMs: Long, endMs: Long): Double =
    phases.asScala.iterator
      .filter(p => p._1 >= startMs && p._1 <= endMs)
      .map(p => (p._2 - p._1).toDouble).sum / 1000.0

  /** The spark.* per-layer numbers of one iteration: every timed group
    * ("t." prefix) and the planning inside the iteration's root span. */
  def iterationFacts(spans: Seq[Span]): Map[String, Double] = {
    val root = spans.find(_.name == "iteration").get
    val all = sum("t.")
    Map(
      "spark.jobs" -> all.jobs.toDouble, "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.plan_s" -> planSeconds(root.startMs, root.endMs),
      "spark.executor_cpu_s" -> all.cpuNs / 1e9, "spark.gc_s" -> all.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> all.spillBytes.toDouble)
  }
}
