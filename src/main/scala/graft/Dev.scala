package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The harness every dev main shares (Profile, ScaleProbe, Show,
  * ExplainQ, PlanSnap, PlanDump, RegistryDump, Smoke, Verify and the
  * demos): one local-session builder, one wall-clock timer and one
  * listener. `Bench` keeps its own builder so the ledger it feeds
  * stays comparable across rounds. */
object Dev {

  /** The session time-zone pin the registry-driven tools set. */
  val Utc: (String, String) = "spark.sql.session.timeZone" -> "UTC"

  /** A `local[n]` session with n shuffle partitions, the UI off, the
    * given extra confs and driver log level. */
  def local(n: String, logLevel: String, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Runs `f` once: its value and its wall time in seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Registers a [[Recorder]] on the session's context. */
  def recorder(spark: SparkSession): Recorder = {
    val r = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(r)
    r
  }

  /** One job's span: dispatch-time start and end in ns (end 0 while
    * the job runs) and its `spark.job.description` ("" if unset). */
  final class JobSpan(val id: Int, val description: String, val startNs: Long) {
    @volatile var endNs: Long = 0L
  }

  /** Records job spans and per-stage task durations. Listener events
    * are asynchronous: read after [[drain]], or the last-finishing
    * tasks and jobs — the slowest ones — are missing. */
  final class Recorder private[Dev] (sc: SparkContext) extends SparkListener {
    private val jobs = new ConcurrentLinkedQueue[JobSpan]()
    private val open = new ConcurrentHashMap[Int, JobSpan]()
    private val tasks = new ConcurrentLinkedQueue[(Int, Long)]()
    private val names = new ConcurrentHashMap[Int, String]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
      val span = new JobSpan(j.jobId, desc.getOrElse(""), System.nanoTime())
      open.put(j.jobId, span)
      jobs.add(span)
      // the description names the phase (AQE stage callsites alone are
      // indistinguishable); putIfAbsent because a job's stageIds include
      // inherited, possibly skipped upstream stages — the first claiming
      // job is the one that runs a stage
      desc.foreach(d => j.stageIds.foreach(sid => names.putIfAbsent(sid, d)))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(open.remove(j.jobId)).foreach(_.endNs = System.nanoTime())

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) tasks.add((t.stageId, t.taskInfo.duration))

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      names.putIfAbsent(s.stageInfo.stageId, s.stageInfo.name.takeWhile(_ != '\n'))

    /** Waits until every queued event has reached this recorder. */
    def drain(): this.type = { ListenerBusAccess.drain(sc); this }

    /** Jobs started so far (no drain needed for a lower bound). */
    def jobCount: Int = jobs.size

    /** The spans of the jobs started after the first `n`, in start order. */
    def jobsAfter(n: Int): Seq[JobSpan] = jobs.asScala.drop(n).toSeq

    /** (stageId, task ms) of every finished task, in arrival order. */
    def stageTasks: Seq[(Int, Long)] = tasks.asScala.toSeq

    /** Every finished task's duration, ascending. */
    def taskMs: Array[Long] = tasks.asScala.map(_._2).toArray.sorted

    /** The job description that first claimed the stage, else the
      * first line of its callsite name, else "?". */
    def stageName(id: Int): String = names.getOrDefault(id, "?")

    /** Forgets every recorded job and task. */
    def clear(): Unit = { jobs.clear(); open.clear(); tasks.clear(); names.clear() }
  }
}
