package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.sink.{TransportStatus, UpsertRecord, UpsertTransport}

/** Tallies of every send the stub answered, kept in the JVM that runs
  * both driver and local tasks. Times are nanoseconds. */
object StubLog {
  val sends = new AtomicLong
  val records = new AtomicLong
  val resentRecords = new AtomicLong
  val answered429 = new AtomicLong
  val answered5xx = new AtomicLong
  val transportNs = new AtomicLong
  val waitNs = new AtomicLong
  val latenciesNs = new ConcurrentLinkedQueue[java.lang.Long]()

  def reset(): Unit = {
    Seq(sends, records, resentRecords, answered429, answered5xx, transportNs,
      waitNs).foreach(_.set(0L))
    latenciesNs.clear()
  }

  def latencies: Array[Long] = latenciesNs.asScala.map(_.longValue).toArray.sorted
}

/** In-process CRM stand-in for the upsert API.
  *
  * Schedule, a pure function of (seed, batch contents, how often this
  * transport copy has seen the batch's keys):
  *  - each send sleeps `baseMicros` plus a seeded jitter below
  *    `jitterMicros`;
  *  - the first send of a batch holding a key `transient` for its object
  *    type is refused as a whole (429 or 503, by the key's hash), as a
  *    rate-limited API does;
  *  - a record whose key is `permanent` for its object type is rejected
  *    with 400 every time;
  *  - any other record succeeds, with its existing id or "HS-<key>".
  * Faults are per object type because two pipelines may share natural
  * keys (a patient's id is also the key of their rois). Spark serializes
  * one copy of the transport into each task, so the "seen" state is per
  * task, as the batches of a partition are. */
final class StubTransport(seed: Long, baseMicros: Long, jitterMicros: Long,
                          permanent: Map[String, Set[String]],
                          transient: Map[String, Set[String]])
    extends UpsertTransport {

  @transient private lazy val seen = scala.collection.mutable.HashMap.empty[String, Int]
  @transient private lazy val failedAt = scala.collection.mutable.HashMap.empty[String, Long]

  private def mix(s: String): Long = {
    var h = seed ^ 0x9E3779B97F4A7C15L
    s.foreach { c => h = (h ^ c) * 0x100000001B3L; h ^= h >>> 29 }
    h & Long.MaxValue
  }

  /** The (sleep micros, per-record statuses) this send gets; `visit` is
    * how many times this copy has already been sent these keys. */
  def answer(objectType: String, batch: Seq[UpsertRecord],
             visit: Int): (Long, Seq[TransportStatus]) = {
    val layout = batch.map(_.naturalKey).mkString("\u0001") + "#" + visit
    val sleep = baseMicros + (if (jitterMicros > 0) mix(layout) % jitterMicros else 0L)
    val refused = transient.getOrElse(objectType, Set.empty[String])
    val rejected = permanent.getOrElse(objectType, Set.empty[String])
    val refusal = if (visit == 0) batch.find(r => refused(r.naturalKey)) else None
    val statuses = refusal match {
      case Some(r) =>
        val code = if (mix(r.naturalKey) % 2 == 0) 429 else 503
        batch.map(_ => TransportStatus(code, None, s"retry later ($code)"))
      case None =>
        batch.map { r =>
          if (rejected(r.naturalKey))
            TransportStatus(400, None, s"property rejected (req ${mix(layout) % 100000})")
          else TransportStatus(200, Some(r.existingId.getOrElse("HS-" + r.naturalKey)), "ok")
        }
    }
    (sleep, statuses)
  }

  override def send(objectType: String, batch: Seq[UpsertRecord]): Seq[TransportStatus] = {
    val t0 = System.nanoTime()
    val keySet = objectType + "\u0002" + batch.map(_.naturalKey).sorted.mkString("\u0001")
    val visit = seen.getOrElse(keySet, 0)
    seen(keySet) = visit + 1
    failedAt.remove(keySet).foreach(t => StubLog.waitNs.addAndGet(t0 - t))
    val (sleepMicros, statuses) = answer(objectType, batch, visit)
    LockSupport.parkNanos(sleepMicros * 1000L)
    val t1 = System.nanoTime()
    StubLog.sends.incrementAndGet()
    StubLog.records.addAndGet(batch.size)
    if (visit > 0) StubLog.resentRecords.addAndGet(batch.size)
    StubLog.transportNs.addAndGet(t1 - t0)
    StubLog.latenciesNs.add(t1 - t0)
    statuses.headOption.map(_.status) match {
      case Some(429) => StubLog.answered429.incrementAndGet(); failedAt(keySet) = t1
      case Some(s) if s >= 500 => StubLog.answered5xx.incrementAndGet(); failedAt(keySet) = t1
      case _ => ()
    }
    Trace.record("sink.send", Trace.current, t0, t1)
    statuses
  }
}
