package graftbench

import graft.sink.UpsertRecord

/** Checks of the benchmark's own parts that need the JVM: the stub's
  * schedule and span self time. Exits non-zero on the first failure. */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

  def run(): Unit = {
    // ---- stub schedule: a pure function of seed and batch layout ----
    val batch = (1 to 50).map(i => UpsertRecord(s"k$i", if (i % 2 == 0) Some(s"id$i") else None, Map.empty))
    def stub(seed: Long) = new StubTransport(seed, 1500, 1000,
      permanent = Map("contacts" -> Set("k7")), transient = Map("contacts" -> Set("k3")))
    def answer(seed: Long, b: Seq[UpsertRecord], visit: Int, obj: String = "contacts") =
      stub(seed).answer(obj, b, visit)
    val a = answer(11, batch, 0)
    expect(a == answer(11, batch, 0), "same seed and layout give the same answer")
    val seeds = (1L to 8L).map(s => answer(s, batch, 1)._1).toSet
    expect(seeds.size > 1, "the latency schedule changes with the seed")
    expect((11L to 12L).exists(s => answer(s, batch.reverse, 1)._1 != answer(s, batch, 1)._1),
      "the latency schedule changes with the batch layout")
    expect(a._2.forall(s => s.status == 429 || s.status == 503),
      "a batch holding a transient key is refused as a whole on its first send")
    val retry = answer(11, batch, 1)._2
    expect(retry(6).status == 400 && retry.count(_.status == 400) == 1,
      "a permanent key is rejected with 400 on every send, alone")
    expect(retry(1).id.contains("id2") && retry(0).id.contains("HS-k1"),
      "accepted records keep their id or get HS-<key>")
    expect(answer(11, batch, 0, "p_rois")._2.forall(_.status == 200),
      "faults planted for one object type leave another's same keys alone")
    expect(a._1 >= 1500 && a._1 < 2500, "latency within base + jitter")

    // ---- self time: overlapping children are counted once ----
    def span(id: Int, parent: Int, s: Long, e: Long) = Span(id, "x", parent, 0, s, e, 0, 0)
    val parent = span(1, 0, 0, 100)
    val kids = Seq(span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 20, 25), span(5, 1, 90, 120))
    expect(Trace.selfNs(parent, kids) == 40, s"self time ${Trace.selfNs(parent, kids)} != 40")
    expect(Trace.selfNs(parent, Nil) == 100, "no children: self time is the span")
    expect(Trace.unionNs(Seq((0L, 10L), (10L, 20L), (5L, 6L))) == 20, "touching intervals merge")
    println("selftest ok: stub schedule, span self time")
  }
}
