package graft

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.pipeline.Pipelines
import graft.sink._

/** Sink + alert transports driven against a real local HTTP server
  * (SURVEY.md §5.4: batch size, backoff on injected 429, error routing
  * on injected 400 — observed at the socket, not mocked). */
class HttpSpec extends SparkSpec {

  private val authHeaders = new ConcurrentLinkedQueue[String]()

  private def withServer(handler: (String, String) => (Int, String))
                        (body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      Option(ex.getRequestHeaders.getFirst("Authorization")).foreach(authHeaders.add)
      val req = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val (code, resp) = handler(ex.getRequestURI.getPath, req)
      val bytes = resp.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("HttpUpsertTransport posts one batched JSON body per chunk") {
    val seen = new ConcurrentLinkedQueue[String]()
    withServer((path, req) => { seen.add(s"$path|$req"); (200, "{}") }) { base =>
      val t = new HttpUpsertTransport(base, "test-key")
      val out = t.send("contacts", Seq(
        UpsertRecord("k1", None, Map("email" -> "a@b.com", "name" -> "A")),
        UpsertRecord("k2", Some("HS-2"), Map("name" -> "B \"quoted\""))))
      assert(out.forall(_.status == 200))
    }
    assert(seen.size == 1) // one POST for the whole batch, not per row
    val req = seen.peek()
    assert(req.startsWith("/crm/v3/objects/contacts/batch/upsert|"))
    assert(req.contains(""""naturalKey":"k1""""))
    assert(req.contains(""""id":"HS-2""""))
    assert(req.contains("""B \"quoted\"""")) // JSON escaping of properties
    assert(authHeaders.peek() == "Bearer test-key") // S10 key reaches the wire
  }

  test("created ids are parsed from the response and survive into results") {
    withServer((_, _) => (200,
      """{"results":[{"id":"HS-NEW-1"},{"id":"HS-NEW-2"}]}""")) { base =>
      val t = new HttpUpsertTransport(base, "k")
      val out = t.send("contacts", Seq(
        UpsertRecord("k1", None, Map()), UpsertRecord("k2", None, Map())))
      assert(out.map(_.id) == Seq(Some("HS-NEW-1"), Some("HS-NEW-2")))
    }
    // through the retrying layer: the create outcome carries the id
    // (this is what feeds the id map — T3 idempotency)
    withServer((_, _) => (200, """{"results":[{"id":"HS-SOLO"}]}""")) { base =>
      val res = new RetryingUpserter(new HttpUpsertTransport(base, "k"), sleeper = _ => ())
        .upsertBatch("contacts", Seq(UpsertRecord("k1", None, Map())))
      assert(res.head.hubspotId.contains("HS-SOLO"))
      assert(res.head.outcome == "created")
    }
    // count mismatch → no ids claimed (never mis-align records and ids)
    withServer((_, _) => (200, """{"results":[{"id":"only-one"}]}""")) { base =>
      val out = new HttpUpsertTransport(base, "k").send("contacts", Seq(
        UpsertRecord("k1", None, Map()), UpsertRecord("k2", None, Map())))
      assert(out.forall(_.id.isEmpty))
    }
  }

  test("retry on injected 429 observed at the socket; recovery completes the batch") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    withServer((_, _) =>
      if (hits.incrementAndGet() <= 2) (429, "slow down") else (200, "{}")) { base =>
      val upserter = new RetryingUpserter(
        new HttpUpsertTransport(base, "k"), sleeper = _ => ())
      val out = upserter.upsertBatch("contacts", Seq(UpsertRecord("k1", None, Map())))
      assert(out.head.outcome == "created")
      assert(out.head.attempts == 3)
    }
    assert(hits.get() == 3) // two 429s + one success actually hit the wire
  }

  test("permanent 400 fails fast without retries (DLQ-bound, main.py:440)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    withServer((_, _) => { hits.incrementAndGet(); (400, "bad payload") }) { base =>
      val upserter = new RetryingUpserter(
        new HttpUpsertTransport(base, "k"), sleeper = _ => ())
      val out = upserter.upsertBatch("contacts", Seq(UpsertRecord("k1", None, Map())))
      assert(out.head.outcome == "failed")
      assert(out.head.error.get.startsWith("HTTP 400"))
    }
    assert(hits.get() == 1) // non-retryable → exactly one attempt
  }

  test("webhookPoster delivers {\"text\": ...} and never throws on a dead endpoint") {
    val seen = new ConcurrentLinkedQueue[String]()
    withServer((_, req) => { seen.add(req); (200, "ok") }) { base =>
      Pipelines.webhookPoster(base)("alert: key=k1 attempts=5")
    }
    assert(seen.size == 1)
    assert(seen.peek() == """{"text": "alert: key=k1 attempts=5"}""")
    // dead endpoint (closed loopback port): must not throw (alerting
    // never fails the run), but must log the failure with its cause
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try Pipelines.webhookPoster("http://127.0.0.1:1/nope")("x")
    finally System.setErr(saved)
    val logged = err.toString("UTF-8").linesIterator.find(_.contains("alert_post_failed"))
    assert(logged.exists(_.contains("ConnectException")), err.toString("UTF-8"))
  }

  test("webhook body stays valid JSON when the message embeds raw HTTP bodies") {
    val seen = new ConcurrentLinkedQueue[String]()
    withServer((_, req) => { seen.add(req); (200, "ok") }) { base =>
      Pipelines.webhookPoster(base)("error=HTTP 500: <html>\nline2\t\"quoted\"")
    }
    val body = seen.peek()
    assert(body.contains("\\n") && body.contains("\\t") && body.contains("\\\""))
    // must parse as JSON
    import spark.implicits._
    val parsed = spark.read.json(Seq(body).toDS())
    assert(parsed.select("text").collect()(0).getString(0)
      .contains("line2\t\"quoted\""))
  }
}
