package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.pipeline.CoachingPipeline
import graft.providers.{MockChat, MockEmbedder, ModelRegistry}
import graft.serve.{CoachingBroadcaster, CoachingServer}
import graft.store.BroadcastBruteForceStore
import graft.streaming.StreamingOps

/** The serving push layer (reference websocket_routes.py + the
  * kafka_utils consumer broadcast): fan-out semantics, the real SSE
  * transport over loopback HTTP, and the streaming chain wired end to
  * end into a subscriber. */
class BroadcasterSpec extends AnyFunSuite with Matchers {

  test("every subscriber receives every event; unsubscribed clients stop") {
    val b = new CoachingBroadcaster()
    val (id1, q1) = b.subscribe()
    val (_, q2) = b.subscribe()
    b.clientCount shouldBe 2
    b.publish("""{"n":1}"""); b.publish("""{"n":2}""")
    Seq(q1, q2).foreach { q =>
      q.poll() shouldBe """{"n":1}"""
      q.poll() shouldBe """{"n":2}"""
    }
    b.unsubscribe(id1)
    b.publish("""{"n":3}""")
    q2.poll() shouldBe """{"n":3}"""
    q1.poll() shouldBe null // no longer fed
    b.clientCount shouldBe 1
  }

  test("a slow client loses its own events without blocking the publisher or other clients") {
    val b = new CoachingBroadcaster(queueCapacity = 2)
    val (_, slow) = b.subscribe()
    val (_, fast) = b.subscribe()
    // the fast client drains as events arrive; the slow one never reads
    var fastGot = 0
    (1 to 5).foreach { i =>
      b.publish(s"""{"n":$i}""")
      while (fast.poll() != null) fastGot += 1
    }
    // slow queue capped at 2: three events dropped FOR IT only
    slow.size shouldBe 2
    fastGot shouldBe 5
    b.dropped shouldBe 3L
  }

  test("a client whose queue stays full long enough is evicted — the broken-client discard") {
    val b = new CoachingBroadcaster(queueCapacity = 1, evictAfterFullPublishes = 3)
    b.subscribe()
    b.publish("fill")                       // queue now full
    (1 to 2).foreach(_ => b.publish("x"))   // streak 1, 2: still subscribed
    b.clientCount shouldBe 1
    b.publish("x")                          // streak 3: evicted
    b.clientCount shouldBe 0
    b.dropped shouldBe 3L
  }
}

class SseServerSpec extends AnyFunSuite with Matchers {

  test("SSE endpoint streams published events to loopback HTTP clients; healthz counts them") {
    val b = new CoachingBroadcaster()
    val server = new CoachingServer(b)
    val port = server.start()
    try {
      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val client = new Thread(() => {
        val conn = new java.net.URL(s"http://127.0.0.1:$port/events")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setReadTimeout(20000)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
        var line = in.readLine()
        while (line != null) {
          if (line.startsWith("data: ")) received.offer(line.drop(6))
          line = in.readLine()
        }
      })
      client.setDaemon(true)
      client.start()
      // wait for the subscription to register before publishing
      val deadline = System.nanoTime() + 10e9.toLong
      while (b.clientCount == 0 && System.nanoTime() < deadline)
        Thread.sleep(10)
      b.clientCount shouldBe 1

      b.publish("""{"coaching":"first"}""")
      b.publish("""{"coaching":"second"}""")
      received.poll(10, java.util.concurrent.TimeUnit.SECONDS) shouldBe
        """{"coaching":"first"}"""
      received.poll(10, java.util.concurrent.TimeUnit.SECONDS) shouldBe
        """{"coaching":"second"}"""

      // healthz reports the live client set
      val hz = new java.net.URL(s"http://127.0.0.1:$port/healthz")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(hz.getInputStream.readAllBytes(), "UTF-8")
      body shouldBe """{"clients":1}"""
    } finally server.stop()
  }

  test("an evicted slow client's SSE stream terminates — not a silent keepalive zombie") {
    // capacity 1, evict after 2 full publishes: a subscriber draining
    // far slower than the publisher gets evicted AND its open /events
    // stream must CLOSE so the client can observe the disconnect and
    // re-subscribe (pre-fix it would receive keepalive pings forever)
    val b = new CoachingBroadcaster(queueCapacity = 1,
      evictAfterFullPublishes = 2)
    val server = new CoachingServer(b)
    val port = server.start()
    try {
      val closed = new java.util.concurrent.CountDownLatch(1)
      val client = new Thread(() => {
        val conn = new java.net.URL(s"http://127.0.0.1:$port/events")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setReadTimeout(30000)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
        var line = in.readLine()
        while (line != null) {
          // slow consumer: 200 ms per frame while the publisher floods
          if (line.startsWith("data: ")) Thread.sleep(200)
          line = in.readLine()
        }
        closed.countDown() // readLine returned null: server closed us
      })
      client.setDaemon(true)
      client.start()
      val deadline = System.nanoTime() + 20e9.toLong
      while (b.clientCount == 0 && System.nanoTime() < deadline)
        Thread.sleep(10)
      b.clientCount shouldBe 1
      // large events: a couple unread ones block the handler's socket
      // write, so the queue (cap 1) fills and the full-streak trips
      val big = "x" * (256 * 1024)
      while (b.clientCount > 0 && System.nanoTime() < deadline) {
        b.publish(big); Thread.sleep(1)
      }
      b.clientCount shouldBe 0 // evicted
      // ...and the transport noticed: the stream ends, not ping-forever
      closed.await(20, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    } finally server.stop()
  }
}

class ServePipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Int): Timestamp =
    new Timestamp((100 + minutes) * 60000L)

  test("the streaming coach chain pushes its responses into a subscriber end to end") {
    implicit val ctx = spark.sqlContext
    ModelRegistry.registerReferenceModels()
    val embedder = new MockEmbedder(32)
    val knowledge = Seq(
      ("kb/pricing.md", "Pricing", "kb", "pricing objection handling guide"))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val boot = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val store = BroadcastBruteForceStore.fromDataFrame(boot.indexKnowledge(knowledge))
    val pipeline = new CoachingPipeline(embedder, new MockChat, store)

    val input = MemoryStream[(String, String, Timestamp)]
    val coached = pipeline.coach(
      StreamingOps.dedupWithTtl(
        input.toDF.toDF("message", "speaker", "ts"), "message", "ts"))

    val b = new CoachingBroadcaster()
    val (_, q) = b.subscribe()
    val query = CoachingServer.pushSink(coached, b)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-serve-ckpt").toString)
      .start()
    try {
      input.addData(
        ("what about the pricing", "prospect", ts(0)),
        ("ignore this", "salesperson", ts(1)))
      query.processAllAvailable()
      val event = q.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      event should include("what about the pricing")
      event should include("coaching_response")
      event should not include "\n" // single-line SSE contract
      // the salesperson row was filtered: exactly one event
      q.poll() shouldBe null
    } finally query.stop()
  }

  test("rows with a NULL coaching response are skipped, not published field-less") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Option[String])]
    val b = new CoachingBroadcaster()
    val (_, q) = b.subscribe()
    val query = CoachingServer.pushSink(
        input.toDF.toDF("message", "coaching_response"), b)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-serve-ckpt2").toString)
      .start()
    try {
      input.addData(("answered", Some("""{"ok":true}""")), ("unanswered", None))
      query.processAllAvailable()
      val event = q.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      event should include("answered")
      event should include("coaching_response")
      q.poll() shouldBe null // the NULL-response row produced nothing
    } finally query.stop()
  }
}

/** The serve HTTP app surface (reference api_routes.py + cache_routes.py):
  * message-ingress POST feeding the streaming chain, the cache CRUD
  * routes over the SAME CsvCache directory the rag_cache_* queries use,
  * and the keyword-advice endpoint — all over real loopback HTTP. */
class ServeHttpSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private def req(method: String, url: String, body: Option[String] = None)
      : (Int, String) = {
    val conn = new java.net.URL(url)
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setReadTimeout(20000)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.getOutputStream.write(b.getBytes("UTF-8"))
    }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, new String(in.readAllBytes(), "UTF-8"))
  }

  test("cache CRUD routes round-trip through the CsvCache directory the queries read") {
    val path = java.nio.file.Files.createTempDirectory("graft-http-cache")
      .toString + "/cache"
    val backend = new graft.serve.CsvCacheBackend(spark, path)
    val server = new CoachingServer(new CoachingBroadcaster(),
      cache = Some(backend))
    val port = server.start()
    try {
      val base = s"http://127.0.0.1:$port"
      // empty cache: list is empty, not an error
      req("GET", s"$base/cached_responses") shouldBe (200, "[]")
      // add two rows (the reference's POST /cached_responses)
      val (c1, b1) = req("POST", s"$base/cached_responses", Some(
        """{"question":"What about pricing?","response":"Lead with value.","reasoning":"r1"}"""))
      c1 shouldBe 200
      b1 should include(""""status":"success"""")
      req("POST", s"$base/cached_responses", Some(
        """{"question":"Any competitors?","response":"Differentiate."}"""))._1 shouldBe 200
      // missing fields → 400, nothing written
      req("POST", s"$base/cached_responses",
        Some("""{"question":"orphan"}"""))._1 shouldBe 400
      // whitespace-only fields → 400 too: sanitize would silently drop
      // the row, so a 200 here would be a success that never appears
      req("POST", s"$base/cached_responses",
        Some("""{"question":"   ","response":"x"}"""))._1 shouldBe 400
      // list: alphabetical by question, both rows
      val (_, listed) = req("GET", s"$base/cached_responses")
      listed.indexOf("Any competitors?") should be < listed.indexOf("What about pricing?")
      // the QUERY-side surface sees the same store (rag_cache_crud's table)
      graft.io.CsvCache.read(spark, path).count() shouldBe 2L
      // cached-questions view
      val (_, qs) = req("GET", s"$base/api/cached-questions")
      qs should include(""""question":"Any competitors?"""")
      // send-message short-circuits on the cached question (F5 key rule:
      // trimmed, case-insensitive)
      val (_, hit) = req("POST", s"$base/api/send-message",
        Some("""{"message":"  what about PRICING?  "}"""))
      hit should include(""""status":"cached"""")
      hit should include("Lead with value.")
      // delete by message key; the table shrinks for the query side too
      req("DELETE", s"$base/cached_responses?message=" +
        java.net.URLEncoder.encode("What about pricing?", "UTF-8"))._1 shouldBe 200
      graft.io.CsvCache.read(spark, path).count() shouldBe 1L
      // deleting a missing row reports the error
      req("DELETE", s"$base/cached_responses?message=nope")._1 shouldBe 400
    } finally server.stop()
  }

  test("cache reads serve from the memory image — NO Spark job per request after warm") {
    val path = java.nio.file.Files.createTempDirectory("graft-http-cachemem")
      .toString + "/cache"
    val backend = new graft.serve.CsvCacheBackend(spark, path)
    val server = new CoachingServer(new CoachingBroadcaster(),
      cache = Some(backend))
    val port = server.start()
    try {
      val base = s"http://127.0.0.1:$port"
      req("POST", s"$base/cached_responses", Some(
        """{"question":"What about pricing?","response":"Lead with value."}"""))._1 shouldBe 200
      // warm: first read after the mutation loads the image (≥1 job)
      jobsDuring {
        req("GET", s"$base/cached_responses")._1 shouldBe 200
      } should be >= 1
      // probed requests: a cache-hit send-message and a full list —
      // both must be pure map probes, zero jobs
      jobsDuring {
        val (_, hit) = req("POST", s"$base/api/send-message",
          Some("""{"message":"  what about PRICING?  "}"""))
        hit should include(""""status":"cached"""")
        req("GET", s"$base/api/cached-questions")._1 shouldBe 200
        req("GET", s"$base/cached_responses")._1 shouldBe 200
      } shouldBe 0 // ZERO jobs across three requests
      // a mutation invalidates: the next read runs a load job again
      req("DELETE", s"$base/cached_responses?message=" +
        java.net.URLEncoder.encode("What about pricing?", "UTF-8"))._1 shouldBe 200
      jobsDuring {
        req("GET", s"$base/cached_responses") shouldBe (200, "[]")
      } should be >= 1 // the image reload
    } finally server.stop()
  }

  test("POST /api/send-message feeds the streaming chain; the coached response arrives over /events") {
    implicit val ctx = spark.sqlContext
    ModelRegistry.registerReferenceModels()
    val embedder = new MockEmbedder(32)
    val knowledge = Seq(
      ("kb/pricing.md", "Pricing", "kb", "pricing objection handling guide"))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val boot = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val store = BroadcastBruteForceStore.fromDataFrame(boot.indexKnowledge(knowledge))
    val pipeline = new CoachingPipeline(embedder, new MockChat, store)

    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val coached = pipeline.coach(
      StreamingOps.dedupWithTtl(
        input.toDF.toDF("message", "speaker", "ts"), "message", "ts"))
    val b = new CoachingBroadcaster()
    val seq = new java.util.concurrent.atomic.AtomicLong(0)
    val server = new CoachingServer(b,
      ingress = Some(m => input.addData((m, "prospect",
        new java.sql.Timestamp((100 + seq.incrementAndGet()) * 60000L)))))
    val port = server.start()
    val query = CoachingServer.pushSink(coached, b)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-http-e2e").toString)
      .start()
    try {
      // SSE subscriber over real HTTP
      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val client = new Thread(() => {
        val conn = new java.net.URL(s"http://127.0.0.1:$port/events")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setReadTimeout(30000)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
        var line = in.readLine()
        while (line != null) {
          if (line.startsWith("data: ")) received.offer(line.drop(6))
          line = in.readLine()
        }
      })
      client.setDaemon(true); client.start()
      val deadline = System.nanoTime() + 10e9.toLong
      while (b.clientCount == 0 && System.nanoTime() < deadline)
        Thread.sleep(10)

      // the ingress POST: accepted, handed to the chain
      val (code, resp) = req("POST", s"http://127.0.0.1:$port/api/send-message",
        Some("""{"message":"what about the pricing"}"""))
      code shouldBe 200
      resp should include(""""status":"sent"""")
      query.processAllAvailable()
      val event = received.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      event should include("what about the pricing")
      event should include("coaching_response")

      // an empty message is rejected up front (the reference's 400)
      req("POST", s"http://127.0.0.1:$port/api/send-message",
        Some("""{"message":""}"""))._1 shouldBe 400
    } finally { query.stop(); server.stop() }
  }

  test("concurrent POSTs through an unsynchronized MemoryStream hook are each answered exactly once") {
    implicit val ctx = spark.sqlContext
    ModelRegistry.registerReferenceModels()
    val embedder = new MockEmbedder(32)
    val knowledge = Seq(
      ("kb/pricing.md", "Pricing", "kb", "pricing objection handling guide"))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val boot = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val store = BroadcastBruteForceStore.fromDataFrame(boot.indexKnowledge(knowledge))
    val pipeline = new CoachingPipeline(embedder, new MockChat, store)

    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val coached = pipeline.coach(
      StreamingOps.dedupWithTtl(
        input.toDF.toDF("message", "speaker", "ts"), "message", "ts"))
    val b = new CoachingBroadcaster()
    val (_, events) = b.subscribe()
    // MemoryStream.addData is not thread-safe; the server must serialize
    // the hook's calls itself
    val server = new CoachingServer(b,
      ingress = Some(m => input.addData((m, "prospect",
        new java.sql.Timestamp(System.currentTimeMillis())))))
    val port = server.start()
    val query = CoachingServer.pushSink(coached, b)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-http-concurrent").toString)
      .start()
    val posters = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val messages = (0 until 200).map(i => s"concurrent question $i")
      val posted = messages.map { m =>
        posters.submit(() => req("POST",
          s"http://127.0.0.1:$port/api/send-message",
          Some(s"""{"message":"$m"}"""))._1)
      }
      posted.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).toSet shouldBe Set(200)
      query.processAllAvailable()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val answered = Iterator.continually(events.poll())
        .takeWhile(_ != null).map(e => mapper.readTree(e).path("message").asText())
        .toSeq
      (messages.toSet -- answered) shouldBe empty // none lost
      answered should have size messages.size.toLong // none twice
    } finally { posters.shutdownNow(); query.stop(); server.stop() }
  }

  test("coaching-advice endpoint answers from the advice function") {
    val server = new CoachingServer(new CoachingBroadcaster(),
      advice = Some(m =>
        if (m.toLowerCase.contains("pricing")) Some("Lead with value.")
        else None))
    val port = server.start()
    try {
      val (_, yes) = req("GET", s"http://127.0.0.1:$port/api/coaching-advice?message=" +
        java.net.URLEncoder.encode("pricing concerns", "UTF-8"))
      yes should include(""""has_advice":true""")
      yes should include("Lead with value.")
      val (_, no) = req("GET",
        s"http://127.0.0.1:$port/api/coaching-advice?message=hello")
      no shouldBe """{"has_advice":false}"""
    } finally server.stop()
  }

  test("thin UI routes: index, meeting-data, get-document (with traversal guard), cache_interaction") {
    val kb = java.nio.file.Files.createTempDirectory("graft-kb")
    java.nio.file.Files.createDirectories(kb.resolve("competitors"))
    java.nio.file.Files.write(kb.resolve("competitors/competex.md"),
      "# CompetEx\nDifferentiate on integration depth.".getBytes("UTF-8"))
    // a file OUTSIDE the root that a traversal would reach
    java.nio.file.Files.write(kb.getParent.resolve("secret.md"),
      "nope".getBytes("UTF-8"))
    val cachePath = java.nio.file.Files
      .createTempDirectory("graft-http-ci").toString + "/cache"
    val backend = new graft.serve.CsvCacheBackend(spark, cachePath)
    val server = new CoachingServer(new CoachingBroadcaster(),
      cache = Some(backend),
      meetingData = Some(() => """{"meeting":[{"speaker":"prospect"}]}"""),
      knowledgeRoot = Some(kb))
    val port = server.start()
    try {
      val base = s"http://127.0.0.1:$port"
      // GET / serves the HTML shell; unknown paths 404 (Flask routing)
      val (ic, ib) = req("GET", s"$base/")
      ic shouldBe 200
      ib should include("<html>")
      req("GET", s"$base/no-such-route")._1 shouldBe 404
      // meeting-data passes the supplier's JSON through verbatim
      req("GET", s"$base/api/meeting-data") shouldBe
        (200, """{"meeting":[{"speaker":"prospect"}]}""")
      // get-document: nested path reads the file; the payload carries
      // content + the requested path (main_routes.py contract)
      val (dc, db) = req("GET",
        s"$base/api/get-document/competitors/competex.md")
      dc shouldBe 200
      db should include(""""path":"competitors/competex.md"""")
      db should include("Differentiate on integration depth.")
      // traversal guard: ../ escape → 400, never 404 (the path is
      // judged invalid before existence is consulted); missing → 404
      req("GET", s"$base/api/get-document/..%2Fsecret.md")._1 shouldBe 400
      req("GET", s"$base/api/get-document/competitors/none.md")._1 shouldBe 404
      // RFC 3986 path decoding: '+' is a literal in paths (the form
      // decoder would corrupt it to a space); a malformed %-escape is
      // the client's error (400), never a 500
      java.nio.file.Files.write(kb.resolve("c++-guide.md"),
        "plus plus".getBytes("UTF-8"))
      req("GET", s"$base/api/get-document/c++-guide.md")._1 shouldBe 200
      req("GET", s"$base/api/get-document/%zz-bad.md")._1 shouldBe 400
      // undeclared methods 405 like the Flask reference's routing
      req("POST", s"$base/api/meeting-data", Some("{}"))._1 shouldBe 405
      req("DELETE", s"$base/api/get-document/x.md")._1 shouldBe 405
      // cache_interaction: nested coaching_data lands in the CSV row
      val (cc, cb) = req("POST", s"$base/cache_interaction", Some(
        """{"question":"What about ROI?","response":"Six months.",
          |"coaching_data":{"reasoning":"calc","used_excerpts":"ex1"}}"""
          .stripMargin))
      cc shouldBe 200
      cb shouldBe """{"status":"success","question":"What about ROI?"}"""
      val row = backend.lookup("what about roi?").get
      row("Response") shouldBe "Six months."
      row("Reasoning") shouldBe "calc"
      row("Used Excerpts") shouldBe "ex1"
      // missing response → 400, reference's exact message
      val (mc, mb) = req("POST", s"$base/cache_interaction",
        Some("""{"question":"orphan"}"""))
      mc shouldBe 400
      mb should include("Missing question or response in request body")
    } finally server.stop()
  }
}
