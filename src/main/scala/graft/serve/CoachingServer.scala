package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The serving PUSH layer — the reference app's broadcast half
  * (app/routes/websocket_routes.py:8-29: a client set fed by the
  * coaching-response consumer, app/utils/kafka_utils.py:425-446:
  * each response JSON broadcast to every connected client, broken
  * clients discarded), re-expressed as Server-Sent Events over the
  * JDK's built-in HTTP server — push-over-HTTP like the reference's
  * WebSocket, with zero dependencies and the same fan-out semantics.
  *
  * Split the same way the reference is:
  *  - [[CoachingBroadcaster]] = the client set + broadcast loop
  *    (kafka_utils' `clients_set` handling): per-client bounded queues,
  *    a slow or dead client loses ITS OWN events and is eventually
  *    discarded — one stuck consumer must never block the stream or
  *    the other clients (the reference drops broken clients the same
  *    way).
  *  - [[CoachingServer]] = the transport (websocket_routes): `GET
  *    /events` holds the connection open and relays the subscriber
  *    queue as `data:` frames; `/healthz` for liveness.
  *  - [[CoachingServer.pushSink]] = the consumer thread analog: a
  *    foreachBatch sink relaying each micro-batch's coaching rows into
  *    the broadcaster. The per-batch collect is the nature of a push
  *    layer — results must reach the serving process — and is bounded
  *    by the micro-batch's own size.
  */
final class CoachingBroadcaster(queueCapacity: Int = 1024,
                                evictAfterFullPublishes: Int = 256) {
  import java.util.concurrent.LinkedBlockingQueue
  import java.util.concurrent.atomic.AtomicLong
  private final class Client(val q: LinkedBlockingQueue[String]) {
    // consecutive publishes that found the queue full — reset on any
    // successful offer; crossing the threshold evicts the client
    var fullStreak: Int = 0
  }
  private val nextId = new AtomicLong(0L)
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[Long, Client]()
  private val droppedEvents = new AtomicLong(0L)

  def subscribe(): (Long, LinkedBlockingQueue[String]) = {
    val id = nextId.incrementAndGet()
    val c = new Client(new LinkedBlockingQueue[String](queueCapacity))
    clients.put(id, c)
    (id, c.q)
  }

  def unsubscribe(id: Long): Unit = clients.remove(id)

  def clientCount: Int = clients.size
  def dropped: Long = droppedEvents.get()

  /** Broadcast one event to every subscriber. A full queue (slow
    * client) drops the event FOR THAT CLIENT only — counted atomically,
    * never blocking the publisher (the reference's failed `client.send`
    * discard). A client whose queue stays full for
    * `evictAfterFullPublishes` consecutive publishes is judged dead or
    * hopelessly behind and UNSUBSCRIBED (the reference's broken-client
    * discard) — its subscription and publish cost go away even when the
    * transport cannot yet observe the death (see the keepalive note in
    * the SSE handler). */
  def publish(json: String): Unit = {
    val it = clients.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c.q.offer(json)) c.fullStreak = 0
      else {
        droppedEvents.incrementAndGet()
        c.fullStreak += 1
        if (c.fullStreak >= evictAfterFullPublishes) {
          it.remove()
          // a slow-but-ALIVE client would otherwise keep its /events
          // stream open receiving keepalive pings forever while no
          // event ever arrives — looking connected, silently dead. The
          // poison pill tells the transport handler to TERMINATE the
          // stream so the client observes the disconnect and can
          // re-subscribe. clear-then-offer MUST loop: a concurrent
          // publisher (another thread still iterating its own clients
          // view of this entry) can refill the just-cleared full queue
          // between the two calls, and a failed offer would leave the
          // evicted client streaming keepalives forever — the exact
          // hang the pill exists to prevent. Terminates: the entry was
          // removed above, so only in-flight publishes can race, and
          // each clear drains capacity faster than they refill it.
          while (!c.q.offer(CoachingBroadcaster.PoisonPill)) c.q.clear()
        }
      }
    }
  }
}

object CoachingBroadcaster {
  /** Eviction sentinel, compared by REFERENCE (`eq`) in the SSE
    * handler — a user event that happens to carry the same characters
    * is a different String instance and passes through untouched. */
  private[serve] val PoisonPill: String = new String("__graft_evicted__")
}

/** @param ingress message-ingress hook (the reference's
  *   `POST /api/send-message` → send_to_kafka, api_routes.py:25-45):
  *   called with the message text on a cache MISS; wire it to the
  *   streaming chain's input (a topic append / MemoryStream add). The
  *   server serializes its calls under one lock, so a hook that is not
  *   thread-safe (MemoryStream.addData) needs no lock of its own.
  * @param cache the CSV response cache behind the CRUD routes
  *   (reference cache_routes.py:16-103) and the send-message
  *   cached-short-circuit.
  * @param advice the keyword-trigger advice function (reference
  *   `GET /api/coaching-advice`, api_routes.py:13-22).
  * @param indexHtml the UI shell served at `GET /` (reference
  *   main_routes.py:10-14 renders index.html); None serves a minimal
  *   embedded page so the route always exists like the reference's.
  * @param meetingData supplier of the simulated-transcript JSON
  *   (reference main_routes.py:16-21 + data_utils.load_meeting_data:
  *   a static JSON document served verbatim).
  * @param knowledgeRoot directory behind `GET /api/get-document/<path>`
  *   (reference main_routes.py:23-40: raw markdown fetch under
  *   sample-data/knowledge_base_markdown with a traversal guard). */
final class CoachingServer(broadcaster: CoachingBroadcaster,
                           port: Int = 0,
                           bindAddress: String = "127.0.0.1",
                           ingress: Option[String => Unit] = None,
                           cache: Option[CacheBackend] = None,
                           advice: Option[String => Option[String]] = None,
                           indexHtml: Option[String] = None,
                           meetingData: Option[() => String] = None,
                           knowledgeRoot: Option[java.nio.file.Path] = None) {
  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

  private var server: HttpServer = _
  // handler threads run concurrently; the ingress hook sees one at a time
  private val ingressLock = new Object
  private var pool: java.util.concurrent.ExecutorService = _

  // Spark ships Jackson; the serve layer reuses it for the route JSON
  // (request bodies are tiny app-boundary payloads)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def respond(x: HttpExchange, code: Int, json: String): Unit = {
    val body = json.getBytes("UTF-8")
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, body.length)
    x.getResponseBody.write(body); x.close()
  }

  private def jsonField(body: String, field: String): Option[String] =
    try {
      val n = mapper.readTree(body)
      Option(n.get(field)).filterNot(_.isNull).map(_.asText())
    } catch { case _: Exception => None }

  /** `field` inside the nested object `outer` — /cache_interaction's
    * coaching fields arrive under `coaching_data` (cache_routes.py:
    * 83-86), unlike /cached_responses' flat body. */
  private def nestedField(body: String, outer: String,
                          field: String): Option[String] =
    try {
      val n = mapper.readTree(body)
      Option(n.get(outer)).filter(_.isObject)
        .flatMap(o => Option(o.get(field)))
        .filterNot(_.isNull).map(_.asText())
    } catch { case _: Exception => None }

  private def respondRaw(x: HttpExchange, code: Int, contentType: String,
                         body: Array[Byte]): Unit = {
    x.getResponseHeaders.set("Content-Type", contentType)
    x.sendResponseHeaders(code, body.length)
    x.getResponseBody.write(body); x.close()
  }

  /** RFC 3986 percent-decoding of a URL PATH — URLDecoder is the
    * x-www-form-urlencoded decoder ('+' becomes a space, corrupting
    * any path with a literal '+', and malformed escapes throw). None
    * on a malformed %-sequence → the caller's 400, never a 500. */
  private def percentDecode(s: String): Option[String] =
    try {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%') {
          out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } else {
          out.write(c.toString.getBytes("UTF-8")); i += 1
        }
      }
      Some(new String(out.toByteArray, "UTF-8"))
    } catch { case _: Exception => None }

  private def queryParam(x: HttpExchange, name: String): Option[String] =
    Option(x.getRequestURI.getQuery).flatMap(_.split('&').collectFirst {
      case kv if kv.takeWhile(_ != '=') == name =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
    })

  private def toJson(v: Any): String = {
    def cv(a: Any): Object = a match {
      case m: Map[_, _] =>
        val o = new java.util.LinkedHashMap[String, Object]()
        m.foreach { case (k, x) => o.put(k.toString, cv(x)) }
        o
      case s: Seq[_] =>
        val l = new java.util.ArrayList[Object]()
        s.foreach(x => l.add(cv(x)))
        l
      case other => other.asInstanceOf[Object]
    }
    mapper.writeValueAsString(cv(v))
  }

  private def handler(f: HttpExchange => Unit): HttpHandler =
    new HttpHandler {
      override def handle(x: HttpExchange): Unit =
        try f(x)
        catch {
          case e: Exception =>
            try respond(x, 500,
              toJson(Map("status" -> "error",
                "message" -> String.valueOf(e.getMessage))))
            catch { case _: Exception => x.close() }
        }
    }

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(): Int = {
    // loopback by default (safe-by-default: exposing the push layer to
    // a network is an explicit deployment decision via bindAddress)
    server = HttpServer.create(new java.net.InetSocketAddress(
      java.net.InetAddress.getByName(bindAddress), port), 0)
    // one thread per open SSE stream + request handling; kept so stop()
    // can interrupt handlers parked in queue polls
    pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.createContext("/healthz", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val body = s"""{"clients":${broadcaster.clientCount}}"""
          .getBytes("UTF-8")
        x.getResponseHeaders.set("Content-Type", "application/json")
        x.sendResponseHeaders(200, body.length)
        x.getResponseBody.write(body); x.close()
      }
    })
    // ---- app surface: message ingress (reference api_routes.py:25-45) —
    // cache short-circuit first, then hand the miss to the streaming
    // chain; the coached response arrives over /events like any other
    server.createContext("/api/send-message", handler { x =>
      if (x.getRequestMethod != "POST")
        respond(x, 405, toJson(Map("status" -> "error",
          "message" -> "POST only")))
      else {
        val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
        jsonField(body, "message").map(_.trim).filter(_.nonEmpty) match {
          case None =>
            respond(x, 400, toJson(Map("status" -> "error",
              "message" -> "Empty message")))
          case Some(m) =>
            cache.flatMap(_.lookup(m)) match {
              case Some(row) =>
                respond(x, 200, toJson(Map("status" -> "cached",
                  "coaching_response" -> row.getOrElse("Response", ""),
                  "full_data" -> row)))
              case None => ingress match {
                case Some(send) =>
                  ingressLock.synchronized(send(m))
                  respond(x, 200, toJson(Map("status" -> "sent",
                    "message" -> m)))
                case None =>
                  respond(x, 503, toJson(Map("status" -> "error",
                    "message" -> "no ingress configured")))
              }
            }
        }
      }
    })
    // keyword-trigger advice (reference api_routes.py:13-22)
    server.createContext("/api/coaching-advice", handler { x =>
      val msg = queryParam(x, "message").getOrElse("")
      advice.flatMap(_(msg)) match {
        case Some(a) => respond(x, 200,
          toJson(Map("has_advice" -> true, "advice" -> a)))
        case None => respond(x, 200, toJson(Map("has_advice" -> false)))
      }
    })
    // cached-questions list for the UI (reference api_routes.py:48-87:
    // alphabetical, rows without question+response skipped — the
    // CsvCache sanitize already drops those)
    server.createContext("/api/cached-questions", handler { x =>
      val rows = cache.map(_.list()).getOrElse(Seq.empty)
      respond(x, 200, toJson(rows.map(r =>
        Map("question" -> r.getOrElse("Message", "")) ++ r)))
    })
    // cache CRUD (reference cache_routes.py:16-103); deletes key on the
    // Message (see CacheBackend.delete for the index→key delta)
    server.createContext("/cached_responses", handler { x =>
      (x.getRequestMethod, cache) match {
        case (_, None) =>
          respond(x, 503, toJson(Map("status" -> "error",
            "message" -> "no cache configured")))
        case ("GET", Some(c)) => respond(x, 200, toJson(c.list()))
        case ("POST", Some(c)) =>
          val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
          // trim-nonEmpty like /api/send-message: CsvCache.sanitize
          // silently drops whitespace-only rows, so accepting one here
          // would report success for an add that never becomes visible
          (jsonField(body, "question"), jsonField(body, "response")) match {
            case (Some(q), Some(r)) if q.trim.nonEmpty && r.trim.nonEmpty =>
              c.add(q, r,
                jsonField(body, "reasoning").getOrElse(""),
                jsonField(body, "used_excerpts").getOrElse(""),
                jsonField(body, "rag_sources").getOrElse(""))
              respond(x, 200, toJson(Map("status" -> "success",
                "question" -> q, "response" -> r)))
            case _ =>
              respond(x, 400, toJson(Map("status" -> "error",
                "message" -> "Missing question or response in request body")))
          }
        case ("DELETE", Some(c)) =>
          queryParam(x, "message") match {
            case Some(m) if c.delete(m) =>
              respond(x, 200, toJson(Map("status" -> "success",
                "message" -> s"deleted: $m")))
            case Some(m) =>
              respond(x, 400, toJson(Map("status" -> "error",
                "message" -> s"no cached row for: $m")))
            case None =>
              respond(x, 400, toJson(Map("status" -> "error",
                "message" -> "message query parameter required")))
          }
        case _ =>
          respond(x, 405, toJson(Map("status" -> "error",
            "message" -> "GET/POST/DELETE only")))
      }
    })
    // ---- thin UI routes (reference main_routes.py + cache_routes.py:70-99)
    // GET / — the index page. HttpServer's "/" context is the fallback
    // for every path no other context claims, so anything that is not
    // the index itself 404s here — Flask's unknown-route behavior.
    server.createContext("/", handler { x =>
      val p = x.getRequestURI.getPath
      if (x.getRequestMethod != "GET")
        respond(x, 405, toJson(Map("status" -> "error",
          "message" -> "GET only")))
      else if (p == "/" || p == "/index.html")
        respondRaw(x, 200, "text/html; charset=utf-8",
          indexHtml.getOrElse(CoachingServer.DefaultIndexHtml)
            .getBytes("UTF-8"))
      else respond(x, 404, toJson(Map("error" -> "not found")))
    })
    // GET /api/meeting-data — simulated transcript served verbatim
    // (main_routes.py:16-21; the supplier is the load_meeting_data
    // analog, re-read per request like the reference's open+json.load)
    server.createContext("/api/meeting-data", handler { x =>
      (x.getRequestMethod, meetingData) match {
        case ("GET", Some(load)) =>
          respondRaw(x, 200, "application/json", load().getBytes("UTF-8"))
        case ("GET", None) =>
          respond(x, 503, toJson(Map("status" -> "error",
            "message" -> "no meeting data configured")))
        case _ =>
          respond(x, 405, toJson(Map("status" -> "error",
            "message" -> "GET only")))
      }
    })
    // GET /api/get-document/<path> — raw knowledge-base document fetch
    // (main_routes.py:23-40): normalized-path traversal guard → 400,
    // missing file → 404, else {"content","path"}
    server.createContext("/api/get-document/", handler { x =>
      (x.getRequestMethod, knowledgeRoot) match {
        case (m, _) if m != "GET" =>
          respond(x, 405, toJson(Map("status" -> "error",
            "message" -> "GET only")))
        case (_, None) =>
          respond(x, 503, toJson(Map("status" -> "error",
            "message" -> "no knowledge root configured")))
        case (_, Some(root)) =>
          val raw = x.getRequestURI.getRawPath
            .stripPrefix("/api/get-document/")
          percentDecode(raw) match {
            case None =>
              respond(x, 400,
                toJson(Map("error" -> "Invalid document path")))
            case Some(rel) =>
              val rootN = root.toAbsolutePath.normalize()
              // resolve-then-normalize + containment check: `../`
              // escapes collapse and fail the startsWith (the
              // reference's normpath guard); absolute rel paths
              // resolve to themselves and fail the same check. A
              // filesystem-invalid path (e.g. an encoded NUL) is a
              // client error, not a 500.
              val fullOpt =
                try Some(rootN.resolve(rel).normalize())
                catch { case _: java.nio.file.InvalidPathException => None }
              fullOpt match {
                case Some(full)
                    if rel.nonEmpty && full.startsWith(rootN) =>
                  if (!java.nio.file.Files.isRegularFile(full))
                    respond(x, 404,
                      toJson(Map("error" -> "Document not found")))
                  else
                    respond(x, 200, toJson(Map(
                      "content" -> new String(
                        java.nio.file.Files.readAllBytes(full), "UTF-8"),
                      "path" -> rel)))
                case _ =>
                  respond(x, 400,
                    toJson(Map("error" -> "Invalid document path")))
              }
          }
      }
    })
    // POST /cache_interaction — the UI's alternate cache-add wrapper
    // (cache_routes.py:70-99): coaching fields arrive NESTED under
    // coaching_data; success echoes only the question. Same
    // trim-nonEmpty guard as /cached_responses (sanitize would
    // silently drop a whitespace-only row a 200 just promised).
    server.createContext("/cache_interaction", handler { x =>
      (x.getRequestMethod, cache) match {
        case ("POST", Some(c)) =>
          val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
          (jsonField(body, "question"), jsonField(body, "response")) match {
            case (Some(q), Some(r)) if q.trim.nonEmpty && r.trim.nonEmpty =>
              c.add(q, r,
                nestedField(body, "coaching_data", "reasoning")
                  .getOrElse(""),
                nestedField(body, "coaching_data", "used_excerpts")
                  .getOrElse(""),
                nestedField(body, "coaching_data", "rag_sources")
                  .getOrElse(""))
              respond(x, 200, toJson(Map("status" -> "success",
                "question" -> q)))
            case _ =>
              respond(x, 400, toJson(Map("status" -> "error",
                "message" -> "Missing question or response in request body")))
          }
        case ("POST", None) =>
          respond(x, 503, toJson(Map("status" -> "error",
            "message" -> "no cache configured")))
        case _ =>
          respond(x, 405, toJson(Map("status" -> "error",
            "message" -> "POST only")))
      }
    })
    server.createContext("/events", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val (id, q) = broadcaster.subscribe()
        try {
          x.getResponseHeaders.set("Content-Type", "text/event-stream")
          x.getResponseHeaders.set("Cache-Control", "no-cache")
          x.sendResponseHeaders(200, 0) // chunked: stream until close
          val out = x.getResponseBody
          var idlePolls = 0
          var live = true
          while (live) {
            val msg = q.poll(250, java.util.concurrent.TimeUnit.MILLISECONDS)
            if (msg.asInstanceOf[AnyRef] eq
                CoachingBroadcaster.PoisonPill) {
              // evicted by the broadcaster: close the stream so the
              // client observes the disconnect and can re-subscribe
              live = false
            } else if (msg != null) {
              // SSE frame; payloads are single-line JSON by contract
              out.write(s"data: $msg\n\n".getBytes("UTF-8"))
              out.flush()
              idlePolls = 0
            } else {
              // standard SSE keepalive comment every ~15 s of silence.
              // NOTE: a ping only detects a CLEANLY closed peer; a
              // silently dead one (sleep, partition) absorbs tiny
              // writes into the TCP send buffer for a long time, so the
              // HANDLER THREAD may linger — the broadcaster's
              // full-queue eviction is what bounds the subscription and
              // publish cost in that case
              idlePolls += 1
              if (idlePolls >= 60) {
                out.write(": ping\n\n".getBytes("UTF-8"))
                out.flush()
                idlePolls = 0
              }
            }
          }
        } catch {
          case _: java.io.IOException => () // client went away: normal
        } finally {
          broadcaster.unsubscribe(id)
          x.close()
        }
      }
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    // interrupt SSE handlers parked in their queue polls so the JVM
    // (and a test suite) never waits on the 15 s keepalive to notice
    if (pool != null) pool.shutdownNow()
  }
}

object CoachingServer {
  /** Minimal embedded index shell — served when no UI page is injected
    * so `GET /` always answers like the reference's rendered template
    * (main_routes.py:10-14). Lists the live API surface; deployments
    * with a real front end pass their page via `indexHtml`. */
  private[serve] val DefaultIndexHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft coach</title></head>
      |<body><h1>graft coaching server</h1>
      |<p>API: POST /api/send-message &middot; GET /api/coaching-advice
      | &middot; GET /api/cached-questions &middot; /cached_responses
      | (GET/POST/DELETE) &middot; POST /cache_interaction
      | &middot; GET /api/meeting-data &middot; GET /api/get-document/&lt;path&gt;
      | &middot; GET /events (SSE) &middot; GET /healthz</p>
      |</body></html>
      |""".stripMargin

  /** The consumer-thread analog: relay each micro-batch's coached rows
    * into the broadcaster as single-line JSON (message + the generated
    * coaching payload; Spark's JSON generator emits compact single-line
    * output with control characters escaped, so the SSE one-line frame
    * contract holds by construction). Rows whose coaching_response is
    * NULL are SKIPPED, not published field-less and not fatal — the
    * reference's TypeError-continue policy.
    *
    * Ordering: events are published in the batch's `orderCol` order
    * when given (carry an event-time column through the chain for
    * offset-order parity with the reference's one-message-at-a-time
    * consumer); without it, intra-batch order follows collect()'s
    * partition order — fine for independent messages, stated here so
    * ordering-sensitive deployments know to pass the column. */
  def pushSink(coached: DataFrame, broadcaster: CoachingBroadcaster,
               orderCol: Option[String] = None)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    coached.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        val kept = batch.filter(col("coaching_response").isNotNull)
        val ordered = orderCol.fold(kept)(c => kept.orderBy(col(c)))
        ordered.select(to_json(struct(
            col("message"), col("coaching_response"))).as("j"))
          .collect()
          .foreach(r => broadcaster.publish(r.getString(0)))
        ()
    }
  }
}
