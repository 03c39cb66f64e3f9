package graftbench

import java.net.HttpURLConnection
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.pipeline.CoachingPipeline
import graft.providers.{MockChat, MockEmbedder, ModelRegistry}
import graft.serve.{CoachingBroadcaster, CoachingServer, CsvCacheBackend}
import graft.store.BroadcastBruteForceStore
import graft.streaming.StreamingOps

/** `coach_live`: independent meeting users in an open loop. Messages go
  * through `POST /api/send-message`; cache misses flow MemoryStream →
  * dedupWithTtl → CoachingPipeline.coach → CoachingServer.pushSink and
  * come back over `/events`. Latency runs from each message's DUE time,
  * so a stalled server also delays the messages queued behind it. */
object CoachLive {
  private final val Miss = 0
  private final val Hit = 1
  private final val Repeat = 2
  /** The limit a coaching reply must meet; past it the reply is late. */
  private val DeadlineMs = 10000.0
  /** The tail-latency limit of the capacity search. */
  private val TailLimitMs = 5000.0
  private val SenderThreads = 3 // + the SSE reader = nproc on 4 cores

  private final case class Send(dueNs: Long, msg: String, kind: Int, expect: String)
  private final class Rec(val s: Send) {
    @volatile var sendNs = 0L
    @volatile var ackNs = 0L
    @volatile var status = ""
    @volatile var reply = ""
  }
  private final class Event(val ns: Long, val json: String)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val errs = new Errors
    val (nDocs, nCache) = if (ctx.smoke) (20, 10) else (300, 40)
    val rate = if (ctx.smoke) 5.0 else 14.0
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }

    // ---- set-up: KB index, cache, server, standing query -------------------
    ModelRegistry.registerReferenceModels()
    val embedder = new CountingEmbedder(new MockEmbedder(1536))
    val chat = new CountingChat(new MockChat)
    val kb = Gen.knowledge(ctx.seed, nDocs, 9)
      .toDF("document_id", "document_name", "document_category", "document_text")
    val boot = new CoachingPipeline(embedder, chat, new BroadcastBruteForceStore(Array.empty))
    val indexed = boot.indexKnowledge(kb).persist()
    val (inner, kbMs) = Trace.timed("store.kb_build") {
      BroadcastBruteForceStore.fromDataFrame(indexed)
    }
    val store = new CountingStore(inner)
    val pipeline = new CoachingPipeline(embedder, chat, store)
    val kbIds = kb.select("document_id").as[String].collect().toSet

    val cacheRows = Gen.cacheRows(ctx.seed, nCache)
    graft.io.CsvCache.append(cacheRows.map { case (q, a) => (q, a, "cached", "", "") }
      .toDF(graft.io.CsvCache.columns: _*), ctx.path("cache"))
    val cache = new CsvCacheBackend(spark, ctx.path("cache"))
    cache.list() // the one load job; later lookups are map probes
    val cacheLookups = new AtomicInteger(0)
    val cacheHits = new AtomicInteger(0)
    val countingCache = new graft.serve.CacheBackend {
      def list() = cache.list()
      def lookup(m: String) = {
        val r = cache.lookup(m)
        cacheLookups.incrementAndGet(); if (r.isDefined) cacheHits.incrementAndGet()
        r
      }
      def add(q: String, r: String, re: String, u: String, s: String): Unit =
        cache.add(q, r, re, u, s)
      def delete(m: String) = cache.delete(m)
    }

    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val coached = pipeline.coach(StreamingOps.dedupWithTtl(
      input.toDF().toDF("message", "speaker", "ts"), "message", "ts", "10 minutes"))
    val b = new CoachingBroadcaster()
    // when the ingress hook handed each message to the stream
    val enqueued = new ConcurrentHashMap[String, java.lang.Long]()
    // The server calls the ingress hook from concurrent handler threads,
    // and MemoryStream.addData is not thread-safe (its row serializer is
    // shared: two racing adds can both land as one message), so the hook
    // serializes the adds, as a topic producer would.
    val server = new CoachingServer(b, cache = Some(countingCache),
      ingress = Some(m => input.synchronized {
        input.addData((m, "prospect", new java.sql.Timestamp(System.currentTimeMillis())))
        enqueued.putIfAbsent(m, System.nanoTime())
      }))
    val (port, startMs) = Trace.timed("serve.start")(server.start())
    val query = CoachingServer.pushSink(coached, b).queryName("coach")
      .option("checkpointLocation", ctx.path("ckpt")).start()

    // publish times, via an in-process subscriber next to the SSE client
    val published = new ConcurrentHashMap[String, java.lang.Long]()
    val (_, localQ) = b.subscribe()
    val events = new ConcurrentHashMap[String, java.util.List[Event]]()
    @volatile var running = true
    def messageOf(json: String): String = Json.read(json).path("message").asText()
    val relayThread = new Thread(() => {
      while (running) {
        val e = localQ.poll(100, TimeUnit.MILLISECONDS)
        if (e != null) published.putIfAbsent(messageOf(e), System.nanoTime())
      }
    })
    val sseThread = new Thread(() => {
      try {
        val c = java.net.URI.create(s"http://127.0.0.1:$port/events").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        c.setReadTimeout(0)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(c.getInputStream, "UTF-8"))
        var line = in.readLine()
        while (line != null && running) {
          if (line.startsWith("data: ")) {
            val now = System.nanoTime()
            val json = line.drop(6)
            events.computeIfAbsent(messageOf(json),
              _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Event]()))
              .add(new Event(now, json))
          }
          line = in.readLine()
        }
      } catch { case _: java.io.IOException => () }
    })
    relayThread.setDaemon(true); sseThread.setDaemon(true)
    relayThread.start(); sseThread.start()
    while (b.clientCount < 2) Thread.sleep(5)

    // ---- the open-loop generator -------------------------------------------
    val rnd = new Random(ctx.seed * 31 + 11)
    var msgNo = 0L
    val sentMisses = scala.collection.mutable.ArrayBuffer.empty[String]
    /** `secs` seconds of sends at `r` msg/s starting `lead` from now:
      * ~20% cache hits, ~3% repeats of a recent miss (inside the TTL). */
    def schedule(r: Double, secs: Double): IndexedSeq[Send] = {
      val t0 = System.nanoTime() + 200000000L
      val n = math.max(1, (r * secs).round.toInt)
      (0 until n).map { i =>
        val due = t0 + (i * 1e9 / r).toLong
        val k = rnd.nextInt(100)
        if (k < 20) {
          val (q, a) = cacheRows(rnd.nextInt(cacheRows.size))
          Send(due, q, Hit, if (ctx.corrupt) a + " (corrupted)" else a)
        } else if (k < 23 && sentMisses.nonEmpty) {
          Send(due, sentMisses(sentMisses.size - 1 - rnd.nextInt(sentMisses.size min 5)),
            Repeat, "")
        } else {
          msgNo += 1
          val m = Gen.freshMessage(rnd, msgNo)
          sentMisses += m
          Send(due, m, Miss, "")
        }
      }
    }
    def post(msg: String): (Int, String) = {
      val c = java.net.URI.create(s"http://127.0.0.1:$port/api/send-message").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      os.write(Json.bytes(java.util.Map.of("message", msg)))
      os.close()
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      try (code, new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
    /** Send on schedule from a few threads; a thread that is stuck on a
      * slow ack delays only the sends it picks up, and every send is
      * timed from its due time regardless. `during` runs on the calling
      * thread while the senders work. */
    def fire(sched: IndexedSeq[Send],
             during: IndexedSeq[Rec] => Unit = _ => ()): IndexedSeq[Rec] = {
      val recs = sched.map(new Rec(_))
      val next = new AtomicInteger(0)
      val threads = (0 until SenderThreads).map { _ =>
        val t = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < recs.length) {
            val r = recs(i)
            val wait = r.s.dueNs - System.nanoTime()
            if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
            r.sendNs = System.nanoTime()
            try {
              val (code, body) = post(r.s.msg)
              r.ackNs = System.nanoTime()
              r.status = if (code == 200) Json.read(body).path("status").asText() else s"http $code"
              r.reply = body
            } catch { case e: java.io.IOException => r.status = s"io: $e" }
            i = next.getAndIncrement()
          }
        })
        t.start(); t
      }
      during(recs)
      threads.foreach(_.join())
      recs
    }
    def firstEvent(m: String): Option[Event] =
      Option(events.get(m)).flatMap(l => l.synchronized(l.asScala.headOption))
    /** Wait until every miss of `recs` has its event, or `maxMs` passed. */
    def drain(recs: IndexedSeq[Rec], maxMs: Double): Unit = {
      val until = System.nanoTime() + (maxMs * 1e6).toLong
      while (System.nanoTime() < until &&
          recs.exists(r => r.s.kind == Miss && firstEvent(r.s.msg).isEmpty))
        Thread.sleep(5)
    }
    def missLat(recs: IndexedSeq[Rec]): IndexedSeq[Double] = recs.filter(_.s.kind == Miss)
      .map(r => firstEvent(r.s.msg).fold(Double.PositiveInfinity)(e => (e.ns - r.s.dueNs) / 1e6))

    phase("setup")
    // warm-up: the first triggers compile their plans and run slower
    val warm = fire(schedule(rate, 1.5))
    drain(warm, DeadlineMs * 2)
    phase("warm")
    // ---- fixed-rate phase (half untraced, half traced in a traced run) ------
    val firstOp = System.currentTimeMillis()
    val tracing = ctx.traced
    Trace.enabled = false
    val loadBefore = Host.loadAvg()
    val phaseSecs = ctx.seconds.toDouble
    val countsBefore = Calls.snap()
    val sparkBefore = { SparkCounters.settle(spark); ctx.counters.snap() }
    val nanoOrigin = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val fixedA = fire(schedule(rate, if (tracing) phaseSecs / 2 else phaseSecs))
    drain(fixedA, DeadlineMs)
    val fixedB = if (!tracing) IndexedSeq.empty[Rec] else {
      Trace.clear(); Trace.enabled = true
      val r = fire(schedule(rate, phaseSecs / 2))
      drain(r, DeadlineMs)
      Trace.enabled = false
      r
    }
    val fixed = fixedA ++ fixedB
    val phaseCalls = Calls.snap().map { case (k, v) => k -> (v - countsBefore(k)) }
    val phaseSpark = { SparkCounters.settle(spark); ctx.counters.since(sparkBefore) }

    val fixedEndMs = System.currentTimeMillis()
    phase("fixed")
    // ---- capacity ------------------------------------------------------------
    // Probes of several triggers each at fixed offered rates. A probe's
    // load score is its miss tail over the limit, where a miss still
    // unanswered once the limit has passed after the probe counts with its
    // wait so far; it passes when every miss was answered by then and the
    // score is at most 1. Latency runs from the due time, so a server that
    // falls behind the offered rate shows as a tail growing over the
    // probe. The backlog's growth (offered minus answered misses, its
    // least-squares slope over the probe's second half) is reported; it
    // is not part of the score: over a 5 s probe whose latency is seconds
    // the backlog is still filling, and the trigger's sawtooth swamps
    // what is left. The capacity is the rate where the score
    // crosses 1, found by the secant method: the fixed phase and a probe
    // at 6x its rate place the second probe, and the two probes place the
    // result (interpolated when they bracket the crossing), so it is
    // continuous.
    val segSecs = if (ctx.smoke) 2.0 else 5.0
    final case class Probe(rate: Double, tailMs: Double, backlogSlope: Double,
                           keptUp: Boolean, score: Double) {
      def passed: Boolean = keptUp && score <= 1.0
    }
    def segment(r: Double): Probe = {
      val sched = schedule(r, segSecs)
      val samples = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      val recs = fire(sched, recs => {
        while (System.nanoTime() < sched.last.dueNs) {
          val now = System.nanoTime()
          samples += ((now, recs.count(x =>
            x.s.kind == Miss && x.s.dueNs <= now && firstEvent(x.s.msg).isEmpty)))
          Thread.sleep(20)
        }
      })
      drain(recs, TailLimitMs)
      val now = System.nanoTime()
      val misses = recs.filter(_.s.kind == Miss)
      // a miss still unanswered once the limit has passed after the
      // probe counts with its wait so far
      val lat = missLat(recs).zip(misses).map { case (l, rec) =>
        if (l.isFinite) l else (now - rec.s.dueNs) / 1e6 }
      val keptUp = misses.forall(x => firstEvent(x.s.msg).isDefined)
      drain(recs, DeadlineMs) // let a backlog clear before the next probe
      val (t0, t1) = (sched.head.dueNs, sched.last.dueNs)
      val half = samples.filter(_._1 >= (t0 + t1) / 2).map { case (t, b) => (t / 1e9, b.toDouble) }
      val slope = if (half.size < 3) 0.0 else {
        val mt = half.map(_._1).sum / half.size; val mb = half.map(_._2).sum / half.size
        half.map { case (t, b) => (t - mt) * (b - mb) }.sum /
          half.map { case (t, _) => (t - mt) * (t - mt) }.sum.max(1e-9)
      }
      val tail = Stats.tail(lat)._2
      val score = tail / TailLimitMs
      Probe(r, tail, slope, keptUp, if (keptUp) score else score.max(1.0))
    }
    /** The rate where the line through two probes' scores crosses 1,
      * kept within half the lower and twice the higher probe rate. With
      * a score that does not rise with the rate, the higher of the
      * passing rates (or half the lower rate when neither passes). */
    def secant(a: Probe, b: Probe): Double = {
      val (lo, hi) = if (a.rate <= b.rate) (a, b) else (b, a)
      if (hi.score <= lo.score)
        if (hi.passed) hi.rate else if (lo.passed) lo.rate else lo.rate / 2
      else (lo.rate + (hi.rate - lo.rate) * (1.0 - lo.score) / (hi.score - lo.score))
        .max(lo.rate / 2).min(hi.rate * 2)
    }
    val fixedTail = Stats.tail(missLat(fixedA).filter(_.isFinite))._2
    val p0 = Probe(rate, fixedTail, 0, keptUp = true, fixedTail / TailLimitMs)
    val p1 = segment(rate * 6)
    val probes = Seq(p0, p1) ++ (if (ctx.smoke) Nil else Seq(segment(secant(p0, p1))))
    val maxRate = secant(probes(probes.size - 2), probes.last)
    val loadAfter = Host.loadAvg()
    phase("capacity")

    // ---- checks ------------------------------------------------------------
    running = false
    query.stop(); server.stop()
    val all = warm ++ fixed
    all.foreach { r =>
      r.s.kind match {
        case Hit =>
          errs.check(r.status == "cached" &&
            Json.read(r.reply).path("coaching_response").asText() == r.s.expect,
            s"cache hit '${r.s.msg}' answered ${r.reply.take(120)}")
        case _ =>
          errs.check(r.status == "sent", s"send '${r.s.msg}' got status ${r.status}")
      }
    }
    val missesFixed = fixed.filter(_.s.kind == Miss)
    // every miss is answered; in the fixed phase within the deadline (the
    // warm-up's first triggers are slow by nature, the capacity probes
    // are meant to overload)
    (warm ++ fixed).filter(_.s.kind == Miss).foreach { r =>
      firstEvent(r.s.msg) match {
        case None => errs.fail(s"no coaching event for '${r.s.msg}'")
        case Some(e) => errs.check(!fixed.contains(r) || (e.ns - r.s.dueNs) / 1e6 <= DeadlineMs,
          s"event for '${r.s.msg}' later than ${DeadlineMs} ms")
      }
    }
    // every event: one per message (TTL repeats dropped) and a valid reply
    val expectedVecs = indexed.select("document_id", "embedding").as[(String, Array[Float])]
      .collect()
    indexed.unpersist()
    val probe = new MockEmbedder(1536)
    def top3(m: String): Seq[String] = {
      val q = probe.embed(m)
      def cos(v: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < q.length) { d += q(i).toDouble * v(i); na += q(i).toDouble * q(i); nb += v(i).toDouble * v(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      expectedVecs.zipWithIndex.map { case ((id, v), i) => (cos(v), i, id) }
        .sortBy { case (s, i, _) => (-s, i) }.take(3).map(_._3).toSeq
    }
    val checkedTop = scala.collection.mutable.ArrayBuffer.empty[String]
    events.asScala.foreach { case (m, l) =>
      val evs = l.synchronized(l.asScala.toList)
      errs.check(evs.size == 1, s"${evs.size} events for '$m' (TTL repeat not dropped)")
      val cited = Coach.citedIds(Json.read(evs.head.json).path("coaching_response").asText())
      cited match {
        case None => errs.fail(s"reply to '$m' does not parse to the coaching contract")
        case Some(ids) =>
          errs.check(ids.size == 3 && ids.forall(kbIds), s"reply to '$m' cites $ids")
          if (checkedTop.size < 25) {
            checkedTop += m
            val want = top3(m)
            errs.check(ids == want, s"reply to '$m' cites $ids, exact top-3 is $want")
          }
      }
    }
    errs.check(b.dropped == 0, s"broadcaster dropped ${b.dropped} events")

    phase("checks")
    // ---- metrics ------------------------------------------------------------
    val lat = missLat(fixedA).filter(_.isFinite)
    val hitLat = fixedA.filter(r => r.s.kind == Hit && r.ackNs > 0)
      .map(r => (r.ackNs - r.s.dueNs) / 1e6)
    val (tailP, tailV) = Stats.tail(lat)
    val (hTailP, hTailV) = Stats.tail(hitLat)
    val lateMax = (warm ++ fixed).map(r => (r.sendNs - r.s.dueNs) / 1e6).max
    val e2e = Map(
      "op_p50_ms" -> Stats.median(lat), "op_tail_ms" -> tailV,
      "throughput_per_s" -> maxRate)
    val report = Map(
      "coach_p50_ms" -> Map("value" -> Stats.median(lat), "unit" -> "ms", "n" -> lat.size),
      "coach_tail_ms" -> Map("value" -> tailV, "unit" -> "ms", "pct" -> tailP, "n" -> lat.size),
      "cached_p50_ms" -> Map("value" -> Stats.median(hitLat), "unit" -> "ms", "n" -> hitLat.size),
      "cached_tail_ms" -> Map("value" -> hTailV, "unit" -> "ms", "pct" -> hTailP, "n" -> hitLat.size),
      "coach_max_rate" -> Map("value" -> maxRate, "unit" -> "msg/s",
        "probe_seconds" -> segSecs, "tail_limit_ms" -> TailLimitMs,
        "probes" -> probes.map(p => Map("rate" -> p.rate, "tail_ms" -> p.tailMs,
          "backlog_slope_per_s" -> p.backlogSlope,
          "kept_up" -> p.keptUp, "score" -> p.score, "passed" -> p.passed))),
      "offered_rate" -> Map("value" -> rate, "unit" -> "msg/s", "seconds" -> phaseSecs),
      "phase_s" -> phases.toMap,
      "gen.late_max_ms" -> lateMax,
      "gen.fell_behind" -> (lateMax > 100.0),
      "host.load_before" -> loadBefore, "host.load_after" -> loadAfter)

    // ---- per-layer ------------------------------------------------------------
    val withAck = fixed.filter(r => r.ackNs > 0)
    val acks = withAck.map(r => (r.ackNs - r.sendNs) / 1e6)
    val relays = missesFixed.flatMap(r => for {
      e <- firstEvent(r.s.msg); p <- Option(published.get(r.s.msg))
    } yield (e.ns - p.longValue) / 1e6)
    // the fixed phase's triggers: the ones its latencies are made of
    val trig = ctx.progress.batches("coach").filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      firstOp <= t && t <= fixedEndMs
    }
    def dur(k: String): Seq[Double] =
      trig.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val trigMs = dur("triggerExecution")
    val last = ctx.progress.progress.asScala.toSeq.filter(_.name == "coach").lastOption
    val state = last.toSeq.flatMap(_.stateOperators)
    // trigger of each miss = the trigger whose interval holds its publish
    val trigSpans = trig.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + nanoOrigin
      (s, s + (p.durationMs.get("triggerExecution").longValue * 1000000L))
    }
    // Each answered miss's path as spans taken at module boundaries:
    // coach.request (due → SSE receipt) with children serve.ingress (POST
    // → the ingress hook handed it to the stream), stream.trigger (start
    // of the trigger that published it, from its progress report → the
    // publish) and serve.relay (publish → SSE receipt). The request's self
    // time is its wait: for a trigger to start, and the generator's own
    // lateness. Nothing is clipped, so the self times of a request add up
    // to more than its e2e time exactly when its spans overlap.
    val requests = missesFixed.flatMap { r =>
      for {
        e <- firstEvent(r.s.msg); p <- Option(published.get(r.s.msg)).map(_.longValue)
        q <- Option(enqueued.get(r.s.msg)).map(_.longValue)
        (ts, _) <- trigSpans.find { case (a, z) => a <= p + 2000000L && p <= z + 2000000L }
      } yield {
        val tree = Seq(
          Trace.Span(1, "coach.request", r.s.dueNs, e.ns, 0, r.s.msg),
          Trace.Span(2, "serve.ingress", r.sendNs, q, 1, r.s.msg),
          Trace.Span(3, "stream.trigger", ts, p, 1, r.s.msg),
          Trace.Span(4, "serve.relay", p, e.ns, 1, r.s.msg))
        val traced = fixedB.contains(r)
        if (traced) { Trace.enabled = true; Trace.recordTree(tree); Trace.enabled = false }
        (r, tree, Trace.selfTimes(tree), traced)
      }
    }
    val waits = requests.map(_._3("coach.request"))
    // the traced requests' self times add up to no more than their e2e
    // time, up to the 2 ms by which a progress report's millisecond
    // timestamp can misplace a trigger's start
    val selfRatios = requests.filter(_._4).map { case (r, tree, self, _) =>
      val e2eMs = (tree.head.endNs - tree.head.startNs) / 1e6
      errs.check(self.values.sum <= e2eMs + 2.0,
        s"self times of '${r.s.msg}' add up to ${self.values.sum} ms, over its e2e $e2eMs ms")
      self.values.sum / e2eMs
    }
    val layers = Map(
      "serve.ingress_ack_p50_ms" -> med(acks),
      "serve.ingress_ack_tail_ms" -> (if (acks.isEmpty) 0.0 else Stats.tail(acks)._2),
      "serve.relay_ms" -> med(relays),
      "serve.cache_hit_ratio" -> cacheHits.get.toDouble / cacheLookups.get.max(1),
      "serve.dropped_events" -> b.dropped.toDouble,
      "serve.start_ms" -> startMs,
      "serve.cached_p50_ms" -> Stats.median(hitLat),
      "stream.trigger_p50_ms" -> med(trigMs),
      "stream.trigger_tail_ms" -> (if (trigMs.isEmpty) 0.0 else Stats.tail(trigMs)._2),
      "stream.batches" -> trig.size.toDouble,
      "stream.rows_per_batch" -> med(trig.map(_.numInputRows.toDouble)),
      "stream.add_batch_ms" -> med(dur("addBatch")),
      "stream.query_planning_ms" -> med(dur("queryPlanning")),
      "stream.wal_commit_ms" -> med(dur("walCommit")),
      "stream.commit_offsets_ms" -> med(dur("commitOffsets")),
      "stream.latest_offset_ms" -> med(dur("latestOffset")),
      "stream.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "stream.state_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble,
      "stream.state_commit_ms" -> med(trig.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "stream.trigger_wait_ms" -> med(waits),
      "store.kb_build_ms" -> kbMs,
      "functions.chunks" -> store.size.toDouble,
      "coach.max_rate" -> maxRate,
      "gen.late_max_ms" -> lateMax,
      "host.load_before" -> loadBefore, "host.load_after" -> loadAfter) ++
      phaseCalls ++ phaseSpark.collect { case (k, v) if k.startsWith("spark.") => s"phase.$k" -> v.toDouble } ++
      traceLayers(fixedA, fixedB, missLat, selfRatios)
    Outcome(all.size.toLong, errs, e2e, layers, report, firstOp)
  }

  /** Tracing overhead and self-time rollup of a traced run: the first
    * half of the fixed phase ran untraced, the second traced. */
  private def traceLayers(untraced: IndexedSeq[Rec], traced: IndexedSeq[Rec],
                          missLat: IndexedSeq[Rec] => IndexedSeq[Double],
                          selfRatios: Seq[Double])
      : Map[String, Double] = {
    if (traced.isEmpty) return Map.empty
    val a = missLat(untraced).filter(_.isFinite)
    val t = missLat(traced).filter(_.isFinite)
    val self = Trace.selfTimes(Trace.all)
    val n = t.size.max(1).toDouble
    Map(
      "trace.coach.untraced_p50_ms" -> Stats.median(a),
      "trace.coach.traced_p50_ms" -> Stats.median(t),
      "trace.coach.overhead_pct" -> (Stats.median(t) / Stats.median(a) - 1.0) * 100.0,
      "trace.coach.spans" -> Trace.all.size.toDouble,
      "trace.coach.self_sum_over_e2e_max" -> selfRatios.foldLeft(0.0)(_ max _),
      "self.providers_embed_ms_per_req" -> self.getOrElse("providers.embed", 0.0) / n,
      "self.providers_chat_ms_per_req" -> self.getOrElse("providers.chat", 0.0) / n,
      "self.store_search_ms_per_req" -> self.getOrElse("store.search", 0.0) / n,
      // the request's own time: waiting for a trigger (and the generator)
      "self.coach_request_ms_per_req" -> self.getOrElse("coach.request", 0.0) / n)
  }
}

/** Coaching-contract checks on a reply, independent of graft's parser. */
object Coach {
  /** The cited document ids, or None when the reply is not the contract
    * JSON (fenced, with the model's trailing comma tolerated). */
  def citedIds(raw: String): Option[Seq[String]] = scala.util.Try {
    val body = raw.trim.stripPrefix("```json").stripSuffix("```")
      .replaceAll(",\\s*}", "}").replaceAll(",\\s*]", "]")
    val n = Json.read(body)
    require(n.path("suggested_response").isTextual && n.path("reasoning").isTextual)
    n.path("sources").elements().asScala.map(_.path("document_id").asText()).toSeq
  }.toOption
}

object Host {
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
