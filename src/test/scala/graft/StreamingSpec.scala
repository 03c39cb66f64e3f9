package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.CoachingPipeline
import graft.providers.{MockChat, MockEmbedder, ModelRegistry}
import graft.store.BroadcastBruteForceStore
import graft.streaming.StreamingOps

/** T1/T3/T5: the coaching chain as a real Structured Streaming query over
  * MemoryStream, with at-least-once input deduplicated to effectively-once
  * output (reference kafka_utils.py:208-249's TTL dict ≡
  * dropDuplicatesWithinWatermark) and the top-6 view recomputed per
  * micro-batch (SURVEY.md §5 item 5, §7.4 #1). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // offset from epoch: an event at exactly the initial watermark (0) is
  // treated as late and silently dropped
  private def ts(minutes: Int): Timestamp = new Timestamp((100 + minutes) * 60000L)

  private def checkpoint(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  private lazy val pipeline: CoachingPipeline = {
    ModelRegistry.registerReferenceModels()
    val embedder = new MockEmbedder(32)
    val knowledge = Seq(
      ("kb/pricing.md", "Pricing", "kb", "pricing objection handling guide with discount policy"),
      ("kb/other.md", "Other", "kb", "unrelated implementation notes"))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val bootstrap = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val store = BroadcastBruteForceStore.fromDataFrame(bootstrap.indexKnowledge(knowledge))
    new CoachingPipeline(embedder, new MockChat, store)
  }

  test("streaming coach: at-least-once input yields effectively-once output") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, String, Timestamp)]
    val messages = input.toDF.toDF("message", "speaker", "ts")

    val coached = pipeline.coach(
      StreamingOps.dedupWithTtl(messages, "message", "ts", ttl = "5 minutes"))

    val query = coached.writeStream.format("memory").queryName("coached_stream")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      // batch 1: a message delivered twice (at-least-once) + a salesperson row
      input.addData(
        ("what about the pricing", "prospect", ts(0)),
        ("what about the pricing", "prospect", ts(0)),
        ("let me explain", "salesperson", ts(1)))
      query.processAllAvailable()
      // batch 2: replay of the same message inside the TTL + one new message
      input.addData(
        ("what about the pricing", "prospect", ts(2)),
        ("tell me about integration", "prospect", ts(3)))
      query.processAllAvailable()

      val out = spark.table("coached_stream")
        .select("message", "coaching_response").collect()
      val byMsg = out.groupBy(_.getString(0)).view.mapValues(_.length).toMap
      byMsg shouldBe Map(
        "what about the pricing" -> 1,       // dup + replay suppressed
        "tell me about integration" -> 1)    // salesperson row filtered
      out.foreach(_.getString(1) should not be empty)
    } finally query.stop()
  }

  test("streaming curation keeps the same content set as batch curate") {
    implicit val ctx = spark.sqlContext
    import graft.pipeline.CurationPipeline
    val cfg = CurationPipeline.Config(minQuality = 0.3, langs = Seq("en"),
      minTokens = 4, maxTokens = 50)
    val good = "the quick brown fox jumps over the lazy dog and runs on"
    val french = "le chat et la souris et le chien et les oiseaux dorment"
    val short = "too short"
    val rows = Seq(
      (1L, good), (2L, good),        // exact dup: one survivor
      (3L, french),                  // lang gate
      (4L, short),                   // token gate
      (5L, good + " again and again here"))

    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF.toDF("doc_id", "text", "ts")
    val kept = StreamingOps.curateStream(docs, cfg, "text", "ts")
    val query = kept.writeStream.format("memory").queryName("curated_stream")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      input.addData(rows.map { case (id, t) => (id, t, ts(id.toInt)) }: _*)
      query.processAllAvailable()
      val streamHashes = spark.table("curated_stream")
        .select(org.apache.spark.sql.functions.md5($"text")).as[String]
        .collect().sorted.toSeq
      // batch curate on the same rows: same GATES, min-id dedup — the
      // kept CONTENT set must be identical (same text ⇒ same verdict)
      val batchHashes = CurationPipeline.curate(
          rows.toDF("doc_id", "text"), cfg)
        .select(org.apache.spark.sql.functions.md5($"text")).as[String]
        .collect().sorted.toSeq
      streamHashes shouldBe batchHashes
      streamHashes should have size 2 // good (once) + the long variant
    } finally query.stop()
  }

  test("dedup TTL: a replay after the watermark passes the TTL is re-emitted") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, String, Timestamp)]
    val deduped = StreamingOps.dedupWithTtl(
      input.toDF.toDF("message", "speaker", "ts"), "message", "ts", ttl = "5 minutes")

    val query = deduped.writeStream.format("memory").queryName("dedup_ttl")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      input.addData(("hello", "prospect", ts(0)))
      query.processAllAvailable()
      // push the watermark far past ts(0) + TTL → state for "hello"
      // dropped. Watermark propagation lags one micro-batch (batch N's
      // watermark comes from batch N-1's max event time), so advance twice.
      input.addData(("advance", "prospect", ts(60)))
      query.processAllAvailable()
      input.addData(("advance2", "prospect", ts(62)))
      query.processAllAvailable()
      input.addData(("hello", "prospect", ts(63)))
      query.processAllAvailable()

      val hellos = spark.table("dedup_ttl").filter($"message" === "hello").count()
      hellos shouldBe 2 // the reference's TTL dict also forgets after 300 s
    } finally query.stop()
  }

  test("TTL keeps dedup state bounded as the stream scales (watermark evicts)") {
    // 12 waves of unique keys, 2 event-minutes apart, TTL 5 minutes.
    // dropDuplicatesWithinWatermark keeps a key for `ttl` past its OWN
    // event time, judged against a watermark that itself trails max event
    // time by `ttl` (plus one batch of propagation lag), so the live
    // horizon is ~2·ttl/gap + 1 waves — 6 here (measured exactly 6).
    // Bounded ≠ small: the point is it PLATEAUS there instead of growing
    // with the stream — the sizing claim that makes TTL dedup viable at
    // 100 TB.
    val (waves, perWave) = (12, 200)
    val (in, maxRows, finalRows, maxBytes, _) =
      Bench.stateBoundednessProbe(spark, waves, perWave,
        ttlMinutes = 5, gapMinutes = 2)
    in shouldBe waves.toLong * perWave
    maxRows should be > 0L
    maxBytes should be > 0L
    // plateau: at most 2·ttl/gap + 2 waves ever live (one wave of slack),
    // and strictly below the total — state did NOT grow with the stream
    maxRows should be <= (2 * 5L / 2 + 2) * perWave
    maxRows should be < in
    finalRows should be <= maxRows
  }

  test("sessionizeStream: gap sessions close at the watermark with exact bounds") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val sessions = StreamingOps.sessionizeStream(
      input.toDF.toDF("user", "ts"), "user", "ts",
      gap = "30 minutes", delay = "10 minutes")

    val query = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      // u1: two events 5 min apart (one session), then one 60 min later
      // (a second session); u2: a single event. The second u1 batch also
      // exercises cross-micro-batch session state.
      input.addData(("u1", ts(0)), ("u1", ts(5)), ("u2", ts(1)))
      query.processAllAvailable()
      input.addData(("u1", ts(65)))
      query.processAllAvailable()
      // advance the watermark far enough to close and emit every session
      input.addData(("u3", ts(300)))
      query.processAllAvailable()

      val got = spark.table("sessions_out")
        .select($"user", $"session_start", $"session_end", $"n_events")
        .as[(String, Timestamp, Timestamp, Long)].collect().sorted.toSeq
      // session end = last event + gap (the window-end convention)
      got.filter(_._1 == "u1") shouldBe Seq(
        ("u1", ts(0), ts(5 + 30), 2L),
        ("u1", ts(65), ts(65 + 30), 1L))
      got.filter(_._1 == "u2") shouldBe Seq(("u2", ts(1), ts(1 + 30), 1L))
    } finally query.stop()
  }

  test("rollingAnomalyState matches the batch PRECEDING-frame recipe on in-order input") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    // two series of noise with planted spikes; delivered across TWO
    // micro-batches so the deque state must carry
    val pts = (0 until 120).map { i =>
      val series = i % 2
      val v = if (i == 80 || i == 95) 40.0 + i else rnd.nextGaussian()
      StreamingOps.SeriesPoint(series.toLong, i.toLong, 1000L + i, v)
    }
    val input = MemoryStream[StreamingOps.SeriesPoint]
    val hits = StreamingOps.rollingAnomalyState(input.toDS(), window = 20)
    val query = hits.writeStream.format("memory").queryName("anom_out")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      val (b1, b2) = pts.splitAt(60)
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      val got = spark.table("anom_out")
        .select($"seriesId", $"eventId", $"z")
        .as[(Long, Long, Double)].collect().sorted.toSeq

      // batch reference: the q17 recipe (PRECEDING-only 20-row frame,
      // sample stddev, round-then-compare) over the same rows
      val byS = Window.partitionBy($"seriesId")
        .orderBy($"tsSec", $"eventId").rowsBetween(-20, -1)
      val expected = pts.toDS().toDF()
        .withColumn("mu", avg($"value").over(byS))
        .withColumn("sd", stddev_samp($"value").over(byS))
        .withColumn("z", when($"sd".isNull || $"sd" === 0.0, lit(null))
          .otherwise(round(($"value" - $"mu") / $"sd", 6)))
        .filter($"z" >= 3.0)
        .select($"seriesId", $"eventId", $"z")
        .as[(Long, Long, Double)].collect().sorted.toSeq
      got shouldBe expected
      got.map(_._2).toSet should contain allOf (80L, 95L) // the spikes
    } finally query.stop()
  }

  test("intervalJoinStreams pairs rows inside the bound once, drops the rest") {
    implicit val ctx = spark.sqlContext
    val msgs = MemoryStream[(String, String, Timestamp)]
    val resps = MemoryStream[(String, String, Timestamp)]
    val joined = StreamingOps.intervalJoinStreams(
      msgs.toDF.toDF("m_user", "m_text", "m_ts"),
      resps.toDF.toDF("r_user", "r_text", "r_ts"),
      "m_user", "r_user", "m_ts", "r_ts", within = "5 minutes")

    val query = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      msgs.addData(("u1", "pricing?", ts(0)), ("u2", "integration?", ts(0)))
      // in-bound response, out-of-bound response, wrong-user response —
      // delivered in a LATER micro-batch than the messages (buffered
      // stream state must hold the left side across batches)
      resps.addData(("u1", "here is pricing", ts(3)),
        ("u1", "too late", ts(30)), ("u3", "stranger", ts(1)))
      query.processAllAvailable()
      // advance both watermarks so eligible pairs are provably complete
      msgs.addData(("zz", "flush", ts(600)))
      resps.addData(("zz", "flush", ts(600)))
      query.processAllAvailable()

      val got = spark.table("sj_out")
        .select($"m_user", $"m_text", $"r_text")
        .as[(String, String, String)].collect().sorted.toSeq
      got shouldBe Seq(("u1", "pricing?", "here is pricing"),
        ("zz", "flush", "flush"))
    } finally query.stop()
  }

  test("trendingTerms: windowed token counts close with the watermark, state bounded to live windows") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp)]
    val terms = StreamingOps.trendingTerms(
      input.toDF.toDF("message", "ts"), "message", "ts",
      window = "2 minutes", slide = "2 minutes", delay = "1 minute",
      minCount = 2L)

    val query = terms.writeStream.format("memory").queryName("trending_out")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    try {
      // window [100,102): pricing×3, discount×2, rollout×1 (under min)
      input.addData(
        ("pricing pricing discount", ts(0)),
        ("pricing discount rollout", ts(1)))
      query.processAllAvailable()
      // advance the watermark past the window end to close + emit it
      input.addData(("later message entirely", ts(10)))
      query.processAllAvailable()

      val got = spark.table("trending_out")
        .select(col("window.start").cast("long").as("w"), col("term"), col("cnt"))
        .as[(Long, String, Long)].collect().toSeq
        .filter(_._1 == ts(0).getTime / 1000)
      got.map(t => (t._2, t._3)).sorted shouldBe
        Seq(("discount", 2L), ("pricing", 3L)) // rollout under minCount
    } finally query.stop()
  }

  test("stateful conversation tail keeps the last n across micro-batches") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[graft.streaming.ConversationMsg]
    val tail = StreamingOps.conversationTailState(input.toDS(), n = 3)

    val query = tail.writeStream.format("memory").queryName("conv_tail")
      .outputMode("update").option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((1 to 4).map(i =>
        graft.streaming.ConversationMsg(s"m$i", "prospect", ts(i))): _*)
      query.processAllAvailable()
      input.addData(graft.streaming.ConversationMsg("m5", "salesperson", ts(5)))
      query.processAllAvailable()

      // the LAST emitted snapshot is the tail over the whole stream —
      // state carried across batches, not per-batch recompute
      val snapshots = spark.table("conv_tail")
        .as[Seq[graft.streaming.ConversationMsg]].collect()
      snapshots.last.map(_.message) shouldBe Seq("m3", "m4", "m5")
    } finally query.stop()
  }

  test("recent-history view recomputes the top-6 per micro-batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val messages = input.toDF.toDF("message", "rowtime")

    @volatile var last: Array[(String, Timestamp)] = Array.empty
    val writer = StreamingOps.recentHistorySink(messages, "rowtime") { view =>
      last = view.select("message", "rowtime").as[(String, Timestamp)].collect()
    }
    val query = writer.option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((1 to 10).map(i => (s"m$i", ts(i))): _*)
      query.processAllAvailable()
      // last 6 by rowtime, re-sorted ascending (W1+W2+F4)
      last.map(_._1).toSeq shouldBe (5 to 10).map(i => s"m$i")
    } finally query.stop()
  }

  test("upsertSink raises past its row budget instead of silently collecting the batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, String, Seq[Float])]
    val store = new graft.store.InMemoryVectorStore
    val query = StreamingOps.upsertSink(
        input.toDF.toDF("document_id", "chunks", "embedding"), store,
        maxRowsPerBatch = 2L)
      .option("checkpointLocation", checkpoint()).start()
    try {
      // within budget: upserts land
      input.addData(("d1", "c1", Seq(1f, 0f)), ("d2", "c2", Seq(0f, 1f)))
      query.processAllAvailable()
      store.size shouldBe 2
      // over budget: the sink must raise (pointing at indexUpsertSink),
      // not materialize the batch on the driver
      input.addData(("d3", "c3", Seq(1f, 1f)), ("d4", "c4", Seq(1f, 2f)),
        ("d5", "c5", Seq(2f, 1f)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      ex.getMessage should include("indexUpsertSink")
    } finally query.stop()
  }

  test("streamed index upserts equal the batch build; replays mask, compact removes them") {
    import graft.operators.SimilaritySearch
    import graft.store.VectorStores

    // 40 chunk rows with deterministic embeddings, split: 10 seed the
    // index (the batch bootstrap), 30 arrive as micro-batches
    def emb(i: Int): Seq[Float] = Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)
    val rows = (0 until 40).map(i => (f"docs/d$i%02d.md", s"chunk text $i", emb(i)))
    def prepared(rs: Seq[(String, String, Seq[Float])]) =
      rs.toDF("document_id", "chunks", "embedding").select(
        VectorStores.chunkKey("document_id", "chunks").as("__nid"),
        col("document_id"), col("chunks"), col("embedding"))
    val centroids = rows.take(4).map(_._3)

    val batchPath = java.nio.file.Files.createTempDirectory("graft-idx-batch").toString
    val streamPath = java.nio.file.Files.createTempDirectory("graft-idx-stream").toString
    SimilaritySearch.writeIvfFlatIndex(prepared(rows), centroids, batchPath,
      "__nid", "embedding", Seq("document_id", "chunks"))
    SimilaritySearch.writeIvfFlatIndex(prepared(rows.take(10)), centroids,
      streamPath, "__nid", "embedding", Seq("document_id", "chunks"))

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, String, Seq[Float])]
    val stream = input.toDF.toDF("document_id", "chunks", "embedding")
    val query = StreamingOps.indexUpsertSink(stream, streamPath)
      .option("checkpointLocation", checkpoint()).start()

    val queries = rows.take(5).zipWithIndex
      .map { case ((id, _, e), _) => (id, e) }.toDF("qid", "qvec")
    def results(path: String): Seq[(String, String, Int)] =
      SimilaritySearch.searchIvfFlatIndex(spark, path, queries, k = 3,
          numCandidates = Int.MaxValue, "qid", "qvec",
          payloadCols = Seq("document_id"))
        .select(col("qid"), col("document_id"), col("rank"))
        .as[(String, String, Int)].collect().sorted.toSeq
    val expected = results(batchPath)
    expected should have length 15

    try {
      // the remaining 30 rows arrive over three micro-batches
      input.addData(rows.slice(10, 20): _*); query.processAllAvailable()
      input.addData(rows.slice(20, 30): _*); query.processAllAvailable()
      input.addData(rows.slice(30, 40): _*); query.processAllAvailable()
      // streamed-upserted index ≡ batch-built index, hash-identical
      results(streamPath) shouldBe expected

      // AT-LEAST-ONCE replay: a delivered-again micro-batch re-appends
      // identical content-keyed rows; the search's ranking collapses
      // them, so the search is idempotent under replay
      input.addData(rows.slice(20, 30): _*); query.processAllAvailable()
      results(streamPath) shouldBe expected
      // the duplicates are physically there (the ranking is doing work)
      spark.read.parquet(s"$streamPath/payload").count() shouldBe 50

      // tombstone delete: drop one indexed chunk; it must vanish from
      // results (its former ranks reflow) without a partition rewrite
      val victim = expected.head._2
      val victimNid = prepared(rows).filter(col("document_id") === victim)
        .select(col("__nid")).as[String].collect().head
      SimilaritySearch.deleteFromIvfFlatIndex(spark, streamPath, Seq(victimNid))
      val afterDelete = results(streamPath)
      afterDelete.map(_._2) should not contain victim
      afterDelete should have length 15 // k=3 refilled from survivors

      // COMPACTION: fewer files, duplicates and tombstones physically
      // gone — post-compact searches need no masks at all
      def payloadFiles(): Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(s"$streamPath/payload"))
          .count(_.getName.endsWith(".parquet"))
      }
      val before = payloadFiles()
      SimilaritySearch.compactIvfFlatIndex(spark, streamPath)
      val after = payloadFiles()
      after should be < before
      spark.read.parquet(s"$streamPath/payload").count() shouldBe 39
      new java.io.File(s"$streamPath/tombstones").exists() shouldBe false
      results(streamPath) shouldBe afterDelete
      // cellstats refreshed to physical truth
      SimilaritySearch.cellCountsOf(spark, streamPath).sum shouldBe 39
    } finally query.stop()
  }

  test("index-served streaming chain matches the broadcast chain response-for-response") {
    import graft.pipeline.TopicParityPipeline
    // the standing 4-stage chain with retrieval as a per-micro-batch
    // partition-pruned join against the persisted IVF-Flat index —
    // streamStagesIndexed — must produce byte-identical responses to
    // the broadcast-store chain in the exact regime (numCandidates
    // covers the corpus). This is the serving half of the external-
    // index loop: indexUpsertSink streams rows IN (test above), this
    // streams searches OUT, neither collects vectors to the driver.
    ModelRegistry.registerReferenceModels()
    val embedder = new MockEmbedder(64)
    val knowledge = Seq(
      ("kb/pricing.md", "Pricing", "kb", "pricing objection handling guide with discount policy"),
      ("kb/impl.md", "Impl", "kb", "implementation rollout and integration guide"),
      ("kb/comp.md", "Comp", "kb", "competitor comparison and differentiation notes"),
      ("kb/net.md", "Net", "kb", "networking protocols and latency budgets"))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val boot = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val indexed = boot.indexKnowledge(knowledge)
    val store = BroadcastBruteForceStore.fromDataFrame(indexed)
    val path = java.nio.file.Files.createTempDirectory("graft-stream-idx").toString
    val idxStore = graft.store.VectorStores.adaptive(indexed, path,
      broadcastBytes = 1L) // forced past the budget → persisted index
    idxStore shouldBe a[graft.store.IvfFlatIndexStore]
    val pipeline = new CoachingPipeline(embedder, new MockChat, store)

    val messages = Seq(
      ("what about the pricing discounts", "prospect"),
      ("tell me about integration rollout", "prospect"),
      ("how do you compare to competitors", "prospect"),
      ("let me explain", "salesperson"))
      .toDF("message", "speaker")

    def responses(indexedMode: Boolean): Seq[String] = {
      def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      val topics = new graft.io.LocalTopicStore(tmp("graft-chain-topics"))
      val parity = new TopicParityPipeline(pipeline, topics)
      val queries =
        if (indexedMode)
          parity.streamStagesIndexed(spark, tmp("graft-chain-ckpt"),
            idxStore.asInstanceOf[graft.store.IvfFlatIndexStore])
        else parity.streamStages(spark, tmp("graft-chain-ckpt"))
      try {
        parity.publishConversation(messages)
        queries.foreach(_.processAllAvailable())
        parity.consumeResponses(spark)
          .select(col("message"), col("rag_results_string"),
            col("coaching_response"))
          .collect().map(_.toString).sorted.toSeq
      } finally queries.foreach(_.stop())
    }

    val viaStore = responses(indexedMode = false)
    val viaIndex = responses(indexedMode = true)
    viaStore should have length 3 // salesperson row filtered
    viaIndex shouldBe viaStore
  }

  test("snapshotUpsertSink: versioned CDC snapshots, time travel, retention, full-replay convergence") {
    implicit val ctx = spark.sqlContext
    val nul = null.asInstanceOf[String]
    val root = java.nio.file.Files.createTempDirectory("graft-snap")
      .toString + "/snap"
    def snap(): Seq[(Long, Option[String])] =
      StreamingOps.readSnapshot(spark, root).get
        .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 2)
      .option("checkpointLocation", checkpoint()).start()
    val b1 = Seq((1L, 1L, "upsert", "a"), (2L, 1L, "upsert", "b"))
    val b2 = Seq((1L, 2L, "delete", nul), (3L, 1L, "upsert", "c"))
    val b3 = Seq((2L, 2L, "upsert", "b2"))
    try {
      StreamingOps.readSnapshot(spark, root) shouldBe None // pre-commit
      input.addData(b1: _*); query.processAllAvailable()
      snap() shouldBe Seq((1L, Some("a")), (2L, Some("b")))
      input.addData(b2: _*); query.processAllAvailable()
      snap() shouldBe Seq((2L, Some("b")), (3L, Some("c")))
      // time travel: snapshot 0 still readable under keepVersions=2
      StreamingOps.readSnapshot(spark, root, version = Some(0))
        .get.count() shouldBe 2
      input.addData(b3: _*); query.processAllAvailable()
      snap() shouldBe Seq((2L, Some("b2")), (3L, Some("c")))
      // retention pruned snapshot 0's manifest; snapshot 1 (previous)
      // remains readable with its exact content
      intercept[IllegalStateException] {
        StreamingOps.readSnapshot(spark, root, version = Some(0))
      }
      StreamingOps.readSnapshot(spark, root, version = Some(1)).get
        .as[(Long, Option[String])].collect().sortBy(_._1).toSeq shouldBe
        Seq((2L, Some("b")), (3L, Some("c")))
      // CROSS-BATCH stale redelivery: key 1 was deleted at seq 2, key 2
      // upserted at seq 2 — redelivered seq-1 changes must be rejected
      // against the snapshot's stored __seq (tombstone memory), not
      // resurrect/revert
      input.addData((1L, 1L, "upsert", "stale-a"), (2L, 1L, "upsert", "b"))
      query.processAllAvailable()
      snap() shouldBe Seq((2L, Some("b2")), (3L, Some("c")))
      // tombstone compaction: live content identical, tombstone row
      // physically gone below the horizon
      val rawBefore = StreamingOps.readSnapshot(spark, root,
        includeTombstones = true).get.count()
      StreamingOps.compactSnapshot(spark, root, horizonSeq = 2L)
      snap() shouldBe Seq((2L, Some("b2")), (3L, Some("c")))
      StreamingOps.readSnapshot(spark, root, includeTombstones = true)
        .get.count() shouldBe rawBefore - 1
      // the horizon CONTRACT's other side: with the tombstone gone, a
      // below-horizon redelivery now applies — which is exactly what
      // "the source can no longer redeliver below the horizon" excludes
      input.addData((1L, 1L, "upsert", "zombie"))
      query.processAllAvailable()
      snap() shouldBe Seq((1L, Some("zombie")), (2L, Some("b2")),
        (3L, Some("c")))
    } finally query.stop()
    // at-least-once convergence: a FULL replay of the same changelog —
    // including a replayed batch and the stale redelivery, but not
    // root1's compaction+zombie epilogue — into a fresh root lands on
    // the pre-compaction snapshot
    val root2 = java.nio.file.Files.createTempDirectory("graft-snap2")
      .toString + "/snap"
    val input2 = MemoryStream[(Long, Long, String, String)]
    val query2 = StreamingOps.snapshotUpsertSink(
        input2.toDF.toDF("doc_id", "seq", "op", "text"), root2,
        keepVersions = 2)
      .option("checkpointLocation", checkpoint()).start()
    try {
      val stale = Seq((1L, 1L, "upsert", "stale-a"), (2L, 1L, "upsert", "b"))
      Seq(b1, b2, b3, b3, stale).foreach { b => // b3 twice: replayed batch
        input2.addData(b: _*); query2.processAllAvailable()
      }
      StreamingOps.readSnapshot(spark, root2).get
        .as[(Long, Option[String])].collect().sortBy(_._1).toSeq shouldBe
        Seq((2L, Some("b2")), (3L, Some("c")))
    } finally query2.stop()
  }

  test("snapshotUpsertSink: per-batch write cost ∝ changelog, not base (bucketed copy-on-write)") {
    implicit val ctx = spark.sqlContext
    val nul = null.asInstanceOf[String]
    val root = java.nio.file.Files.createTempDirectory("graft-snap-bytes")
      .toString + "/snap"
    // per-version-dir byte totals, keyed by "b<bucket>/v<ver>"
    def versionDirs(): Map[String, Long] = {
      val rootFile = new java.io.File(root)
      Option(rootFile.listFiles()).getOrElse(Array.empty).toSeq
        .filter(d => d.isDirectory && d.getName.startsWith("b"))
        .flatMap { b =>
          Option(b.listFiles()).getOrElse(Array.empty).toSeq
            .filter(v => v.isDirectory && v.getName.startsWith("v"))
            .map { v =>
              val bytes = Option(v.listFiles()).getOrElse(Array.empty)
                .filter(_.isFile).map(_.length()).sum
              s"${b.getName}/${v.getName}" -> bytes
            }
        }.toMap
    }
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 2, numBuckets = 16)
      .option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((0L until 2000L).map(i =>
        (i, 1L, "upsert", s"document body $i with some padding text")): _*)
      query.processAllAvailable()
      val base = versionDirs()
      base.size shouldBe 16 // 2000 keys populate every bucket
      val baseBytes = base.values.sum
      // a 2-key micro-batch against the 2000-key base
      input.addData((1L, 2L, "upsert", "updated body"), (7L, 2L, "delete", nul))
      query.processAllAvailable()
      val after = versionDirs()
      val newDirs = after.keySet -- base.keySet
      // only the touched buckets (≤ 2 of 16) gained a version...
      assert(newDirs.nonEmpty && newDirs.size <= 2,
        s"expected 1-2 new bucket versions, got $newDirs")
      // ...and the bytes written are a small fraction of the base —
      // the O(changelog) write-amplification contract (the old layout
      // rewrote 100% of the base per batch)
      val newBytes = newDirs.toSeq.map(after).sum
      assert(newBytes.toDouble / baseBytes < 0.5,
        s"per-batch write amplification: $newBytes of $baseBytes base bytes")
      // untouched buckets were not rewritten: identical dirs, byte-identical
      (after.keySet & base.keySet).foreach(d => after(d) shouldBe base(d))
      // and the merge itself is right: 1999 live keys, key 1 updated
      val live = StreamingOps.readSnapshot(spark, root).get
      live.count() shouldBe 1999
      live.filter(col("doc_id") === 1L).as[(Long, String)].collect()
        .toSeq shouldBe Seq((1L, "updated body"))
      // POINT LOOKUP: reads only the keys' buckets, not the snapshot —
      // deleted key 7 yields no row, key 1 serves its updated body
      val hit = StreamingOps.lookupSnapshot(spark, root,
        Seq(1L, 7L, 1500L)).get
      hit.as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe
        Seq((1L, "updated body"), (1500L, "document body 1500 with some padding text"))
      // the scan touched at most the 3 keys' bucket dirs (16 exist)
      val bucketsRead = hit.inputFiles.toSeq
        .flatMap("/b(\\d+)/".r.findFirstMatchIn(_)).map(_.group(1)).distinct
      assert(bucketsRead.nonEmpty && bucketsRead.size <= 3,
        s"lookup read buckets $bucketsRead")
      // the ops summary: metadata-only, one row
      val desc = StreamingOps.describeSnapshot(spark, root).get.collect().head
      desc.getAs[Long]("snapshot_id") shouldBe 1L
      desc.getAs[Int]("num_buckets") shouldBe 16
      desc.getAs[Int]("populated_buckets") shouldBe 16
      desc.getAs[Seq[Long]]("retained_manifests") shouldBe Seq(0L, 1L)
      // key TYPE must not matter to the caller: Spark's Murmur3 is
      // physical-type-sensitive, so Int keys against the Long id column
      // must be cast to the stored type before bucketing — pre-fix they
      // probed the wrong buckets and silently returned empty
      StreamingOps.lookupSnapshot(spark, root, Seq(1, 1500))
        .get.as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe
        Seq((1L, "updated body"),
          (1500L, "document body 1500 with some padding text"))
    } finally query.stop()
  }

  test("snapshotChangelog: bucket-pruned CDC out, replay closure onto the target snapshot") {
    implicit val ctx = spark.sqlContext
    val nul = null.asInstanceOf[String]
    val root = java.nio.file.Files.createTempDirectory("graft-snap-cdcout")
      .toString + "/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 4, numBuckets = 8)
      .option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((1L to 40L).map(i => (i, 1L, "upsert", s"doc $i")): _*)
      query.processAllAvailable() // snapshot 0: every bucket populated
      input.addData((1L, 2L, "upsert", "doc 1 v2"), (2L, 2L, "delete", nul))
      query.processAllAvailable() // snapshot 1
      input.addData((50L, 3L, "upsert", "doc 50"))
      query.processAllAvailable() // snapshot 2
    } finally query.stop()
    // the 0→live changelog: exactly the three state changes, in
    // applyChangelogVersioned's own input shape
    val chg = StreamingOps.snapshotChangelog(spark, root, fromVersion = 0)
    chg.columns.toSeq shouldBe Seq("doc_id", "seq", "op", "text")
    chg.as[(Long, Long, String, Option[String])].collect().sortBy(_._1)
      .toSeq shouldBe Seq((1L, 2L, "upsert", Some("doc 1 v2")),
        (2L, 2L, "delete", None), (50L, 3L, "upsert", Some("doc 50")))
    // bucket pruning: the diff read only the ≤ 3 changed keys' buckets
    val bucketsRead = chg.inputFiles.toSeq
      .flatMap("/b(\\d+)/".r.findFirstMatchIn(_)).map(_.group(1)).distinct
    assert(bucketsRead.nonEmpty && bucketsRead.size <= 3,
      s"changelog read buckets $bucketsRead")
    // REPLAY CLOSURE: snapshot 0 + changelog == snapshot 2, raw layout
    // included (tombstones, __seq) — a consumer holding v0 lands
    // bit-identically on the live state
    def rawSet(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Option[String], Long, Boolean)].collect().toSet
    val v0 = StreamingOps.readSnapshot(spark, root,
      includeTombstones = true, version = Some(0)).get
    val v2 = StreamingOps.readSnapshot(spark, root,
      includeTombstones = true).get
    rawSet(graft.pipeline.CurationPipeline.applyChangelogVersioned(
      v0, chg, "doc_id", "seq", "op", Seq("text"))) shouldBe rawSet(v2)
    // intermediate window: 1→2 carries only the third batch's change
    StreamingOps.snapshotChangelog(spark, root, 1, Some(2))
      .as[(Long, Long, String, Option[String])].collect().toSeq shouldBe
      Seq((50L, 3L, "upsert", Some("doc 50")))
    // self-diff: no changed buckets, empty frame, same columns
    val selfDiff = StreamingOps.snapshotChangelog(spark, root, 2, Some(2))
    selfDiff.columns.toSeq shouldBe Seq("doc_id", "seq", "op", "text")
    selfDiff.count() shouldBe 0
    // a pruned from-version raises loudly
    intercept[IllegalStateException] {
      StreamingOps.snapshotChangelog(spark, root, 99, Some(99))
    }
    // DELETE + COMPACTION inside the window: the tombstone for key 2 is
    // physically gone after compaction, but a consumer holding v0 must
    // STILL learn the delete — the from-only row emits op=delete with a
    // fabricated seq ≤ the true one (convergent under the horizon
    // contract). Pre-fix the left-outer join silently dropped it and
    // the consumer kept key 2 alive forever.
    StreamingOps.compactSnapshot(spark, root, horizonSeq = 2L,
      keepVersions = 4) // snapshot 3; m0 stays retained for the window
    val chgAcrossCompact = StreamingOps.snapshotChangelog(spark, root, 0)
    chgAcrossCompact.filter(col("doc_id") === 2L)
      .as[(Long, Long, String, Option[String])].collect().toSeq shouldBe
      Seq((2L, 2L, "delete", None)) // fabricated seq = from_seq 1 + 1
    // live-state closure across the compaction: v0 + changelog == live
    val replayed = graft.pipeline.CurationPipeline.applyChangelogVersioned(
      StreamingOps.readSnapshot(spark, root, includeTombstones = true,
        version = Some(0)).get, chgAcrossCompact,
      "doc_id", "seq", "op", Seq("text"))
    replayed.filter(!col("__deleted")).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe
      StreamingOps.readSnapshot(spark, root).get
        .as[(Long, String)].collect().sortBy(_._1).toSeq
  }

  test("nextChangelogBatch: cursor-committed at-least-once pulls, bootstrap carries seq memory") {
    implicit val ctx = spark.sqlContext
    val nul = null.asInstanceOf[String]
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-pull")
      .toString
    val root = s"$dir/snap"
    val cursor = s"$dir/consumer.cursor"
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    def pull() = StreamingOps.nextChangelogBatch(spark, root, cursor)
    try {
      pull() shouldBe None // nothing committed yet
      input.addData((1L, 1L, "upsert", "a"), (2L, 1L, "upsert", "b"))
      query.processAllAvailable()
      input.addData((2L, 2L, "delete", nul))
      query.processAllAvailable()
      // bootstrap: the full live state, tombstone carried as a delete
      // so the downstream copy inherits stale-rejection memory
      val (v1, boot, commit1) = pull().get
      v1 shouldBe 1L
      boot.as[(Long, Long, String, Option[String])].collect().sortBy(_._1)
        .toSeq shouldBe Seq((1L, 1L, "upsert", Some("a")),
          (2L, 2L, "delete", None))
      // crash before commit: the SAME window re-emits (at-least-once)
      pull().get._2.count() shouldBe boot.count()
      commit1()
      pull() shouldBe None // caught up
      input.addData((3L, 3L, "upsert", "c"))
      query.processAllAvailable()
      val (v2, delta, commit2) = pull().get
      v2 shouldBe 2L
      delta.as[(Long, Long, String, Option[String])].collect().toSeq shouldBe
        Seq((3L, 3L, "upsert", Some("c")))
      commit2()
      pull() shouldBe None
      // a cursor NEWER than live (store rebuilt/replaced under the
      // consumer) must raise a POINTED error naming the cursor, not
      // crash deep in snapshotChangelog's version require
      val cfs = new org.apache.hadoop.fs.Path(cursor).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val cOut = cfs.create(new org.apache.hadoop.fs.Path(cursor), true)
      try cOut.write("99".getBytes("UTF-8")) finally cOut.close()
      val err = intercept[IllegalStateException] { pull() }
      err.getMessage should include("cursor")
      err.getMessage should include("Re-bootstrap")
      // the prescribed recovery works: delete the cursor → full bootstrap
      cfs.delete(new org.apache.hadoop.fs.Path(cursor), false)
      val (vb, reboot, _) = pull().get
      vb shouldBe 2L
      reboot.count() shouldBe 3L // 1 upsert, 2 tombstone-delete, 3 upsert
    } finally query.stop()
  }

  test("source→replica chain: nextChangelogBatch feeding a second snapshotUpsertSink converges bit-identically (bootstrap, incremental, compaction in-window, crash replay)") {
    implicit val ctx = spark.sqlContext
    val nul = null.asInstanceOf[String]
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-replica")
      .toString
    val srcRoot = s"$dir/src"
    val repRoot = s"$dir/replica"
    val cursor = s"$dir/replica.cursor"
    val srcIn = MemoryStream[(Long, Long, String, String)]
    val srcQ = StreamingOps.snapshotUpsertSink(
        srcIn.toDF.toDF("doc_id", "seq", "op", "text"), srcRoot,
        keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    // the replica is ITSELF a snapshot store fed by the pulled
    // changelogs — the exact composition a downstream consumer runs
    // (different bucket count on purpose: the changelog shape is
    // layout-independent)
    val repIn = MemoryStream[(Long, Long, String, String)]
    val repQ = StreamingOps.snapshotUpsertSink(
        repIn.toDF.toDF("doc_id", "seq", "op", "text"), repRoot,
        keepVersions = 2, numBuckets = 8)
      .option("checkpointLocation", checkpoint()).start()
    // one pull → one replica micro-batch; `commit` controls the cursor
    def pullApply(commitCursor: Boolean): Boolean =
      StreamingOps.nextChangelogBatch(spark, srcRoot, cursor) match {
        case None => false
        case Some((_, frame, commit)) =>
          val rows = frame.as[(Long, Long, String, Option[String])]
            .collect().toSeq
            .map { case (id, seq, op, t) => (id, seq, op, t.orNull) }
          repIn.addData(rows: _*)
          repQ.processAllAvailable()
          if (commitCursor) commit()
          true
      }
    def liveOf(root: String): Seq[(Long, Option[String])] =
      StreamingOps.readSnapshot(spark, root).get
        .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    try {
      // BOOTSTRAP: source has upserts + a tombstone before the replica
      // ever pulls — the full-state bootstrap must carry the tombstone
      // as a delete so the replica inherits the seq memory
      srcIn.addData((1L, 1L, "upsert", "a"), (2L, 1L, "upsert", "b"),
        (3L, 1L, "upsert", "c"))
      srcQ.processAllAvailable()
      srcIn.addData((2L, 2L, "delete", nul))
      srcQ.processAllAvailable()
      pullApply(commitCursor = true) shouldBe true
      liveOf(repRoot) shouldBe liveOf(srcRoot)
      // inherited seq memory: a STALE redelivery straight to the
      // replica (seq 1 < the delete's seq 2) must not resurrect key 2
      repIn.addData((2L, 1L, "upsert", "resurrect?"))
      repQ.processAllAvailable()
      liveOf(repRoot) shouldBe liveOf(srcRoot)
      // INCREMENTAL pulls across several source batches
      srcIn.addData((4L, 3L, "upsert", "d"), (1L, 3L, "upsert", "a2"))
      srcQ.processAllAvailable()
      srcIn.addData((3L, 4L, "delete", nul))
      srcQ.processAllAvailable()
      pullApply(commitCursor = true) shouldBe true
      liveOf(repRoot) shouldBe liveOf(srcRoot)
      pullApply(commitCursor = true) shouldBe false // caught up
      // COMPACTION INSIDE THE WINDOW: new changes land, then the source
      // compacts (dropping key 3's tombstone) BEFORE the replica pulls —
      // the pull crosses the compaction boundary and must still converge
      // on the live view
      srcIn.addData((5L, 5L, "upsert", "e"))
      srcQ.processAllAvailable()
      StreamingOps.compactSnapshot(spark, srcRoot, horizonSeq = 4L,
        keepVersions = 4)
      pullApply(commitCursor = true) shouldBe true
      liveOf(repRoot) shouldBe liveOf(srcRoot)
      // CRASH BEFORE COMMIT: apply a window to the replica, crash before
      // the cursor advances, then replay the SAME window — at-least-once
      // redelivery must be absorbed (max-seq idempotence), cursor then
      // commits and the chain is caught up
      srcIn.addData((6L, 6L, "upsert", "f"), (4L, 6L, "delete", nul))
      srcQ.processAllAvailable()
      pullApply(commitCursor = false) shouldBe true // crash: no commit
      pullApply(commitCursor = true) shouldBe true  // replay + commit
      liveOf(repRoot) shouldBe liveOf(srcRoot)
      pullApply(commitCursor = true) shouldBe false
      // the replica's own raw layout carries per-key seq/tombstones, so
      // a SECOND-hop consumer could chain off it the same way
      StreamingOps.readSnapshot(spark, repRoot, includeTombstones = true)
        .get.filter(col("__deleted")).count() should be >= 1L
    } finally { srcQ.stop(); repQ.stop() }
  }

  test("snapshot schema evolution: a widened sink adds columns, old rows read null, history and changelog stay coherent") {
    implicit val ctx = spark.sqlContext
    val nul = null.asInstanceOf[String]
    val root = java.nio.file.Files.createTempDirectory("graft-snap-evo")
      .toString + "/snap"
    // generation 1: payload = (text)
    val in1 = MemoryStream[(Long, Long, String, String)]
    val q1 = StreamingOps.snapshotUpsertSink(
        in1.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      in1.addData((1L, 1L, "upsert", "a"), (2L, 1L, "upsert", "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    // generation 2: the sink restarts streaming (text, lang) — the
    // store WIDENS; key 3 arrives with a lang, key 1 is re-upserted
    // with one, key 2 is untouched (its lang must read as null)
    val in2 = MemoryStream[(Long, Long, String, String, String)]
    val q2 = StreamingOps.snapshotUpsertSink(
        in2.toDF.toDF("doc_id", "seq", "op", "text", "lang"), root,
        payloadCols = Seq("text", "lang"),
        keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      in2.addData((1L, 2L, "upsert", "a2", "en"),
        (3L, 2L, "upsert", "c", "de"))
      q2.processAllAvailable()
    } finally q2.stop()
    StreamingOps.readSnapshot(spark, root).get
      .as[(Long, String, Option[String])].collect().sortBy(_._1)
      .toSeq shouldBe Seq((1L, "a2", Some("en")), (2L, "b", None),
        (3L, "c", Some("de")))
    // time travel to the pre-widening snapshot serves the OLD schema
    val v0 = StreamingOps.readSnapshot(spark, root, version = Some(0)).get
    v0.columns.toSeq shouldBe Seq("doc_id", "text")
    // the changelog across the widening emits the TO schema; the
    // re-upsert carries its lang, unwidened keys don't appear
    val chg = StreamingOps.snapshotChangelog(spark, root, 0)
    chg.columns.toSeq shouldBe Seq("doc_id", "seq", "op", "text", "lang")
    chg.as[(Long, Long, String, String, Option[String])].collect()
      .sortBy(_._1).toSeq shouldBe Seq(
        (1L, 2L, "upsert", "a2", Some("en")),
        (3L, 2L, "upsert", "c", Some("de")))
    // point lookup of an unwidened key under the widened layout
    StreamingOps.lookupSnapshot(spark, root, Seq(2L)).get
      .as[(Long, String, Option[String])].collect().toSeq shouldBe
      Seq((2L, "b", None))
    // generation 3: the ORIGINAL narrow sink keeps working against the
    // widened store — lang is CARRIED; its upserts null it (full-row
    // replace, the explicit-null contract)
    val in3 = MemoryStream[(Long, Long, String, String)]
    val q3 = StreamingOps.snapshotUpsertSink(
        in3.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      in3.addData((3L, 3L, "upsert", "c3"), (4L, 3L, "delete", nul))
      q3.processAllAvailable()
    } finally q3.stop()
    StreamingOps.readSnapshot(spark, root).get
      .as[(Long, String, Option[String])].collect().sortBy(_._1)
      .toSeq shouldBe Seq((1L, "a2", Some("en")), (2L, "b", None),
        (3L, "c3", None))
    // compaction under the widened schema preserves the live view
    StreamingOps.compactSnapshot(spark, root, horizonSeq = 3L,
      keepVersions = 4)
    StreamingOps.readSnapshot(spark, root).get
      .as[(Long, String, Option[String])].collect().sortBy(_._1)
      .toSeq shouldBe Seq((1L, "a2", Some("en")), (2L, "b", None),
        (3L, "c3", None))
    // a TYPE change is not evolution: loud, before anything staged
    val in4 = MemoryStream[(Long, Long, String, Long)]
    val q4 = StreamingOps.snapshotUpsertSink(
        in4.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        in4.addData((9L, 9L, "upsert", 9L))
        q4.processAllAvailable()
      } finally q4.stop()
    }
    err.getMessage should include("add-only")
    // ...and so is a mismatched id column
    val in5 = MemoryStream[(Long, Long, String, String)]
    val q5 = StreamingOps.snapshotUpsertSink(
        in5.toDF.toDF("other_id", "seq", "op", "text"), root,
        idCol = "other_id", keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    val err2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        in5.addData((9L, 9L, "upsert", "x"))
        q5.processAllAvailable()
      } finally q5.stop()
    }
    err2.getMessage should include("keyed by")
  }

  test("two-writer race on the snapshot store: the LOSER raises loudly instead of silently dropping its batch") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-snap-race")
      .toString + "/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((1L, 1L, "upsert", "a"), (2L, 1L, "upsert", "b"))
      query.processAllAvailable()
    } finally query.stop()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // both writers read the SAME live manifest (snapshot 0)...
    val staleManifest = StreamingOps.currentSnapshotManifest(fs, root).get
    staleManifest.id shouldBe 0L
    def publishFrom(prev: StreamingOps.SnapshotManifest, tag: String): Unit = {
      val merged = Seq((3L, s"c-$tag", 2L, false))
        .toDF("doc_id", "text", "__seq", "__deleted")
      StreamingOps.publishSnapshotVersion(spark, root, merged, "doc_id",
        touched = Set(0, 1, 2, 3), prev = Some(prev),
        numBuckets = prev.numBuckets, keepVersions = 3, merged.schema)
    }
    // ...writer A commits snapshot 1 first
    publishFrom(staleManifest, "A")
    StreamingOps.currentSnapshotManifest(fs, root).get.id shouldBe 1L
    // writer B, still holding manifest 0, must FAIL LOUDLY — before the
    // guard its pointer swap silently discarded A's batch (last-writer-
    // wins lost update)
    val err = intercept[IllegalStateException] {
      publishFrom(staleManifest, "B")
    }
    err.getMessage should include("concurrent writer")
    err.getMessage should include("single-writer")
    // A's commit survives as the live snapshot
    StreamingOps.currentSnapshotManifest(fs, root).get.id shouldBe 1L
    // and the claim race — the slot for the NEXT manifest is taken
    // atomically (create overwrite=false) BEFORE any staging or
    // rename, so a competitor that got there first makes this publish
    // the loud loser having mutated nothing shared. A FOREIGN claim
    // (different writerId — a live competitor mid-publish, or a
    // foreign crash) must NOT be deleted: it raises, naming the owner.
    val live = StreamingOps.currentSnapshotManifest(fs, root).get
    val claim = new org.apache.hadoop.fs.Path(s"$root/_manifests/m2")
    locally {
      val o = fs.create(claim, false)
      try o.write("buckets 4\nwriter other-sink x-nonce\n"
        .getBytes("UTF-8")) finally o.close()
    }
    def mergedFrame(tag: String) = Seq((4L, tag, 3L, false))
      .toDF("doc_id", "text", "__seq", "__deleted")
    def publishNext(writerId: String): Unit = {
      val m = mergedFrame(s"d-$writerId")
      StreamingOps.publishSnapshotVersion(spark, root, m, "doc_id",
        touched = Set(0, 1, 2, 3), prev = Some(live),
        numBuckets = live.numBuckets, keepVersions = 3,
        org.apache.spark.sql.types.StructType(m.schema.fields.toSeq),
        writerId = writerId)
    }
    val err2 = intercept[IllegalStateException] { publishNext("default") }
    err2.getMessage should include("claimed by writer 'other-sink'")
    // the loser did not move the pointer and did not touch the claim
    StreamingOps.currentSnapshotManifest(fs, root).get.id shouldBe 1L
    fs.exists(claim) shouldBe true
    // ...whereas the SAME writer's leftover claim is a crashed attempt
    // of its own (the pointer provably still names the base manifest):
    // reclaimed, so at-least-once batch replay stays self-healing
    publishNext("other-sink")
    StreamingOps.currentSnapshotManifest(fs, root).get.id shouldBe 2L
    StreamingOps.readSnapshot(spark, root).get
      .filter(col("doc_id") === 4L).select(col("text"))
      .as[String].collect().toSeq shouldBe Seq("d-other-sink")
    // last window — a same-writerId twin steals the claim DURING this
    // publish (it cannot tell a live twin from its own crash): the
    // post-swap nonce readback turns that silent batch loss into a
    // loud post-commit error. Drive the steal deterministically from
    // a UDF evaluated inside the staged write job, which runs under
    // the claim.
    val live2 = StreamingOps.currentSnapshotManifest(fs, root).get
    val claim3 = new org.apache.hadoop.fs.Path(s"$root/_manifests/m3")
    // the twin runs this code, so it claims m3 with a full manifest —
    // the same bucket bumps and schema line, its own nonce
    val stolenBody = ("buckets 4" +: (0 until 4).map(bk =>
        s"b $bk ${live2.buckets.get(bk).map(_ + 1).getOrElse(0L)}") :+
      "writer default stolen-nonce" :+ s"schema ${live2.schema.json}")
      .mkString("", "\n", "\n")
    val stealUdf = udf { () =>
      val f = new java.io.File(claim3.toUri.getPath)
      // raw-java rewrite invalidates the local FS's checksum sidecar —
      // drop it so the readback sees the stolen content, not a CRC error
      val crc = new java.io.File(f.getParentFile, "." + f.getName + ".crc")
      if (crc.exists()) crc.delete()
      val w = new java.io.FileWriter(f, false) // idempotent overwrite
      try w.write(stolenBody)
      finally w.close()
      true
    }
    val merged3 = mergedFrame("e").filter(stealUdf())
    val err3 = intercept[IllegalStateException] {
      StreamingOps.publishSnapshotVersion(spark, root, merged3, "doc_id",
        touched = Set(0, 1, 2, 3), prev = Some(live2),
        numBuckets = live2.numBuckets, keepVersions = 3,
        org.apache.spark.sql.types.StructType(merged3.schema.fields.toSeq))
    }
    err3.getMessage should include("nonce mismatch")
    // a claim whose trailer was TRUNCATED by the crash mid-create
    // ("writer " with no id token) is a reclaimable partial write —
    // the replay must self-heal, not die on a parse error
    val live3 = StreamingOps.currentSnapshotManifest(fs, root).get
    val claim4 = new org.apache.hadoop.fs.Path(
      s"$root/_manifests/m${live3.id + 1}")
    locally {
      val o = fs.create(claim4, false)
      try o.write("writer \n".getBytes("UTF-8")) finally o.close()
    }
    val m4 = mergedFrame("f")
    StreamingOps.publishSnapshotVersion(spark, root, m4, "doc_id",
      touched = Set(0, 1, 2, 3), prev = Some(live3),
      numBuckets = live3.numBuckets, keepVersions = 3,
      org.apache.spark.sql.types.StructType(m4.schema.fields.toSeq))
    StreamingOps.currentSnapshotManifest(fs, root).get.id shouldBe
      live3.id + 1
  }

  test("a claimed-but-uncommitted manifest is invisible to every version-addressed reader") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-snap-claim")
      .toString + "/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((1L, 1L, "upsert", "a"))
      query.processAllAvailable()
    } finally query.stop()
    // simulate an in-flight (or crashed pre-swap) publish: m1 exists
    // with a full body, but the pointer still names 0 — claim-first
    // publishing makes this state routine, and serving it would expose
    // bucket dirs the replay is about to rewrite
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    locally {
      val o = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/_manifests/m1"), false)
      try o.write("buckets 4\nb 0 1\nwriter default some-nonce\n"
        .getBytes("UTF-8")) finally o.close()
    }
    intercept[IllegalStateException] {
      StreamingOps.readSnapshot(spark, root, version = Some(1))
    }.getMessage should include("not committed")
    intercept[IllegalStateException] {
      StreamingOps.lookupSnapshot(spark, root, Seq(1L), version = Some(1))
    }.getMessage should include("not committed")
    intercept[IllegalStateException] {
      StreamingOps.snapshotChangelog(spark, root, 0, Some(1))
    }.getMessage should include("not committed")
    // the ops summary lists only committed time-travel targets
    StreamingOps.describeSnapshot(spark, root).get.collect().head
      .getAs[Seq[Long]]("retained_manifests") shouldBe Seq(0L)
    // the LIVE read (pointer-addressed) is unaffected
    StreamingOps.readSnapshot(spark, root).get.count() shouldBe 1L
  }

  test("a claim's quarantine file in _manifests is not a manifest") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap-steal")
      .toString + "/snap"
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def publish(prev: Option[StreamingOps.SnapshotManifest], tag: String)
        : Unit = {
      val merged = Seq((1L, tag, 1L, false))
        .toDF("doc_id", "text", "__seq", "__deleted")
      StreamingOps.publishSnapshotVersion(spark, root, merged, "doc_id",
        touched = Set(0, 1), prev = prev, numBuckets = 2, keepVersions = 1,
        merged.schema)
    }
    publish(None, "a")
    // what a crash mid-reclaim leaves: the renamed-aside leftover
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_manifests/m0.steal.some-nonce"),
      "writer default dead-nonce\n".getBytes("UTF-8"))
    StreamingOps.describeSnapshot(spark, root).get.collect().head
      .getAs[Seq[Long]]("retained_manifests") shouldBe Seq(0L)
    // the retention sweep lists the same directory
    publish(StreamingOps.currentSnapshotManifest(fs, root), "b")
    StreamingOps.describeSnapshot(spark, root).get.collect().head
      .getAs[Seq[Long]]("retained_manifests") shouldBe Seq(1L)
    StreamingOps.readSnapshot(spark, root).get.as[(Long, String)]
      .collect().toSeq shouldBe Seq((1L, "b"))
  }

  test("rebucketSnapshot grows the bucket count: state identical, empty changelog, sink continues on the new layout") {
    implicit val ctx = spark.sqlContext
    val nul = null.asInstanceOf[String]
    val root = java.nio.file.Files.createTempDirectory("graft-snap-grow")
      .toString + "/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 3, numBuckets = 2)
      .option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((1L to 30L).map(i => (i, 1L, "upsert", s"doc $i")): _*)
      query.processAllAvailable()
      input.addData((5L, 2L, "delete", nul))
      query.processAllAvailable()
    } finally query.stop()
    def live() = StreamingOps.readSnapshot(spark, root).get
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val before = live()
    StreamingOps.rebucketSnapshot(spark, root, newBuckets = 8)
    // state identical; the ops summary shows the new bucket count
    live() shouldBe before
    val desc = StreamingOps.describeSnapshot(spark, root).get.collect().head
    desc.getAs[Int]("num_buckets") shouldBe 8
    // a layout change is NOT a state change: empty changelog across it
    StreamingOps.snapshotChangelog(spark, root, 1, Some(2))
      .count() shouldBe 0
    // pre-rebucket time travel still serves from its immutable dirs
    StreamingOps.readSnapshot(spark, root, version = Some(0)).get
      .count() shouldBe 30
    // point lookup uses the NEW hash
    StreamingOps.lookupSnapshot(spark, root, Seq(7L)).get
      .as[(Long, String)].collect().toSeq shouldBe Seq((7L, "doc 7"))
    // the sink continues on the stored (new) bucket count, and the
    // tombstone's seq memory survived the rebucket: stale redelivery
    // for deleted key 5 stays rejected
    val input2 = MemoryStream[(Long, Long, String, String)]
    val query2 = StreamingOps.snapshotUpsertSink(
        input2.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 3, numBuckets = 2) // stored 8 wins over this 2
      .option("checkpointLocation", checkpoint()).start()
    try {
      input2.addData((5L, 1L, "upsert", "resurrect?"), (40L, 3L, "upsert", "d"))
      query2.processAllAvailable()
      val after = live()
      after.find(_._1 == 5L) shouldBe None
      after.find(_._1 == 40L) shouldBe Some((40L, "d"))
      StreamingOps.describeSnapshot(spark, root).get.collect()
        .head.getAs[Int]("num_buckets") shouldBe 8
    } finally query2.stop()
    // shrinking refuses loudly
    intercept[IllegalArgumentException] {
      StreamingOps.rebucketSnapshot(spark, root, newBuckets = 4)
    }.getMessage should include("grow-only")
  }

  test("snapshot retention never strands a cold bucket's version and survives a raised keepVersions") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-snap-retain")
      .toString + "/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 2, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def bucketVersionDirs(): Set[(Int, Long)] = {
      val rootFile = new java.io.File(root)
      Option(rootFile.listFiles()).getOrElse(Array.empty).toSeq
        .filter(d => d.isDirectory && d.getName.startsWith("b"))
        .flatMap { b =>
          Option(b.listFiles()).getOrElse(Array.empty).toSeq
            .filter(v => v.isDirectory && v.getName.startsWith("v"))
            .map(v => (b.getName.drop(1).toInt, v.getName.drop(1).toLong))
        }.toSet
    }
    def referenced(): Set[(Int, Long)] = {
      val mDir = new java.io.File(s"$root/_manifests")
      Option(mDir.listFiles()).getOrElse(Array.empty).toSeq
        .filter(_.getName.startsWith("m")).flatMap { mf =>
          val lines = java.nio.file.Files.readAllLines(mf.toPath)
          import scala.jdk.CollectionConverters._
          lines.asScala.filter(_.startsWith("b ")).map { l =>
            val p = l.split("\\s+"); (p(1).toInt, p(2).toLong)
          }
        }.toSet
    }
    try {
      // batch 0 touches many buckets; key 900 then goes COLD while
      // other keys keep churning versions past the retention horizon
      input.addData((0L until 20L).map(i =>
        (i, 1L, "upsert", s"doc $i")) :+ ((900L, 1L, "upsert", "cold v0")): _*)
      query.processAllAvailable()
      input.addData((900L, 2L, "upsert", "cold v1")) // cold key's LAST touch
      query.processAllAvailable()
      (3L to 6L).foreach { s =>
        input.addData((0L until 20L).map(i => (i, s, "upsert", s"doc $i s$s")): _*)
        query.processAllAvailable()
      }
      // invariant: every bucket-version dir on disk is referenced by a
      // retained manifest — the cold key's superseded version must have
      // been pruned when the manifest that referenced it was (pre-fix
      // the sweep only visited the CURRENT batch's touched buckets, so
      // cold buckets leaked their old versions forever)
      val orphans = bucketVersionDirs() -- referenced()
      orphans shouldBe Set.empty
      // the cold key still serves its latest value
      StreamingOps.lookupSnapshot(spark, root, Seq(900L)).get
        .as[(Long, String)].collect().toSeq shouldBe Seq((900L, "cold v1"))
      // RAISED retention across maintenance: a compaction run with a
      // larger keepVersions than the sink's must widen the window, not
      // crash on a long-pruned floor manifest
      StreamingOps.compactSnapshot(spark, root, horizonSeq = 1L,
        keepVersions = 10)
      StreamingOps.readSnapshot(spark, root).get.count() shouldBe 21
      (bucketVersionDirs() -- referenced()) shouldBe Set.empty
    } finally query.stop()
  }

  test("snapshot type promotion: payload/seq widen int→long and float→double mid-stream; the id needs the full-republish op") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-snap-promo")
      .toString + "/snap"
    // generation 1: n is INT, vec is array<FLOAT>, seq is INT
    val in1 = MemoryStream[(Long, Int, String, Int, Seq[Float])]
    val q1 = StreamingOps.snapshotUpsertSink(
        in1.toDF.toDF("doc_id", "seq", "op", "n", "vec"), root,
        payloadCols = Seq("n", "vec"), keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      in1.addData((1L, 1, "upsert", 10, Seq(1.5f)),
        (2L, 1, "upsert", 20, Seq(2.5f)))
      q1.processAllAvailable()
    } finally q1.stop()
    // generation 2: the source widened — seq and n stream as LONG, vec
    // as array<DOUBLE>. The store must promote in place: the manifest
    // records the wider types and old dirs read under them via the
    // parquet readers' native widening, no rewrite.
    val in2 = MemoryStream[(Long, Long, String, Long, Seq[Double])]
    val q2 = StreamingOps.snapshotUpsertSink(
        in2.toDF.toDF("doc_id", "seq", "op", "n", "vec"), root,
        payloadCols = Seq("n", "vec"), keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      in2.addData((3L, 2L, "upsert", 30L, Seq(3.5d)))
      q2.processAllAvailable()
    } finally q2.stop()
    val live = StreamingOps.readSnapshot(spark, root).get
    live.schema("n").dataType shouldBe org.apache.spark.sql.types.LongType
    live.schema("vec").dataType shouldBe org.apache.spark.sql.types
      .ArrayType(org.apache.spark.sql.types.DoubleType, true)
    live.as[(Long, Long, Seq[Double])].collect().sortBy(_._1).toSeq shouldBe
      Seq((1L, 10L, Seq(1.5)), (2L, 20L, Seq(2.5)), (3L, 30L, Seq(3.5)))
    // time travel to the pre-promotion snapshot serves the OLD typing
    val v0 = StreamingOps.readSnapshot(spark, root, version = Some(0)).get
    v0.schema("n").dataType shouldBe org.apache.spark.sql.types.IntegerType
    v0.as[(Long, Int, Seq[Float])].collect().sortBy(_._1).toSeq shouldBe
      Seq((1L, 10, Seq(1.5f)), (2L, 20, Seq(2.5f)))
    // the changelog across the promotion emits the TO types
    val chg = StreamingOps.snapshotChangelog(spark, root, 0)
    chg.schema("seq").dataType shouldBe org.apache.spark.sql.types.LongType
    chg.schema("n").dataType shouldBe org.apache.spark.sql.types.LongType
    chg.as[(Long, Long, String, Long, Seq[Double])].collect().toSeq shouldBe
      Seq((3L, 2L, "upsert", 30L, Seq(3.5)))
    // a NARROW sink (the old int source, not yet redeployed) keeps
    // working against the promoted store — its batch casts up, and its
    // STALE redelivery for key 1 is still rejected by the carried seq
    val in3 = MemoryStream[(Long, Int, String, Int, Seq[Float])]
    val q3 = StreamingOps.snapshotUpsertSink(
        in3.toDF.toDF("doc_id", "seq", "op", "n", "vec"), root,
        payloadCols = Seq("n", "vec"), keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      in3.addData((1L, 1, "upsert", 99, Seq(9.9f)),
        (4L, 3, "upsert", 40, Seq(4.5f)))
      q3.processAllAvailable()
    } finally q3.stop()
    StreamingOps.readSnapshot(spark, root).get
      .as[(Long, Long, Seq[Double])].collect().sortBy(_._1).toSeq shouldBe
      Seq((1L, 10L, Seq(1.5)), (2L, 20L, Seq(2.5)), (3L, 30L, Seq(3.5)),
        (4L, 40L, Seq(4.5)))
    // point lookup of a gen-1 key under the promoted layout
    StreamingOps.lookupSnapshot(spark, root, Seq(2L)).get
      .as[(Long, Long, Seq[Double])].collect().toSeq shouldBe
      Seq((2L, 20L, Seq(2.5)))

    // ——— the ID column: an in-place promotion is refused (the bucket
    // layout is keyed by the id's physical hash), pointing at the op
    val idRoot = java.nio.file.Files.createTempDirectory("graft-snap-promoid")
      .toString + "/snap"
    val inA = MemoryStream[(Int, Long, String, String)]
    val qA = StreamingOps.snapshotUpsertSink(
        inA.toDF.toDF("doc_id", "seq", "op", "text"), idRoot,
        keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      inA.addData((1, 1L, "upsert", "a"), (2, 1L, "upsert", "b"),
        (3, 1L, "upsert", "c"))
      qA.processAllAvailable()
    } finally qA.stop()
    val inB = MemoryStream[(Long, Long, String, String)]
    val qB = StreamingOps.snapshotUpsertSink(
        inB.toDF.toDF("doc_id", "seq", "op", "text"), idRoot,
        keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        inB.addData((9L, 2L, "upsert", "x"))
        qB.processAllAvailable()
      } finally qB.stop()
    }
    err.getMessage should include("promoteSnapshotIdType")
    // the op: one full republish under the new hash — state identical,
    // id re-typed, seq memory intact, EMPTY changelog (not a state
    // change), and the long-id sink then just runs
    StreamingOps.promoteSnapshotIdType(spark, idRoot,
      org.apache.spark.sql.types.LongType, keepVersions = 4)
    val promoted = StreamingOps.readSnapshot(spark, idRoot).get
    promoted.schema("doc_id").dataType shouldBe
      org.apache.spark.sql.types.LongType
    promoted.as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe
      Seq((1L, "a"), (2L, "b"), (3L, "c"))
    StreamingOps.snapshotChangelog(spark, idRoot, 0).count() shouldBe 0L
    val inC = MemoryStream[(Long, Long, String, String)]
    val qC = StreamingOps.snapshotUpsertSink(
        inC.toDF.toDF("doc_id", "seq", "op", "text"), idRoot,
        keepVersions = 4, numBuckets = 4)
      .option("checkpointLocation", checkpoint()).start()
    try {
      // stale redelivery for key 2 (seq 0 < stored 1) must stay
      // rejected across the promotion; key 9 is new
      inC.addData((2L, 0L, "upsert", "stale?"), (9L, 2L, "upsert", "x"))
      qC.processAllAvailable()
    } finally qC.stop()
    StreamingOps.readSnapshot(spark, idRoot).get
      .as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "x"))
    StreamingOps.lookupSnapshot(spark, idRoot, Seq(3L)).get
      .as[(Long, String)].collect().toSeq shouldBe Seq((3L, "c"))
    // a genuine type CHANGE still raises before anything is staged
    intercept[IllegalArgumentException] {
      StreamingOps.promoteSnapshotIdType(spark, idRoot,
        org.apache.spark.sql.types.StringType)
    }.getMessage should include("rebuild")
  }

  test("every snapshot writer records the layout schema in each manifest it commits") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-snap-format")
      .toString + "/snap"
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // every manifest file of the store carries a parseable schema line
    def assertSchemaLines(): Unit = {
      val ms = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_manifests"))
        .map(_.getPath).filter(_.getName.matches("m\\d+"))
      ms should not be empty
      ms.foreach { p =>
        val in = fs.open(p)
        val text = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          finally in.close()
        withClue(s"$p: ") {
          text.split('\n').count(_.startsWith("schema ")) shouldBe 1
        }
      }
    }
    val input = MemoryStream[(Int, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 10, numBuckets = 2)
      .option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((1, 1L, "upsert", "a"), (2, 1L, "upsert", "b"))
      query.processAllAvailable()
      input.addData((2, 2L, "delete", null))
      query.processAllAvailable()
    } finally query.stop()
    assertSchemaLines()
    StreamingOps.compactSnapshot(spark, root, horizonSeq = 2L,
      keepVersions = 10)
    assertSchemaLines()
    StreamingOps.rebucketSnapshot(spark, root, newBuckets = 4,
      keepVersions = 10)
    assertSchemaLines()
    StreamingOps.promoteSnapshotIdType(spark, root,
      org.apache.spark.sql.types.LongType, keepVersions = 10)
    assertSchemaLines()
    StreamingOps.readSnapshot(spark, root).get
      .as[(Long, String)].collect().toSeq shouldBe Seq((1L, "a"))
  }

  test("a manifest without a schema line, and a pointer naming no manifest, fail by name") {
    implicit val ctx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-snap-refuse")
      .toString + "/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    val query = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 3, numBuckets = 2)
      .option("checkpointLocation", checkpoint()).start()
    try {
      input.addData((1L, 1L, "upsert", "a"))
      query.processAllAvailable()
    } finally query.stop()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val m0 = new org.apache.hadoop.fs.Path(s"$root/_manifests/m0")
    val body = {
      val in = fs.open(m0)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    // the live manifest loses its schema line
    locally {
      val o = fs.create(m0, true)
      try o.write(body.split('\n').filterNot(_.startsWith("schema "))
        .mkString("", "\n", "\n").getBytes("UTF-8")) finally o.close()
    }
    intercept[IllegalArgumentException] {
      StreamingOps.readSnapshot(spark, root)
    }.getMessage should include("missing 'schema' line")
    // the pointer names a manifest that does not exist
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/_CURRENT"),
      "7".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      StreamingOps.readSnapshot(spark, root)
    }.getMessage should include("not retained")
    intercept[IllegalStateException] {
      StreamingOps.compactSnapshot(spark, root, horizonSeq = 0L)
    }.getMessage should include("not retained")
  }
}
