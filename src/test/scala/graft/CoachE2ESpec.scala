package graft

import org.apache.spark.sql.functions._

import graft.pipeline.CoachingPipeline
import graft.providers.{MockChat, MockEmbedder, ModelRegistry}
import graft.store.BroadcastBruteForceStore

/** §3.1 flagship path, content-asserted end-to-end (SURVEY.md §5 item 3):
  * with the deterministic mock embedder, a message equal to a knowledge
  * doc's text retrieves that doc at rank 1 (cosine = 1), and the parsed
  * coaching JSON names it — the Spark analog of the reference's smoke
  * fixture (generate_personalized_commands.sh:530-545). */
class CoachE2ESpec extends SparkSpec {
  import spark.implicits._

  test("tsSec/tsStamp dispatch plain-long columns by magnitude (nanos/micros/millis/seconds)") {
    // the same wall-clock instant in four common plain-long encodings —
    // a millis column divided as nanos would collapse to ~0
    val sec = 1766620800L // 2025-12-25T00:00:00Z
    val df = Seq(
      ("nanos", sec * 1000000000L),
      ("micros", sec * 1000000L),
      ("millis", sec * 1000L),
      ("seconds", sec)).toDF("unit", "ts")
    val rows = df.select(col("unit"), Queries.tsSec(df, "ts").as("s"),
        date_format(Queries.tsStamp(df, "ts"), "yyyy-MM-dd HH:mm").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    rows.foreach { case (unit, s, d) =>
      withClue(unit) {
        s shouldBe sec
        d shouldBe "2025-12-25 00:00"
      }
    }
    // the TIMESTAMP-typed path (the current testdata encoding) agrees
    val tdf = df.select(col("unit"),
      timestamp_micros(lit(sec * 1000000L)).as("ts"))
    tdf.select(Queries.tsSec(tdf, "ts")).as[Long].collect()
      .foreach(_ shouldBe sec)
  }

  test("spark.graft.ts.unit pins ambiguous plain-long encodings; division floors pre-1970") {
    // 1969-12-31T23:59:59.5Z in millis: |v| = 500 sits far below every
    // magnitude floor, so the heuristic would read it as SECONDS — the
    // documented ambiguity window. The conf pins it.
    val df = Seq(-500L, 1500L, 0L).toDF("ts")
    try {
      spark.conf.set("spark.graft.ts.unit", "ms")
      // FLOOR semantics: -500 ms → -1 s (a truncating div would give 0)
      df.select(Queries.tsSec(df, "ts")).as[Long].collect().toSeq shouldBe
        Seq(-1L, 1L, 0L)
      df.select(date_format(Queries.tsStamp(df, "ts"),
          "yyyy-MM-dd HH:mm:ss.SSS")).as[String].collect().toSeq shouldBe
        Seq("1969-12-31 23:59:59.500", "1970-01-01 00:00:01.500",
          "1970-01-01 00:00:00.000")
      // a pinned unit beats the magnitude heuristic even where the
      // heuristic WOULD fire: nanos-scale values read as millis
      spark.conf.set("spark.graft.ts.unit", "s")
      val big = Seq(1766620800L).toDF("ts")
      big.select(Queries.tsSec(big, "ts")).as[Long].collect().head shouldBe
        1766620800L
      // negative NANOS floor to the earlier second under the pin
      spark.conf.set("spark.graft.ts.unit", "ns")
      val ns = Seq(-1500000000L).toDF("ts") // -1.5 s in nanos
      ns.select(Queries.tsSec(ns, "ts")).as[Long].collect().head shouldBe -2L
      // bad values are rejected loudly
      spark.conf.set("spark.graft.ts.unit", "fortnights")
      val e = intercept[IllegalArgumentException] {
        df.select(Queries.tsSec(df, "ts")).collect()
      }
      e.getMessage should include("spark.graft.ts.unit")
    } finally spark.conf.unset("spark.graft.ts.unit")
  }

  private val fixtureText =
    "This is a sample document for testing the RAG pipeline. It contains " +
      "information about our product features and capabilities."

  test("coach retrieves the matching knowledge doc and answers in contract JSON") {
    ModelRegistry.registerReferenceModels()
    val knowledge = Seq(
      ("sample/test_document.md", "Test Document", "sample", fixtureText),
      ("other/one.md", "One", "other", "completely unrelated text about databases and storage"),
      ("other/two.md", "Two", "other", "another unrelated doc about networking and protocols"))
      .toDF("document_id", "document_name", "document_category", "document_text")

    val embedder = new MockEmbedder(64)
    val bootstrap = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val store = BroadcastBruteForceStore.fromDataFrame(
      bootstrap.indexKnowledge(knowledge))
    store.size should be >= 3

    val pipeline = new CoachingPipeline(embedder, new MockChat, store)
    val messages = Seq(
      (fixtureText, "prospect"),             // exact-match → cosine 1 with its chunk
      ("ignore me", "salesperson"))          // filtered by F1
      .toDF("message", "speaker")

    val out = pipeline.coach(messages)
    val rows = out.select(col("message"),
      element_at(col("coaching_parsed.sources"), 1)("document_id").as("top_doc"),
      org.apache.spark.sql.functions.size(col("coaching_parsed.sources")).as("n_sources"),
      col("coaching_parsed.suggested_response").as("sr"),
      col("coaching_parsed.reasoning").as("reasoning"),
      col("rag_results_string")).collect()

    rows should have length 1                 // salesperson row filtered out
    val r = rows.head
    r.getString(0) shouldBe fixtureText
    r.getString(1) shouldBe "sample/test_document.md"
    r.getInt(2) shouldBe 3
    r.getString(3) should not be empty
    r.getString(4) should not be empty
    // the stringified rag_results (E6: to_json) also names the fixture doc
    r.getString(5) should include("sample/test_document.md")
  }

  test("coachIndexed (persisted-index retrieval) matches the broadcast-store chain row-for-row") {
    ModelRegistry.registerReferenceModels()
    val knowledge = Seq(
      ("sample/test_document.md", "Test Document", "sample", fixtureText),
      ("other/one.md", "One", "other", "completely unrelated text about databases and storage"),
      ("other/two.md", "Two", "other", "another unrelated doc about networking and protocols"),
      ("other/three.md", "Three", "other", "a third doc about caching and latency budgets"),
      ("other/four.md", "Four", "other", "a fourth doc about schema evolution and registries"))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val embedder = new MockEmbedder(64)
    val boot = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val indexed = boot.indexKnowledge(knowledge)

    // broadcast regime (the in-memory store) vs the persisted IVF-Flat
    // index FORCED past the budget — numCandidates=150 covers the
    // corpus, so both are the exact regime and must agree exactly
    val store = BroadcastBruteForceStore.fromDataFrame(indexed)
    val path = java.nio.file.Files.createTempDirectory("graft-coach-idx").toString
    val idxStore = graft.store.VectorStores.adaptive(indexed, path,
      broadcastBytes = 1L)
    idxStore shouldBe a[graft.store.IvfFlatIndexStore]

    val pipeline = new CoachingPipeline(embedder, new MockChat, store)
    val messages = Seq(
      (fixtureText, "prospect"),
      ("tell me about networking protocols", "prospect"),
      ("ignore me", "salesperson"))
      .toDF("message", "speaker")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("message"), col("rag_results_string"),
          col("coaching_parsed.sources")("document_id").as("src_docs"))
        .orderBy(col("message"))
        .collect().map(_.toString).toSeq
    val viaStore = canon(pipeline.coach(messages))
    val viaIndex = canon(pipeline.coachIndexed(messages,
      idxStore.asInstanceOf[graft.store.IvfFlatIndexStore]))
    viaIndex shouldBe viaStore
    viaStore should have length 2

    // and the indexed retrieval's plan is the pruned-scan shape: no
    // corpus broadcast nested-loop anywhere in it
    val embedded = pipeline.embedMessages(pipeline.filterProspect(messages))
    val plan = pipeline.retrieveIndexed(embedded,
        idxStore.asInstanceOf[graft.store.IvfFlatIndexStore])
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should not include "BroadcastNestedLoop"
  }

  test("retrieveJoinDiverse: MMR keeps slot 1 and diversifies the rest; lambda=1 equals plain retrieveJoin") {
    ModelRegistry.registerReferenceModels()
    // one topic dominates: three near-identical pricing chunks would fill
    // every plain-top-k slot; one distinct implementation doc exists
    val knowledge = Seq(
      ("kb/pricing_a.md", "A", "kb", "pricing discount objection handling"),
      ("kb/pricing_b.md", "B", "kb", "pricing discount objection handling notes"),
      ("kb/pricing_c.md", "C", "kb", "pricing discount objection handling guide"),
      ("kb/impl.md", "Impl", "kb", "implementation rollout integration steps"))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val embedder = new MockEmbedder(64)
    val pipeline = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val index = pipeline.indexKnowledge(knowledge)
    val messages = Seq(("pricing discount objection handling", "prospect"))
      .toDF("message", "speaker")
    val embedded = pipeline.embedMessages(pipeline.filterProspect(messages))

    def docs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("rag_results")("document_id"))
        .collect().head.getSeq[String](0).toSeq

    val plain = docs(pipeline.retrieveJoin(embedded, index))
    val diverse = docs(pipeline.retrieveJoinDiverse(embedded, index,
      lambda = 0.3))
    // both keep the best match first
    diverse.head shouldBe plain.head
    // plain top-3 is all pricing chunks; the diversified pick pulls in
    // the implementation doc
    plain.forall(_.startsWith("kb/pricing")) shouldBe true
    diverse should contain("kb/impl.md")
    // the diversity knob off (lambda=1) reproduces plain cosine order
    docs(pipeline.retrieveJoinDiverse(embedded, index, lambda = 1.0)) shouldBe
      plain

    // the STORE-side variant (the streaming-capable per-row seam)
    // agrees with the join path at both ends of the knob
    val store = graft.store.BroadcastBruteForceStore.fromDataFrame(index)
    val storePipeline = new CoachingPipeline(embedder, new MockChat, store)
    docs(storePipeline.retrieveDiverse(embedded, lambda = 0.3)) shouldBe diverse
    docs(storePipeline.retrieveDiverse(embedded, lambda = 1.0)) shouldBe plain
  }

  test("rag_results carries exactly k slots on every retrieval path (k = 2 and 5)") {
    ModelRegistry.registerReferenceModels()
    // six one-chunk docs: enough hits to fill k = 5 on every path
    val knowledge = Seq("pricing discounts", "implementation rollout",
        "competitor comparison", "schema registries", "caching latency",
        "networking protocols").zipWithIndex
      .map { case (t, i) => (s"kb/d$i.md", s"D$i", "kb", t) }
      .toDF("document_id", "document_name", "document_category", "document_text")
    val embedder = new MockEmbedder(64)
    val index = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty)).indexKnowledge(knowledge)
    val store = BroadcastBruteForceStore.fromDataFrame(index)
    val dir = java.nio.file.Files.createTempDirectory("graft-coach-k")
    try {
      val idxStore = graft.store.VectorStores.adaptive(index, dir.toString,
        broadcastBytes = 1L).asInstanceOf[graft.store.IvfFlatIndexStore]
      val messages = Seq(("pricing discounts for rollout", "prospect"))
        .toDF("message", "speaker")
      for (k <- Seq(2, 5)) {
        val pipeline = new CoachingPipeline(embedder, new EchoChat, store, k = k)
        val embedded = pipeline.embedMessages(messages)
        Seq(
          "retrieve" -> pipeline.retrieve(embedded),
          "retrieveDiverse" -> pipeline.retrieveDiverse(embedded),
          "retrieveJoin" -> pipeline.retrieveJoin(embedded, index),
          "retrieveJoinDiverse" -> pipeline.retrieveJoinDiverse(embedded, index),
          "retrieveIndexed" -> pipeline.retrieveIndexed(embedded, idxStore)
        ).foreach { case (path, df) =>
          withClue(s"$path at k = $k: ") {
            val ids = df.select(col("rag_results")("document_id"))
              .collect().head.getSeq[String](0)
            ids should have length k.toLong
            ids.distinct should have length k.toLong
            ids should not contain (null: String)
            // a NULL prompt reaches the chat as ""
            val prompt = pipeline.generate(df)
              .select(col("coaching_response")).collect().head.getString(0)
            prompt should not be empty
            ids.zipWithIndex.foreach { case (id, i) =>
              prompt should include(s"Document ${i + 1}: $id\n")
            }
          }
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("cache hit short-circuits the LLM chain; misses run it (F5 flow)") {
    ModelRegistry.registerReferenceModels()
    val embedder = new MockEmbedder(32)
    val knowledge = Seq(("kb/a.md", "A", "kb", "some knowledge text"))
      .toDF("document_id", "document_name", "document_category", "document_text")
    val boot = new CoachingPipeline(embedder, new MockChat,
      new BroadcastBruteForceStore(Array.empty))
    val store = BroadcastBruteForceStore.fromDataFrame(boot.indexKnowledge(knowledge))
    val pipeline = new CoachingPipeline(embedder, new MockChat, store)

    val cache = Seq(("What about PRICING?", "Cached: volume discounts apply.",
        "cached reasoning", "", "kb/pricing.md"))
      .toDF("Message", "Response", "Reasoning", "Used Excerpts", "RAG sources")
    val messages = Seq(
      ("  what about pricing?  ", "prospect"),   // hit: trimmed, case-insensitive
      ("something uncached", "prospect"))
      .toDF("message", "speaker")

    val out = pipeline.coachWithCache(messages, cache)
      .select(col("message"), col("coaching_response"),
        col("coaching_parsed.suggested_response"),
        col("coaching_parsed.reasoning")).collect()
      .map(r => r.getString(0).trim -> (r.getString(1), r.getString(2), r.getString(3)))
      .toMap

    // hit answers verbatim from the cache — the mock LLM never saw it
    out("what about pricing?") shouldBe
      (("Cached: volume discounts apply.", "Cached: volume discounts apply.",
        "cached reasoning"))
    // miss went through the chain (mock LLM's signature phrasing)
    out("something uncached")._1 should include("suggested_response")
    out("something uncached")._2 should startWith("Acknowledge the concern")
  }

  test("coachE2E flagship query runs on the driver test data with parsed output") {
    val out = Queries.coachE2E(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    rows should have length 2                 // the two prospect messages
    rows.foreach { r =>
      r.getAs[String]("coaching_response") should not be empty
      r.getAs[String]("suggested_response") should not be empty
      r.getAs[Int]("n_sources") shouldBe 3
    }
  }
}

/** A chat provider that answers with its prompt, so a test can read the
  * prompt the pipeline built. */
final class EchoChat extends graft.providers.ChatProvider {
  override def completeBatch(prompts: Seq[String],
                             systemPrompt: String): Seq[String] = prompts
}
