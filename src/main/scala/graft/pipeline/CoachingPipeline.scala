package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{Coaching, TextSplit}
import graft.operators.MlPredict
import graft.providers.{ChatProvider, EmbeddingProvider}
import graft.store.{SearchHit, VectorStore}

/** The reference pipeline end-to-end, Spark-first (SURVEY.md §3.1/§3.2):
  *
  *  knowledge ─ chunk(M1) ─ embed(M2) ─▶ knowledge_embeddings_chunked ─▶ store
  *  messages ─ filter(F1) ─ embed(M2) ─ vector_search(M4) ─ reshape(E4/E5)
  *           ─ prompt(E1) ─ generate(M3) ─▶ (message, rag_results_string,
  *                                           coaching_response, parsed)
  *
  * Stages are composable DataFrame→DataFrame functions so the same code
  * runs fused (one plan, Catalyst optimizes across stages) or topic-parity
  * (each stage materialized to its own sink, mirroring the reference's
  * per-stage Kafka topics — SURVEY.md §7.4 #3). Works identically on batch
  * and streaming DataFrames: every stage is a narrow map/explode, so in
  * streaming mode there is no state and no watermark requirement.
  */
final class CoachingPipeline(embedder: EmbeddingProvider, chat: ChatProvider,
                             store: VectorStore, k: Int = 3,
                             numCandidates: Int = 150) extends Serializable {

  /** Stage: knowledge → chunked rows (reference :315-331).
    * CROSS JOIN UNNEST(ML_CHARACTER_TEXT_SPLITTER(...)) as a native
    * Generator (SplitTextGenerator) — rows stream straight into the
    * Generate operator with no per-row chunk-array materialization. */
  def chunkKnowledge(knowledge: DataFrame): DataFrame =
    knowledge
      .select(col("document_id"),
        org.apache.spark.sql.graft.TextExpressions.splitTextGen(col("document_text")))
      .select(col("document_id"), col("chunk").as("chunks"))

  /** Stage: chunked → embedded (reference :332-336). */
  def embedChunks(chunked: DataFrame): DataFrame =
    MlPredict.withEmbedding(chunked, embedder, "chunks", "embedding")

  /** Batch indexing job: knowledge docs → chunk+embed (the content of the
    * knowledge_embeddings_chunked topic, main.tf:575). */
  def indexKnowledge(knowledge: DataFrame): DataFrame =
    embedChunks(chunkKnowledge(knowledge))

  /** Stage: conversation → prospect-only (reference :347-350). Applied
    * before any model call so only prospect rows pay inference cost —
    * the reference's hand-placed pushdown, preserved structurally. */
  def filterProspect(messages: DataFrame): DataFrame =
    messages.filter(col("speaker") === "prospect")

  /** Stage: messages → embeddings (reference :355-362). */
  def embedMessages(prospect: DataFrame): DataFrame =
    MlPredict.withEmbedding(prospect, embedder, "message", "embedding")

  // The store as a broadcast variable, made on first use from the first
  // retrieving frame's SparkContext: each executor fetches one copy, and
  // the search UDFs capture only this handle, so the per-task binary of
  // every (micro-)batch stays a few KB instead of carrying the corpus.
  // It is a snapshot: on a cluster, executors do not see later changes to
  // a mutable store, so build a new pipeline after re-indexing one.
  @transient private var storeBc: Broadcast[VectorStore] = _
  private def broadcastStore(frame: DataFrame): Broadcast[VectorStore] =
    synchronized {
      if (storeBc == null)
        storeBc = frame.sparkSession.sparkContext.broadcast(store)
      storeBc
    }

  /** The exactly-k rag_results ARRAY<STRUCT<document_id, chunks>> of
    * `hits` (hit structs, best first). try_element_at: <k hits must
    * yield NULL entries, not an ANSI out-of-bounds error (SURVEY.md
    * §7.4 #5; Spark 4 ANSI default). */
  private def ragSlots(hits: Column): Column = {
    def entry(i: Int) = struct(
      try_element_at(hits, lit(i))("document_id").as("document_id"),
      try_element_at(hits, lit(i))("chunks").as("chunks"))
    array((1 to k).map(entry): _*).as("rag_results")
  }

  /** Stage: embeddings → rag_results (reference :367-385): lateral
    * VECTOR_SEARCH k (the reference's 3 by default) then reshape to
    * exactly-k ARRAY<STRUCT<document_id, chunks>> dropping the
    * embeddings. element_at is 1-based like Flink subscripts; <k hits
    * yields NULL elements (SURVEY.md §7.4 #5). The search runs per row
    * against the broadcast store. */
  def retrieve(embedded: DataFrame): DataFrame = {
    val bc = broadcastStore(embedded); val kk = k; val nc = numCandidates
    // non-deterministic: the search is expensive (remote in prod) — keep
    // Catalyst from re-executing it via CSE or reordering filters above it
    // (SURVEY.md §7.4 #2).
    val searchUdf = udf((q: Seq[Float]) =>
      if (q == null) Seq.empty[SearchHit] else bc.value.search(q.toArray, kk, nc))
      .asNondeterministic()
    val hits = embedded.withColumn("search_results", searchUdf(col("embedding")))
    hits.select(col("message"), col("speaker"), ragSlots(col("search_results")))
  }

  /** [[retrieve]] with MMR-diversified slots (VectorStore.searchDiverse):
    * the same per-row store seam — so it runs unchanged on batch AND
    * streaming frames — with slot 1 the best match and later slots
    * diversified at weight `lambda`. Same exactly-k
    * ARRAY<STRUCT<document_id, chunks>> contract, NULL tail for <k. */
  def retrieveDiverse(embedded: DataFrame, lambda: Double = 0.7): DataFrame = {
    val bc = broadcastStore(embedded); val kk = k; val nc = numCandidates
    val searchUdf = udf((q: Seq[Float]) =>
      if (q == null) Seq.empty[SearchHit]
      else bc.value.searchDiverse(q.toArray, kk, lambda, nc))
      .asNondeterministic()
    val hits = embedded.withColumn("search_results", searchUdf(col("embedding")))
    hits.select(col("message"), col("speaker"), ragSlots(col("search_results")))
  }

  /** Scale-path retrieval (S5): the index stays a DataFrame and the top-k
    * search is a broadcast-corpus join (VectorOps.bruteForceTopK) instead
    * of a collected in-memory store — no unconditional driver collect, so
    * the knowledge index can be arbitrarily large on disk (broadcast side
    * bounded by what an executor holds; beyond that swap in
    * SimilaritySearch.lshTopK with the same assembly).
    *
    * Same output contract as [[retrieve]]: exactly-k ARRAY<STRUCT<
    * document_id, chunks>> with NULL tail entries for <k hits. */
  def retrieveJoin(embedded: DataFrame, index: DataFrame): DataFrame = {
    val corpus = chunkCorpus(index)
    joinHits(embedded)(queries =>
      graft.functions.VectorOps.bruteForceTopK(
          queries, corpus.select("__nid", "__nvec"), k,
          "qid", "qvec", "__nid", "__nvec")
        .join(corpus.select("__nid", "document_id", "chunks"), "__nid"))
  }

  /** Diversified retrieval: [[retrieveJoin]]'s contract with the top-k
    * picked by MMR (SimilaritySearch.mmrTopK) instead of raw cosine
    * order — when the index holds many chunks of one document (it does:
    * the splitter emits 200-char chunks of each doc), plain top-k can
    * fill every prompt slot with near-identical text; the λ-tradeoff
    * keeps slot 1 the best match and diversifies the rest. Same
    * exactly-k ARRAY<STRUCT<document_id, chunks>> output, NULL tail for
    * <k hits; `rank` here is MMR selection order, so array_sort keeps
    * the diversified order in the prompt. */
  def retrieveJoinDiverse(embedded: DataFrame, index: DataFrame,
                          lambda: Double = 0.7, candN: Int = 8): DataFrame = {
    val corpus = chunkCorpus(index)
    joinHits(embedded)(queries =>
      graft.operators.SimilaritySearch.mmrTopK(
          queries, corpus.select("__nid", "__nvec"), k, lambda, candN,
          "qid", "qvec", "__nid", "__nvec")
        .withColumnRenamed("nid", "__nid")
        .join(corpus.select("__nid", "document_id", "chunks"), "__nid"))
  }

  /** The index as (chunk-unique `__nid`, document_id, chunks, `__nvec`):
    * document_id alone repeats across chunks, and the vector column is
    * renamed apart — the cross join would otherwise see two ambiguous
    * `embedding` attributes. */
  private def chunkCorpus(index: DataFrame): DataFrame = index.select(
    md5(concat_ws("\u0000", col("document_id"), col("chunks"))).as("__nid"),
    col("document_id"), col("chunks"), col("embedding").as("__nvec"))

  /** The join-retrieval paths' shared assembly: `search` maps the
    * distinct (qid, qvec) queries to (qid, rank, document_id, chunks) hit
    * rows; each message row then left-joins its hits, in rank order, as
    * exactly-k rag_results. The hits side is ≤ one row per distinct
    * message — always the broadcast side. Without the hint the
    * per-micro-batch planner has no stats for this derived frame
    * (topic-decoded batch → aggregate) and can fall back to a sort-merge
    * join, paying two shuffles per TRIGGER in streaming serving. */
  private def joinHits(embedded: DataFrame)(
      search: DataFrame => DataFrame): DataFrame = {
    val q = embedded.withColumn("__qid",
      md5(concat_ws("\u0000", col("message"), col("speaker"))))
    val queries = q.select(col("__qid").as("qid"),
      col("embedding").as("qvec")).distinct()
    val entries = search(queries).groupBy(col("qid"))
      .agg(array_sort(collect_list(struct(
        col("rank"), col("document_id"), col("chunks")))).as("hits"))
    q.join(broadcast(entries), q("__qid") === entries("qid"), "left")
      .select(col("message"), col("speaker"), ragSlots(col("hits")))
  }

  /** Full chain on the join-retrieval path — for indexes too large to
    * collect into a broadcast store. */
  def coachJoin(messages: DataFrame, index: DataFrame): DataFrame =
    generate(retrieveJoin(embedMessages(filterProspect(messages)), index))
      .withColumn("coaching_parsed", Coaching.parseCoaching(col("coaching_response")))

  /** Retrieval through the PERSISTED IVF-Flat index (S5/M4 past the
    * broadcast budget): the top-k search is a partition-pruned JOIN
    * against the on-disk index (IvfFlatIndexStore.searchBatch — dynamic
    * partition pruning reads only the probed cells) — no per-row store
    * lookup, no corpus broadcast, no driver collect of vectors. Same
    * output contract as [[retrieve]]/[[retrieveJoin]]: exactly-k
    * ARRAY<STRUCT<document_id, chunks>> with NULL tail entries for <k
    * hits. The reference analog is the coach querying the external
    * Atlas index rather than anything in-process (main.tf:649-669). */
  def retrieveIndexed(embedded: DataFrame,
                      index: graft.store.IvfFlatIndexStore): DataFrame =
    joinHits(embedded)(index.searchBatch(_, k, numCandidates))

  /** Full chain served by the persisted index — the over-budget regime
    * of VectorStores.adaptive. */
  def coachIndexed(messages: DataFrame,
                   index: graft.store.IvfFlatIndexStore): DataFrame =
    generate(retrieveIndexed(embedMessages(filterProspect(messages)), index))
      .withColumn("coaching_parsed", Coaching.parseCoaching(col("coaching_response")))

  /** Stage: rag_results → LLM response (reference :412-433). The
    * prompt names all k slots, so it matches the rag_results shape. */
  def generate(ragResults: DataFrame): DataFrame = {
    val withPrompt = ragResults
      .withColumn("prompt", Coaching.buildCoachingPrompt(col("message"), col("rag_results"), k))
      .withColumn("rag_results_string", to_json(col("rag_results")))
      .select("message", "rag_results_string", "prompt")
    MlPredict.withCompletion(withPrompt, chat, "coaching_response_generator",
        "prompt", "coaching_response")
      .select("message", "rag_results_string", "coaching_response")
  }

  /** Full coaching chain (fused mode) + parsed contract column. */
  def coach(messages: DataFrame): DataFrame =
    generate(retrieve(embedMessages(filterProspect(messages))))
      .withColumn("coaching_parsed", Coaching.parseCoaching(col("coaching_response")))

  /** The flagship flow WITH the response cache in front (F5, reference
    * api_routes.py:25-45): an exact-match hit short-circuits the whole
    * embed→search→LLM chain and answers from the cached row; misses run
    * the normal chain. The cache is broadcast, so the hit/miss split
    * never shuffles the message stream, and the expensive stages see
    * only misses — the reference's hand-placed cost gate, preserved.
    * Output schema matches [[coach]]; cached rows carry a synthesized
    * contract struct (cached Response/Reasoning, no sources). */
  def coachWithCache(messages: DataFrame, cache: DataFrame): DataFrame = {
    val looked = CoachingPipeline.cacheLookup(filterProspect(messages), cache)
    val sourcesType = Tables.coachingResponseSchema("sources").dataType
    val hits = looked.filter(col("Response").isNotNull)
      .select(col("message"),
        col("RAG sources").as("rag_results_string"),
        col("Response").as("coaching_response"),
        struct(
          col("Response").as("suggested_response"),
          lit(null).cast(sourcesType).as("sources"),
          col("Reasoning").as("reasoning")).as("coaching_parsed"))
    val misses = looked.filter(col("Response").isNull)
      .select(col("message"), col("speaker"))
    coach(misses).unionByName(hits)
  }
}

object CoachingPipeline {

  /** Max index chunks for the collect-into-broadcast-store retrieval
    * path; larger indexes take the DataFrame-join path (coachJoin). The
    * reference corpus is 27 docs — far under; the guard exists so the
    * flagship pipeline never unconditionally collects an unbounded
    * index onto the driver. */
  val BroadcastIndexLimit = 100000L

  /** recent_conversation_history view (reference :489-505): last 6
    * messages by rowtime, re-sorted ascending.
    *
    * Written as orderBy(desc).limit(6) — Spark plans TakeOrderedAndProject
    * (per-partition top-6 then a 6-row merge on the driver), NOT a global
    * single-partition window sort, so it scales to any table size. The
    * ROW_NUMBER() OVER (ORDER BY ...) formulation the reference uses would
    * serialize all rows through one partition.
    */
  def recentHistory(messages: DataFrame, tsCol: String = "rowtime",
                    n: Int = 6): DataFrame =
    messages.orderBy(col(tsCol).desc).limit(n).orderBy(col(tsCol).asc)

  /** Exact-match cache lookup (reference app/routes/api_routes.py:34-39,
    * script.js:766-777): case-insensitive trimmed equality against a small
    * cache table; cache rows broadcast so the message stream never
    * shuffles. Returns messages annotated with cached Response columns
    * (null = cache miss → run the LLM path). */
  def cacheLookup(messages: DataFrame, cache: DataFrame): DataFrame =
    messages.join(
      broadcast(cache),
      lower(trim(messages("message"))) === lower(trim(cache("Message"))),
      "left")
      // the matched key duplicates `message` under case-insensitive
      // resolution — drop it so downstream references stay unambiguous
      .drop(cache("Message"))
}
