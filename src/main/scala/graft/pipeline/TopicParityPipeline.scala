package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.io.{AvroCodec, LocalTopicStore}

/** Topic-parity mode (SURVEY.md §7.4 #3): the reference's observable
  * contract is a chain of Kafka topics with Avro values — each Flink CTAS
  * materializes one stage (generate_personalized_commands.sh:347-350
  * filter, :355-362 embed, :367-385 retrieve, :412-433 generate), and CLI
  * tools/the app consume intermediates. This runner executes the SAME
  * CoachingPipeline stages but Avro-encodes every stage's output to its
  * topic and re-reads+decodes it before the next stage, so intermediate
  * topics exist and carry wire-faithful bytes (Schema-Registry framing,
  * nullable-union schemas — app/utils/kafka_utils.py:283-294). Keys are
  * random UUIDs like the reference producer's (kafka_utils.py:323, E10).
  *
  * Fused mode (CoachingPipeline.coach) is the optimization; this is the
  * faithful mode — both share every stage implementation, which is the
  * point of keeping the stages composable.
  */
final class TopicParityPipeline(pipeline: CoachingPipeline,
                                store: LocalTopicStore) extends Serializable {

  import TopicParityPipeline._

  private def publish(df: DataFrame, topic: String, st: StructType): Unit = {
    val enc = AvroCodec.encodeUdf(st, s"$topic-value")
    store.append(
      df.select(expr("uuid()").as("key"),
        enc(struct(st.fieldNames.map(col).toSeq: _*)).as("value")),
      topic)
  }

  private def consume(spark: SparkSession, topic: String, st: StructType): DataFrame = {
    val dec = AvroCodec.decodeUdf(st, s"$topic-value")
    store.read(spark, topic).select(dec(col("value")).as("r")).select(col("r.*"))
  }

  /** Producer A: full-meeting transcript → messages_conversation, both
    * speakers (reference :282-288 — the transcript ingest path). */
  def publishConversation(messages: DataFrame): Unit =
    publish(messages, TopicConversation, Tables.messageSchema)

  /** Stage 0 (producer B): conversation → F1 filter → messages_prospect.
    * The reference app also publishes straight to messages_prospect
    * (kafka_utils.py:161) — both entries land in the same topic. */
  def publishProspect(messages: DataFrame): Unit =
    publish(pipeline.filterProspect(messages), TopicProspect, Tables.messageSchema)

  /** The recent_conversation_history view (W1/W2/F4/E7, reference
    * :489-505): last `n` conversation records by the topic's `$rowtime`
    * analog, re-sorted ascending. Batch recompute over the topic — the
    * same TakeOrderedAndProject shape as CoachingPipeline.recentHistory,
    * with the record timestamp as rowtime and the key as tiebreak. */
  def recentConversationHistory(spark: SparkSession, n: Int = 6): DataFrame = {
    val dec = AvroCodec.decodeUdf(Tables.messageSchema, s"$TopicConversation-value")
    store.read(spark, TopicConversation)
      .select(col("rowtime"), col("key"), dec(col("value")).as("r"))
      .select(col("rowtime"), col("key"), col("r.message"), col("r.speaker"))
      .orderBy(col("rowtime").desc, col("key").desc).limit(n)
      .orderBy(col("rowtime").asc, col("key").asc)
      .drop("key")
  }

  /** Stage 1: messages_prospect → embed → messages_prospect_embeddings. */
  def runEmbedStage(spark: SparkSession): Unit =
    publish(pipeline.embedMessages(consume(spark, TopicProspect, Tables.messageSchema)),
      TopicEmbeddings, embeddingsSchema)

  /** Stage 2: embeddings → vector search + reshape → rag_results topic. */
  def runRetrieveStage(spark: SparkSession): Unit =
    publish(pipeline.retrieve(consume(spark, TopicEmbeddings, embeddingsSchema)),
      TopicRagResults, ragResultsSchema)

  /** Stage 3: rag_results → prompt + LLM → final response topic. */
  def runGenerateStage(spark: SparkSession): Unit =
    publish(pipeline.generate(consume(spark, TopicRagResults, ragResultsSchema)),
      TopicResponse, Tables.responseSchema)

  /** Consumer view of the tail topic (what the app's WebSocket consumer
    * reads, kafka_utils.py:342-455), with the parsed contract column. */
  def consumeResponses(spark: SparkSession): DataFrame =
    consume(spark, TopicResponse, Tables.responseSchema)
      .withColumn("coaching_parsed",
        graft.functions.Coaching.parseCoaching(col("coaching_response")))

  /** Ingestion-track parity (S3, §3.2): publish chunked+embedded
    * knowledge to the explicit-schema `knowledge_embeddings_chunked`
    * topic (DDL main.tf:575, populated by INSERT INTO ... SELECT,
    * generate_personalized_commands.sh:315-336). The sink connector
    * (S4) consumes this topic into the vector store. */
  def publishIndex(knowledge: DataFrame): Unit =
    publish(pipeline.indexKnowledge(knowledge), TopicChunked, Tables.chunkSchema)

  /** Consumer half of the S4 sink connector: topic → store upsert. */
  def upsertIndexFromTopic(spark: SparkSession,
                           store: graft.store.InMemoryVectorStore): Unit =
    store.upsertAll(
      consume(spark, TopicChunked, Tables.chunkSchema)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray)))

  /** Pre-register every topic's wire schema, so consumers (which fetch by
    * subject, never auto-register — kafka_utils.py:296-301) can start
    * before the first producer publish. */
  def registerSubjects(): Unit =
    Seq(TopicConversation -> Tables.messageSchema,
      TopicProspect -> Tables.messageSchema,
      TopicEmbeddings -> embeddingsSchema,
      TopicRagResults -> ragResultsSchema,
      TopicResponse -> Tables.responseSchema,
      TopicChunked -> Tables.chunkSchema)
      .foreach { case (t, st) =>
        graft.io.SchemaRegistry.getOrRegister(s"$t-value",
          AvroCodec.schemaForSubject(st, s"$t-value"))
      }

  /** T1 — the reference's actual execution model: each stage is a
    * STANDING continuous query (4 statements, 4 jobs, topic hops between,
    * generate_personalized_commands.sh:315-505), here as three chained
    * Structured Streaming queries subscribed to the previous stage's
    * topic and appending Avro records to the next. Producers keep
    * publishing to messages_prospect while the chain runs; the sink write
    * is at-least-once on retry, exactly the reference's read-uncommitted
    * delivery (T2) — duplicates are the downstream dedup's job (T3).
    * Returns (embed, retrieve, generate) queries; stop them to tear down. */
  def streamStages(spark: SparkSession, checkpointRoot: String,
                   sourceOptions: Map[String, String] = Map.empty)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    streamStagesWith(spark, checkpointRoot, pipeline.retrieve,
      perBatchRetrieve = false, sourceOptions)

  /** [[streamStages]] with retrieval served by the PERSISTED IVF-Flat
    * index instead of the in-memory store: the standing retrieve query
    * runs [[CoachingPipeline.retrieveIndexed]] per micro-batch — a
    * partition-pruned JOIN against the on-disk index, no per-row store
    * lookup, no corpus broadcast. Composed with
    * [[graft.streaming.StreamingOps.indexUpsertSink]] this is the full
    * external-index loop of the reference (sink connector continuously
    * upserting Atlas, coach querying it — main.tf:594-635, 649-669)
    * with no driver collect anywhere: upserts append to cluster
    * partitions, searches prune to probed cells.
    *
    * The retrieve stage runs inside foreachBatch (a per-micro-batch
    * BATCH plan) rather than as a continuous transform: each batch's
    * search needs a fresh payload file listing and fresh sidecars (the
    * upsert sink keeps appending), which one standing stream-static
    * join would freeze at its start; and the probe pruning is dynamic
    * partition pruning, which only a batch plan gets. Stage topology,
    * wire schemas, and delivery semantics are identical to
    * [[streamStages]]. */
  def streamStagesIndexed(spark: SparkSession, checkpointRoot: String,
                          index: graft.store.IvfFlatIndexStore,
                          sourceOptions: Map[String, String] = Map.empty)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    streamStagesWith(spark, checkpointRoot,
      batch => pipeline.retrieveIndexed(batch, index),
      perBatchRetrieve = true, sourceOptions)

  private def streamStagesWith(spark: SparkSession, checkpointRoot: String,
                               retrieveImpl: DataFrame => DataFrame,
                               perBatchRetrieve: Boolean,
                               sourceOptions: Map[String, String])
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    registerSubjects()
    def stage(name: String, inTopic: String, inSchema: StructType,
              outTopic: String, outSchema: StructType,
              f: DataFrame => DataFrame, perBatch: Boolean = false) = {
      val dec = AvroCodec.decodeUdf(inSchema, s"$inTopic-value")
      val enc = AvroCodec.encodeUdf(outSchema, s"$outTopic-value")
      val in = store.readStream(spark, inTopic, sourceOptions)
        .select(dec(col("value")).as("r")).select(col("r.*"))
      def encode(df: DataFrame): DataFrame = df.select(
        expr("uuid()").as("key"),
        enc(struct(outSchema.fieldNames.map(col).toSeq: _*)).as("value"))
      // perBatch: f runs on each micro-batch's BATCH frame inside
      // foreachBatch (for transforms that cannot be a continuous plan —
      // the indexed retrieve); otherwise f is part of the standing plan
      val out = if (perBatch) in else encode(f(in))
      out.writeStream
        .queryName(s"graft-stage-$name")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // empty micro-batches skip the per-batch transform entirely
          // (the indexed search has nothing to probe), mirroring
          // StreamingOps.indexUpsertSink
          if (!perBatch) store.append(batch, outTopic)
          else {
            // the per-batch transform references the batch frame more
            // than once (query side, hit aggregation, join-back) and the
            // empty-batch guard is an action of its own: unpersisted,
            // EACH of them re-scans and re-decodes the topic segment —
            // the r11 streaming_indexed book measured the retrieve
            // stage's numInputRows at 3× the topic's rows. persist +
            // count() materializes the decode exactly once AND is the
            // emptiness gate in the same job (one fewer fixed job per
            // trigger than the r14 localCheckpoint + isEmpty pair); the
            // count fully populates the cache BEFORE the main action,
            // so the lazy-persist race the r11 note warned about (cold
            // scan branches racing the cache population inside one
            // job) cannot occur. The cache is handed back per trigger
            // (unpersist) — CacheManager entries are never reclaimed
            // by GC (the r14 lifecycle rule).
            val b = batch.persist()
            try {
              if (b.count() > 0) store.append(encode(f(b)), outTopic)
            } finally b.unpersist()
          }
        }
        .option("checkpointLocation", s"$checkpointRoot/$name")
        .start()
    }
    Seq(
      // the F1/F2 CTAS statement (:347-350) as its own standing query:
      // conversation topic → WHERE speaker='prospect' → prospect topic
      stage("filter", TopicConversation, Tables.messageSchema,
        TopicProspect, Tables.messageSchema, pipeline.filterProspect),
      stage("embed", TopicProspect, Tables.messageSchema,
        TopicEmbeddings, embeddingsSchema, pipeline.embedMessages),
      stage("retrieve", TopicEmbeddings, embeddingsSchema,
        TopicRagResults, ragResultsSchema, retrieveImpl,
        perBatch = perBatchRetrieve),
      stage("generate", TopicRagResults, ragResultsSchema,
        TopicResponse, Tables.responseSchema, pipeline.generate))
  }

  /** Run the whole chain for a batch of conversation messages. */
  def runAll(spark: SparkSession, messages: DataFrame): DataFrame = {
    publishProspect(messages)
    runEmbedStage(spark)
    runRetrieveStage(spark)
    runGenerateStage(spark)
    consumeResponses(spark)
  }
}

object TopicParityPipeline {
  val TopicChunked = "knowledge_embeddings_chunked"
  val TopicConversation = "messages_conversation"
  val TopicProspect = "messages_prospect"
  val TopicEmbeddings = "messages_prospect_embeddings"
  val TopicRagResults = "messages_prospect_rag_results"
  val TopicResponse = "messages_prospect_rag_llm_response"

  /** messages_prospect_embeddings — generate_personalized_commands.sh:355-362. */
  val embeddingsSchema: StructType = Tables.messageSchema
    .add(StructField("embedding", ArrayType(FloatType)))

  /** messages_prospect_rag_results — :367-385 (3 named structs, embeddings
    * stripped). */
  val ragResultsSchema: StructType = Tables.messageSchema
    .add(StructField("rag_results", ArrayType(Tables.ragResultEntry)))
}
