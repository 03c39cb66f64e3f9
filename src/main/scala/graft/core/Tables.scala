package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders and schemas for the driver test tables (/root/repo/TESTDATA.md)
  * and the reference pipeline tables (SURVEY.md §1.2).
  *
  * Scale note: all loads are plain parquet scans — Catalyst pushes filters
  * and prunes columns into the scan, so downstream operators should express
  * predicates/projections declaratively and never pre-collect.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  // --- Reference pipeline schemas (SURVEY.md §1.2, FIXTURES.md §1) ---
  // knowledge — reference generate_personalized_commands.sh:269-277
  val knowledgeSchema: StructType = StructType(Seq(
    StructField("document_id", StringType),
    StructField("document_name", StringType),
    StructField("document_category", StringType),
    StructField("document_text", StringType)))

  // messages_conversation / messages_prospect — :282-288
  val messageSchema: StructType = StructType(Seq(
    StructField("message", StringType),
    StructField("speaker", StringType)))

  // knowledge_embeddings_chunked — reference terraform/main.tf:575
  val chunkSchema: StructType = StructType(Seq(
    StructField("document_id", StringType),
    StructField("chunks", StringType),
    StructField("embedding", ArrayType(FloatType))))

  // messages_prospect_rag_results — :367-385
  val ragResultEntry: StructType = StructType(Seq(
    StructField("document_id", StringType),
    StructField("chunks", StringType)))

  // messages_prospect_rag_llm_response — :412-433
  val responseSchema: StructType = StructType(Seq(
    StructField("message", StringType),
    StructField("rag_results_string", StringType),
    StructField("coaching_response", StringType)))

  /** LLM coaching-response JSON contract — reference
    * generate_personalized_commands.sh:239-258 (system prompt) as parsed by
    * app/static/script.js:947-1104. Used with from_json after repair.
    */
  val coachingResponseSchema: StructType = StructType(Seq(
    StructField("suggested_response", StringType),
    StructField("sources", ArrayType(StructType(Seq(
      StructField("document_index", IntegerType),
      StructField("document_id", StringType),
      StructField("title", StringType),
      StructField("path", StringType),
      StructField("full_text", StringType),
      StructField("used_excerpt", StringType))))),
    StructField("reasoning", StringType)))
}
