package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Expression surface of the coaching pipeline's scalar stages:
  * prompt assembly (reference generate_personalized_commands.sh:417-432),
  * doc-path splitting (:251-253), LLM-JSON repair+parse (the client-side
  * repair in reference app/static/script.js:952-961 internalized as engine
  * columns), keyword-trigger advice (app/utils/data_utils.py:20-54).
  * All pure column expressions — codegen'd, oracle-expressible.
  */
object Coaching {

  /** The exact CONCAT prompt of the reference (E1): message + `slots`
    * retrieved (document_id, chunks) pairs, 1-based subscripts matching
    * Flink's. `slots` is the pipeline's retrieval k (the reference's 3),
    * so every retrieved hit reaches the prompt.
    * try_element_at, NOT element_at: under Spark 4's default ANSI mode a
    * plain element_at THROWS on out-of-bounds, but the reference semantics
    * for <slots retrieval hits are a NULL element (→ NULL prompt), per
    * SURVEY.md §7.4 #5. `ragResults` is ARRAY<STRUCT<document_id, chunks>>. */
  def buildCoachingPrompt(message: Column, ragResults: Column,
                          slots: Int = 3): Column = {
    require(slots >= 1, s"buildCoachingPrompt: slots must be >= 1: $slots")
    // Field-first extraction: try_element_at over two plain string arrays
    // instead of ExtractValue(ElementAt(array<struct>)) — identical
    // semantics (1-based subscript, NULL out-of-bounds → NULL prompt), but
    // the struct form trips a Janino "not an rvalue" codegen bug in Spark
    // 4.1 and silently falls back to interpreted projection; this form
    // stays inside whole-stage codegen.
    val docIds = transform(ragResults, r => r("document_id"))
    val chunks = transform(ragResults, r => r("chunks"))
    def doc(i: Int): Seq[Column] = Seq(
      lit(s"Document $i: "), try_element_at(docIds, lit(i)), lit("\n"),
      try_element_at(chunks, lit(i)))
    concat(Seq(
      lit("## PROSPECT MESSAGE: "), message,
      lit("\n\n## RAG DOCUMENTS:\n")) ++
      (1 to slots).map(doc).reduce(_ ++ Seq(lit("\n\n")) ++ _): _*)
  }

  /** Filename part of a slash path (reference prompt rule: from
    * `dir/file.md` extract `file.md`). */
  def docTitle(documentId: Column): Column =
    regexp_extract(documentId, "([^/]*)$", 1)

  /** Directory part incl. trailing slash (`objection_response_playbooks/`),
    * empty when no directory. */
  def docPath(documentId: Column): Column =
    regexp_extract(documentId, "^(.*/)", 1)

  /** LLM-JSON repair: strip ```json fences, trailing commas before } or ],
    * and trim — the script.js:952-961 repair chain as engine columns.
    * Patterns restricted to the Java∩RE2 regex subset for oracle parity.
    * Edge trim must cover newlines left by the fence lines: Spark's
    * one-arg trim strips spaces only, so the whitespace set is explicit
    * (as edge regexps — the two-arg trim() signature is deprecated in
    * Spark 4 and warned on every resolution). */
  def repairJson(raw: Column): Column = {
    val noFences = regexp_replace(regexp_replace(raw, "```json", ""), "```", "")
    val noTrailing = regexp_replace(noFences, ",[ \n\r\t]*([}\\]])", "$1")
    regexp_replace(regexp_replace(noTrailing, "^[ \n\r\t]+", ""),
      "[ \n\r\t]+$", "")
  }

  /** Parse a (repaired) coaching_response into the contract struct; null on
    * unparseable payload — parse failure is a first-class row state
    * (script.js:1097-1104 fallback). */
  def parseCoaching(raw: Column): Column =
    from_json(repairJson(raw), Tables.coachingResponseSchema)

  /** Join non-empty used_excerpts with blank lines (script.js:970-971). */
  def usedExcerpts(sources: Column): Column =
    array_join(
      transform(
        filter(sources, s => s("used_excerpt").isNotNull && s("used_excerpt") =!= ""),
        s => s("used_excerpt")),
      "\n\n")

  // --- Keyword triggers (reference app/utils/data_utils.py:20-54) ---
  val triggerKeywords: Seq[String] = Seq(
    "price", "expensive", "cost", "competitor", "issue", "problem",
    "concern", "difficult", "challenge", "roi", "implementation",
    "integration", "budget", "techriva", "competex")

  /** True when any trigger keyword occurs in the message (lowercased). */
  def hasTrigger(message: Column): Column =
    triggerKeywords.map(k => lower(message).contains(k)).reduce(_ || _)

  /** 4-way rule cascade: pricing > competitor > implementation > generic,
    * mirroring data_utils.py's if/elif order. Null when no keyword hits. */
  def triggerAdviceType(message: Column): Column = {
    val m = lower(message)
    val pricing = Seq("price", "expensive", "cost", "budget").map(m.contains(_)).reduce(_ || _)
    val competitor = Seq("competitor", "techriva", "competex").map(m.contains(_)).reduce(_ || _)
    val implem = Seq("implementation", "integration", "difficult", "challenge").map(m.contains(_)).reduce(_ || _)
    when(pricing, "pricing")
      .when(competitor, "competitor")
      .when(implem, "implementation")
      .when(hasTrigger(message), "generic")
      .otherwise(lit(null).cast("string"))
  }

  /** Grounding (faithfulness proxy) of a generated response against the
    * retrieved excerpts it cited: the fraction of the response's
    * DISTINCT lowercase tokens that appear in the excerpt text. 1.0 =
    * every response token is attributable; tokens the excerpts never
    * contain (fabricated entities, numbers, claims) pull the score
    * down — the cheap first-line hallucination gate an answer pipeline
    * thresholds before anything model-based. NULL for a tokenless
    * response (no evidence either way — the repo's quarantine
    * convention). Pure codegen'd per-row column work: no shuffle, no
    * UDF, no model call. */
  def groundingScore(response: Column, excerpts: Column): Column = {
    val r = array_distinct(regexp_extract_all(lower(response),
      lit("[a-z0-9]+"), lit(0)))
    val e = array_distinct(regexp_extract_all(lower(excerpts),
      lit("[a-z0-9]+"), lit(0)))
    when(size(r) === 0, lit(null).cast("double"))
      .otherwise(size(array_intersect(r, e)).cast("double") /
        size(r).cast("double"))
  }
}
