package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The query registry's contracts (one record per name; the bench set
  * and every main's name selection derive from it) and the scale
  * probe's family table. */
class BenchSpec extends SparkSpec {

  test("the bench list is 207 distinct registered queries") {
    val names = SparkEntry.benchQueries.map(_.name)
    names.distinct shouldBe names
    names.filterNot(SparkEntry.queries.contains) shouldBe empty
    names should have length 207
  }

  test("the registry holds distinct names and every oracle is registered") {
    val names = SparkEntry.all.map(_.name)
    names should have length 241
    names.distinct shouldBe names
    SparkEntry.queries.keySet shouldBe names.toSet
    SparkEntry.oracleSql.keySet.filterNot(SparkEntry.queries.contains) shouldBe empty
  }

  test("exactly the named 34 registered queries stay out of the book") {
    SparkEntry.all.filterNot(_.bench).map(_.name).toSet shouldBe Set(
      "ann_adaptive_topk", "ann_ivf_assign", "curate_best_per_source",
      "curate_report", "dedup_embedding", "mm_image_neardup_clusters",
      "mm_resize", "q02_filter_project", "q06_anti_join", "q08_rollup",
      "q09_union_distinct", "q11_skew_salted_agg", "q15_cube",
      "q16_percentiles", "q17_set_ops", "rag_cache_crud", "rag_cache_lookup",
      "rag_coach_e2e", "rag_dedup_ttl_batch", "rag_doc_path",
      "rag_embed_mock", "rag_json_repair", "rag_keygen",
      "rag_keyword_trigger", "rag_null_scrub", "rag_prompt_assembly",
      "rag_recent_history", "rag_shuffle_pick3", "rag_time_format",
      "rag_used_excerpts", "rag_vector_topk_sql", "text_fingerprint",
      "text_length_hist", "text_vocab_top")
  }

  test("select keeps registry order and refuses empty lists and unknown names") {
    val pool = SparkEntry.benchQueries
    SparkEntry.select(None, pool) shouldBe pool
    SparkEntry.select(Some(" web_hits , q01_agg_summary,"), pool)
      .map(_.name) shouldBe Seq("q01_agg_summary", "web_hits")
    // registered but not benched: unknown to the bench pool
    intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_agg_summary,q02_filter_project"), pool))
      .getMessage should include("q02_filter_project")
    for (empty <- Seq("", " , ")) withClue(s"'$empty': ") {
      intercept[IllegalArgumentException](SparkEntry.select(Some(empty), pool))
    }
  }

  test("Verify refuses a mistyped query name before any Spark job runs") {
    var refused: IllegalArgumentException = null
    jobsDuring {
      refused = intercept[IllegalArgumentException](
        Verify.selected(Some("q01_agg_summary,q01_agg_sumary")))
    } shouldBe 0
    refused.getMessage should include("q01_agg_sumary")
    refused.getMessage should not include "q01_agg_summary"
    Verify.selected(Some("web_hits,q01_agg_summary")).map(_.name) shouldBe
      Seq("q01_agg_summary", "web_hits")
    Verify.selected(None).map(_.name) shouldBe SparkEntry.all.map(_.name).sorted
  }

  test("scaleProbe refuses an unknown family before any Spark job runs") {
    var refused: IllegalArgumentException = null
    jobsDuring {
      refused = intercept[IllegalArgumentException](
        Bench.scaleProbe(spark, 20, Seq("pagerank", "pagernak")))
    } shouldBe 0
    refused.getMessage should include("pagernak")
    jobsDuring {
      intercept[IllegalArgumentException](Bench.scaleProbe(spark, 20, Nil))
    } shouldBe 0
  }

  test("scaleProbe families report sec, rows and the decade exponent") {
    val json = new ObjectMapper().readTree(
      Bench.scaleProbe(spark, 20, Seq("redirects", "pagerank")))
    json.get("metric").asText shouldBe "scale_probe"
    val points = json.get("points")
    points.size shouldBe 2
    Seq(0, 1).map(points.get(_).get("rows").asLong) shouldBe Seq(20L, 200L)
    for (f <- Seq("redirects", "pagerank")) withClue(f) {
      (0 until 2).foreach { i =>
        points.get(i).get(s"${f}_sec").isNumber shouldBe true
        points.get(i).get(s"${f}_rows").asLong should be > 0L
      }
      json.get(s"${f}_exponent").isNumber shouldBe true
    }
  }
}
