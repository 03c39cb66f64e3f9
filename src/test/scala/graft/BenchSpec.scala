package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Bench's own contracts: the bench list against the query registry,
  * and the scale probe's family table. */
class BenchSpec extends SparkSpec {

  test("the bench list is 207 distinct registered queries") {
    val names = SparkEntry.benchQueries
    names.distinct shouldBe names
    names.filterNot(SparkEntry.queries.contains) shouldBe empty
    names should have length 207
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
