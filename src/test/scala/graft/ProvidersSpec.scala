package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

import graft.functions.Coaching
import graft.providers.{MockChat, MockEmbedder}

/** M2/M3 mock providers: the determinism contracts every golden test and
  * oracle run depends on (FIXTURES.md §5). */
class MockEmbedderSpec extends AnyFunSuite with Matchers {

  test("embeddings are deterministic across instances and calls") {
    val a = new MockEmbedder(64).embed("hello world")
    val b = new MockEmbedder(64).embed("hello world")
    a.toSeq shouldBe b.toSeq
  }

  test("embeddings have the declared dimension and unit norm") {
    val e = new MockEmbedder(32)
    val v = e.embed("some text")
    v.length shouldBe 32
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    norm shouldBe 1.0 +- 1e-5
  }

  test("different texts produce different vectors") {
    val e = new MockEmbedder(64)
    e.embed("text A").toSeq should not be e.embed("text B").toSeq
  }

  test("batch embedding equals per-item embedding") {
    val e = new MockEmbedder(16)
    val batch = e.embedBatch(Seq("x", "y"))
    batch.map(_.toSeq) shouldBe Seq(e.embed("x").toSeq, e.embed("y").toSeq)
  }
}

class MockChatSpec extends SparkSpec {
  import spark.implicits._

  private val prompt =
    "## PROSPECT MESSAGE: pricing concern\n\n## RAG DOCUMENTS:\n" +
      "Document 1: playbooks/pricing.md\nchunk one\n\n" +
      "Document 2: cases/case.md\nchunk two\n\n" +
      "Document 3: specs/spec.md\nchunk three"

  /** buildCoachingPrompt's prompt at `k` slots: document i is
    * `dir<i>/doc<i>.md` with chunk `chunk <i>`. */
  private def coachingPrompt(k: Int): String =
    Seq(("pricing concern",
      (1 to k).map(i => (s"dir$i/doc$i.md", s"chunk $i"))))
      .toDF("message", "rag")
      .select(Coaching.buildCoachingPrompt(col("message"),
        col("rag").cast("array<struct<document_id:string,chunks:string>>"),
        slots = k))
      .as[String].head()

  test("mock chat output satisfies the coaching JSON contract after repair") {
    val parse = (raw: String) => Seq(raw).toDF("raw")
      .select(Coaching.parseCoaching(col("raw")).as("p"))
      .select(col("p.suggested_response"), col("p.reasoning"),
        org.apache.spark.sql.functions.size(col("p.sources")).as("n"),
        element_at(col("p.sources"), 1)("document_id"),
        element_at(col("p.sources"), 1)("title"),
        element_at(col("p.sources"), 1)("path"),
        element_at(col("p.sources"), -1)("document_id"),
        element_at(col("p.sources"), -1)("document_index"),
        element_at(col("p.sources"), -1)("full_text"))
      .collect().head
    val parsed = parse(new MockChat().completeBatch(Seq(prompt), "sys").head)
    parsed.getString(0) should include("pricing concern")
    parsed.getString(1) should not be empty
    parsed.getInt(2) shouldBe 3
    // sources echo the retrieved ids parsed back out of the prompt — an
    // end-to-end run therefore asserts prompt assembly (FIXTURES.md §2)
    parsed.getString(3) shouldBe "playbooks/pricing.md"
    parsed.getString(4) shouldBe "pricing.md"
    parsed.getString(5) shouldBe "playbooks/"
    parsed.getString(6) shouldBe "specs/spec.md"
    // every one of the k documents the prompt carries, two-digit
    // indices included
    for (k <- Seq(5, 12)) withClue(s"k = $k: ") {
      val p = parse(new MockChat().completeBatch(Seq(coachingPrompt(k)), "s").head)
      p.getString(0) should include("pricing concern")
      p.getInt(2) shouldBe k
      p.getString(3) shouldBe "dir1/doc1.md"
      p.getString(6) shouldBe s"dir$k/doc$k.md"
      p.getInt(7) shouldBe k
      p.getString(8) shouldBe s"chunk $k"
    }
  }

  test("mock chat is deterministic") {
    new MockChat().completeBatch(Seq(prompt), "s") shouldBe
      new MockChat().completeBatch(Seq(prompt), "s")
  }
}
