package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.SparkPlan

import graft.pipeline.CoachingPipeline
import graft.providers.{MockChat, MockEmbedder}
import graft.store.BroadcastBruteForceStore

/** The per-row retrieval path ships its store to executors as a broadcast
  * variable: the physical plan (what every task of every micro-batch
  * carries in its binary) must hold only the broadcast handle, never the
  * corpus. A window-independent count behind the coach latency. */
class RetrieveTaskBinarySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 1536
  private val rnd = new scala.util.Random(7)
  // 1,400 × 1,536 floats ≈ 8.6 MB of vectors
  private val corpus = Array.tabulate(1400) { i =>
    (s"doc$i", s"chunk $i", Array.fill(dim)(rnd.nextFloat() - 0.5f))
  }
  private val store = new BroadcastBruteForceStore(corpus)
  private val pipeline = new CoachingPipeline(new MockEmbedder(dim), new MockChat, store)
  // an RDD-backed frame, not a local Seq: over a LocalRelation the
  // optimizer would evaluate the UDF at planning time and no task would run
  private val queries = spark.sparkContext.parallelize(Seq(
      ("q0", "prospect", corpus(3)._3.toSeq),
      ("q1", "prospect", corpus(900)._3.toSeq)), 1)
    .toDF("message", "speaker", "embedding")

  private def planBytes(plan: SparkPlan): Int = {
    val n = SparkEnv.get.closureSerializer.newInstance().serialize(plan).limit()
    info(s"executed plan: $n bytes serialized")
    n
  }

  test("retrieve's executed plan serializes to well under the store's size") {
    val out = pipeline.retrieve(queries)
    planBytes(out.queryExecution.executedPlan) should be < (1 << 20)
    // ...and the broadcast store answers exactly like the store itself
    val ids = out.orderBy("message").collect()
      .map(_.getSeq[org.apache.spark.sql.Row](2).map(_.getString(0)))
    ids.toSeq shouldBe Seq(3, 900).map(i =>
      store.search(corpus(i)._3, 3, 150).map(_.document_id))
  }

  test("retrieveDiverse's executed plan serializes to well under the store's size") {
    val out = pipeline.retrieveDiverse(queries)
    planBytes(out.queryExecution.executedPlan) should be < (1 << 20)
    out.count() shouldBe 2L
  }
}
