package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.functions.Bpe
import graft.operators.{Dedup, WebGraph}

/** The iterative operators' shared checkpoint step: what a finished
  * operator leaves in the block manager, and how many jobs it runs. */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  // a 6-node graph with a dangling node (5) and an out-of-set edge
  private lazy val nodes = (0L to 5L).toDF("id")
  private lazy val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L),
    (3L, 4L), (4L, 5L), (4L, 99L)).toDF("src", "dst")
  // the 16-node chain 1-2-…-16
  private lazy val chain =
    (1 to 15).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")

  /** Build `f`'s frame and check the persisted RDDs the build left
    * behind are exactly the `expected` checkpoints its plan scans. */
  private def assertRetains(op: String, expected: Int)(f: => DataFrame): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = f
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    val scanned = out.queryExecution.logical
      .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    withClue(s"$op: persisted RDDs left by the build: ") {
      left shouldBe scanned
      left.size shouldBe expected
    }
    out.collect() // the retained checkpoints still serve the result
  }

  test("each iterative operator retains only the checkpoints its result reads") {
    assertRetains("pageRank", 1)(WebGraph.pageRank(nodes, edges, iters = 5))
    assertRetains("trustRank", 1)(WebGraph.trustRank(nodes, edges,
      Seq(0L).toDF("id"), iters = 4))
    assertRetains("hits", 2)(WebGraph.hits(nodes, edges, iters = 4))
    assertRetains("resolveRedirects", 1)(WebGraph.resolveRedirects(
      (1L to 9L).map(i => (i, i + 1)).toDF("src", "dst"), rounds = 5))
    // min-label propagation over the 7-node chain takes 6 rounds
    assertRetains("connectedComponents", 1)(
      Dedup.connectedComponents(chain.limit(6)))
    assertRetains("altStar", 2) {
      val (labels, rounds) = Dedup.altStarWithRounds(chain, "id_a", "id_b", 20)
      rounds should be >= 3
      labels
    }
  }

  test("job counts of the iterative operators on the 16-node chain are pinned") {
    // a folded job creeping back (a separate count, a convergence
    // probe) shows up here before it shows up in a bench row
    val chainNodes = (1L to 16L).toDF("id")
    val chainEdges = chain.toDF("src", "dst")
    // BPE training on a fixed 4-document corpus, 3 merges: 4 jobs with
    // no merge, then 2 per merge round for its pair-count argmax (0–3
    // merges run 4, 6, 8, 10 jobs); a per-round materialization
    // creeping back would add to every round
    val bpeDocs = Seq((1L, "low low low lower"), (2L, "newest newest"),
      (3L, "widest low"), (4L, "lowest newer")).toDF("doc_id", "text")
    // shared 4-core test session; altStar's edge counts ride its
    // checkpoint jobs (a count() per round made it 52)
    val jobs = Seq(
      jobsDuring(WebGraph.pageRank(chainNodes, chainEdges, iters = 5)),
      jobsDuring(Dedup.connectedComponents(chain)),
      jobsDuring(Dedup.connectedComponentsAltStar(chain)),
      jobsDuring(Bpe.train(bpeDocs, "text", steps = 3)))
    jobs shouldBe Seq(42, 84, 40, 10)
  }
}
