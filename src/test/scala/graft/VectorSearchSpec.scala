package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.SimilaritySearch
import graft.store.BroadcastBruteForceStore

/** M4/J3 vector search: store semantics, DataFrame brute force, LSH and
  * IVF scale paths. */
class BroadcastStoreSpec extends AnyFunSuite with Matchers {

  private val corpus = Array(
    ("d1", "c1", Array(1f, 0f, 0f)),
    ("d2", "c2", Array(0.9f, 0.1f, 0f)),
    ("d3", "c3", Array(0f, 1f, 0f)),
    ("d4", "c4", Array(0f, 0f, 1f)))
  private val store = new BroadcastBruteForceStore(corpus)

  test("search returns cosine top-k best-first") {
    val hits = store.search(Array(1f, 0f, 0f), 2)
    hits.map(_.document_id) shouldBe Seq("d1", "d2")
    hits.head.score shouldBe 1.0 +- 1e-9
    hits(1).score should be < hits.head.score
  }

  test("ties break toward the earlier corpus entry, deterministically") {
    val tied = new BroadcastBruteForceStore(Array(
      ("a", "", Array(1f, 0f)), ("b", "", Array(2f, 0f)), ("c", "", Array(0f, 1f))))
    // a and b have identical cosine 1.0 — earlier index wins
    tied.search(Array(1f, 0f), 2).map(_.document_id) shouldBe Seq("a", "b")
  }

  test("k larger than the corpus returns everything ranked") {
    store.search(Array(0f, 1f, 0f), 10).map(_.document_id).head shouldBe "d3"
    store.search(Array(0f, 1f, 0f), 10) should have size 4
  }

  // Reference scan: per-pair cosine summed over the shorter prefix, zero
  // norm → -1.0, then a full sort (score desc, smaller index wins ties).
  private def refCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  private def refSearch(c: Array[(String, String, Array[Float])],
                        q: Array[Float], k: Int): Seq[(String, String, Double)] =
    c.indices.map(i => (refCosine(q, c(i)._3), i))
      .sortWith { case ((s1, i1), (s2, i2)) =>
        val o = java.lang.Double.compare(s1, s2)
        o > 0 || (o == 0 && i1 < i2)
      }
      .take(k).map { case (s, i) => (c(i)._1, c(i)._2, s) }

  test("search is bit-identical to the reference cosine scan on seeded corpora") {
    val rnd = new scala.util.Random(11)
    def vec(d: Int): Array[Float] = Array.fill(d)(rnd.nextGaussian().toFloat)
    (1 to 20).foreach { trial =>
      val d = 4 + rnd.nextInt(60)
      val base = Array.tabulate(40 + rnd.nextInt(40))(i => (s"d$i", s"c$i", vec(d)))
      // zero vectors, exact duplicates (tied scores), a scaled copy (the
      // same cosine up to rounding) and vectors shorter and longer than d
      val corpus = base ++ Array(
        ("zero", "z", new Array[Float](d)),
        ("dup", "x", base(0)._3.clone()),
        ("scaled", "s", base(1)._3.map(_ * 4f)),
        ("short", "p", base(2)._3.take(d / 2)),
        ("long", "l", base(3)._3 ++ vec(3)))
      val s = new BroadcastBruteForceStore(corpus)
      val queries = Seq(vec(d), base(0)._3, base(2)._3, new Array[Float](d),
        vec(d + 5), vec(d / 2))
      for (q <- queries; k <- Seq(1, 3, 7, corpus.length + 5)) withClue(s"trial $trial k=$k") {
        s.search(q, k, 150).map(h => (h.document_id, h.chunks, h.score)) shouldBe
          refSearch(corpus, q, k)
      }
    }
  }

  test("search keeps exact ties, zero-norm -1.0 scores and k > corpus size") {
    val tied = new BroadcastBruteForceStore(Array(
      ("z1", "", Array(0f, 0f)), ("a", "", Array(1f, 1f)),
      ("b", "", Array(1f, 1f)), ("z2", "", Array(0f, 0f)), ("c", "", Array(2f, 2f))))
    val hits = tied.search(Array(3f, 3f), 10, 150)
    hits.map(_.document_id) shouldBe Seq("a", "b", "c", "z1", "z2")
    hits.map(_.score).drop(3) shouldBe Seq(-1.0, -1.0)
    hits.map(_.score).take(3).distinct should have size 1
    // a zero query scores every entry -1.0: corpus order is the ranking
    tied.search(Array(0f, 0f), 10, 150).map(h => (h.document_id, h.score)) shouldBe
      Seq("z1", "a", "b", "z2", "c").map(_ -> -1.0)
  }
}

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("meanPoolNormalized: unit-norm means, identical children pool to their direction") {
    val df = Seq(
      (1, Seq(2f, 0f)), (1, Seq(4f, 0f)),      // mean (3,0) → (1,0)
      (2, Seq(1f, 1f)), (2, Seq(3f, 3f)),      // mean (2,2) → (√½,√½)
      (3, Seq(0f, 0f)))                        // zero norm → zeros
      .toDF("doc", "vec")
    val got = VectorOps.meanPoolNormalized(df, "doc", "vec")
      .as[(Int, Int, Double)].collect().sorted.toSeq
    got.map(_._1).distinct shouldBe Seq(1, 2, 3)
    got.filter(_._1 == 1).map(_._3) shouldBe Seq(1.0, 0.0)
    val s = math.sqrt(0.5)
    got.filter(_._1 == 2).map(_._3).foreach(_ shouldBe s +- 1e-12)
    got.filter(_._1 == 3).map(_._3) shouldBe Seq(0.0, 0.0)
    // unit norm for every non-degenerate parent
    Seq(1, 2).foreach { p =>
      val n = got.filter(_._1 == p).map(v => v._3 * v._3).sum
      n shouldBe 1.0 +- 1e-12
    }
  }

  test("cosine/dot/norm expressions match scalar math") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    val Array(dot, cos, n2) = df.select(
      VectorOps.dotD(col("a"), col("b")),
      VectorOps.cosine(col("a"), col("b")),
      VectorOps.norm2(col("a"))).collect().head.toSeq.toArray
    dot shouldBe 32.0
    cos.asInstanceOf[Double] shouldBe
      (32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) +- 1e-12
    n2 shouldBe 14.0
  }

  test("bruteForceTopK matches the in-memory store on the same data") {
    val corpus = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
    val queries = (100 until 105).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.cos(i * 8 + j).toFloat)))
    val got = VectorOps.bruteForceTopK(
        queries.toDF("qid", "qvec"), corpus.toDF("nid", "nvec"),
        3, "qid", "qvec", "nid", "nvec")
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

    val store = new BroadcastBruteForceStore(
      corpus.map(c => (c._1.toString, "", c._2.toArray)).toArray)
    queries.foreach { case (qid, qvec) =>
      got(qid) shouldBe store.search(qvec.toArray, 3).map(_.document_id.toLong)
    }
  }

  test("radiusSearch keeps exactly the pairs at or above the threshold") {
    val corpus = (0 until 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
    val queries = (100 until 105).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.cos(i * 8 + j).toFloat)))
    val tau = 0.3
    val got = VectorOps.radiusSearch(
        queries.toDF("qid", "qvec"), corpus.toDF("nid", "nvec"),
        tau, "qid", "qvec", "nid", "nvec")
      .as[(Long, Long, Double)].collect()
    // reference: full ranked list, cut at the same rounded threshold
    val all = VectorOps.bruteForceTopK(
        queries.toDF("qid", "qvec"), corpus.toDF("nid", "nvec"),
        corpus.size, "qid", "qvec", "nid", "nvec")
      .select(col("qid"), col("nid"), round(col("sim"), 6).as("sim"))
      .as[(Long, Long, Double)].collect()
    got.toSet shouldBe all.filter(_._3 >= tau).toSet
    got.foreach(_._3 should be >= tau)
    got.map(r => (r._1, r._2)).distinct.length shouldBe got.length
  }

  test("lshTopK: a corpus vector identical to the query lands in its bucket at rank 1") {
    val shared = Seq(1f, 2f, -1f, 0.5f)
    val corpus = Seq((10L, shared), (11L, Seq(-1f, -2f, 1f, -0.5f)))
    val queries = Seq((1L, shared))
    val planes = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f))
    val got = SimilaritySearch.lshTopK(
        queries.toDF("vec_id", "embedding"), corpus.toDF("vec_id", "embedding"),
        planes, 3)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect()
    got should contain((1L, 10L, 1))
    // the sign-flipped vector has the opposite signature → different bucket
    got.map(_._2) should not contain 11L
  }

  test("ivfTopK finds an identical corpus vector through its probed cluster") {
    val centroids = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    val shared = Seq(0.9f, 0.1f, 0f)                   // lands in cluster 0
    val corpus = Seq((10L, shared), (11L, Seq(0.1f, 0.9f, 0f))) // 11 → cluster 1
    val queries = Seq((1L, shared))
    val got = SimilaritySearch.ivfTopK(
        queries.toDF("vec_id", "embedding"), corpus.toDF("vec_id", "embedding"),
        centroids, k = 2, nProbe = 1)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect()
    got.toSeq shouldBe Seq((1L, 10L, 1)) // nProbe=1 → cluster-1 corpus unseen
    // widening the probe list reaches the second cluster
    val probed2 = SimilaritySearch.ivfTopK(
        queries.toDF("vec_id", "embedding"), corpus.toDF("vec_id", "embedding"),
        centroids, k = 2, nProbe = 2)
      .select("nid").as[Long].collect().sorted
    probed2.toSeq shouldBe Seq(10L, 11L)
  }

  test("adaptiveTopK picks exact search for small corpora, LSH beyond the threshold") {
    val corpus = Seq((10L, Seq(1f, 0f)), (11L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val planes = Seq(Seq(1f, 0f))

    // tiny corpus, generous threshold → exact path: BOTH corpus rows rankable
    val exact = SimilaritySearch.adaptiveTopK(queries, corpus, 2, planes)
      .select("nid").as[Long].collect().sorted
    exact.toSeq shouldBe Seq(10L, 11L)

    // threshold 0 forces the LSH path: only the same-signature bucket is seen
    val lsh = SimilaritySearch.adaptiveTopK(queries, corpus, 2, planes,
        broadcastBytes = 0L)
      .select("nid").as[Long].collect()
    lsh.toSeq shouldBe Seq(10L) // opposite-signature neighbor unreachable
  }

  test("int8 quantization round-trips within tolerance and preserves cosine") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, dir, "embeddings").limit(100)
    val q = emb.select(col("vec_id"), col("embedding"),
      VectorOps.dequantInt8(VectorOps.quantizeInt8(col("embedding"))).as("deq"))
    // per-element error bounded by scale/2 = max|x|/254
    val errs = q.select(
        VectorOps.cosine(col("embedding"), col("deq")).as("cos_orig_deq"))
      .as[Double].collect()
    errs.foreach(_ should be >= 0.999)
    // quantized ranks stay close to exact ranks: top-1 overlap on most queries
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpusF = emb.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
    val corpusQ = emb.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("nid"),
        VectorOps.dequantInt8(VectorOps.quantizeInt8(col("embedding"))).as("nvec"))
    def top1(c: org.apache.spark.sql.DataFrame) =
      VectorOps.bruteForceTopK(queries, c, 1, "qid", "qvec", "nid", "nvec")
        .select("qid", "nid").as[(Long, Long)].collect().toMap
    val (exact, quant) = (top1(corpusF), top1(corpusQ))
    val agree = exact.count { case (k, v) => quant.get(k).contains(v) }
    agree.toDouble / exact.size should be >= 0.75
  }

  test("ivfTrainStep recomputes centroids as member means, flat-shaped") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(3f, 0f)),    // cluster 0 → mean (2, 0)
      (3L, Seq(0f, 2f)), (4L, Seq(0f, 4f)), (5L, Seq(0f, 6f))) // cluster 1 → (0, 4)
      .toDF("vec_id", "embedding")
    val got = SimilaritySearch.ivfTrainStep(corpus, Seq(Seq(1f, 0f), Seq(0f, 1f)))
      .select("cluster", "dim", "mu", "n_members")
      .as[(Int, Int, Double, Long)].collect().sortBy(r => (r._1, r._2))
    got.toSeq shouldBe Seq(
      (0, 0, 2.0, 2L), (0, 1, 0.0, 2L),
      (1, 0, 0.0, 3L), (1, 1, 4.0, 3L))
  }

  test("ivfTrain converges on separable data and keeps empty clusters alive") {
    // two tight groups far apart; deliberately poor init (both seeds near
    // group A) — Lloyd must still move one centroid onto each group
    val corpus = ((1 to 20).map(i => (i.toLong, Seq(10f + (i % 3), 1f))) ++
      (21 to 40).map(i => (i.toLong, Seq(1f, 10f + (i % 3))))).toDF("vec_id", "embedding")
    val init = Seq(Seq(1f, 0.1f), Seq(0.1f, 1f))
    val trained = SimilaritySearch.ivfTrain(corpus, init, iters = 3)
    trained should have length 2
    // after training, each group's members assign to a distinct centroid
    val assigned = SimilaritySearch.ivfAssign(corpus, trained)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    (1 to 20).map(i => assigned(i.toLong)).toSet should have size 1
    (21 to 40).map(i => assigned(i.toLong)).toSet should have size 1
    assigned(1L) should not be assigned(21L)
    // an empty cluster keeps its previous centroid instead of vanishing
    val oneSided = (1 to 5).map(i => (i.toLong, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val kept = SimilaritySearch.ivfTrain(oneSided,
      Seq(Seq(1f, 0f), Seq(-1f, 0f)), iters = 2)
    kept(1) shouldBe Seq(-1f, 0f)
  }

  test("ivfAssign maps a vector equal to a centroid to that cluster") {
    val centroids = Seq(Seq(1f, 0f), Seq(0f, 1f))
    val df = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 2f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val got = SimilaritySearch.ivfAssign(df, centroids)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    got shouldBe Map(1L -> 0, 2L -> 1, 3L -> 0)
  }

  test("VectorStores.adaptive serves the broadcast store under budget, the persisted index past it") {
    import graft.store.{BroadcastBruteForceStore, IvfFlatIndexStore, VectorStores}
    // the RAG index shape: (document_id, chunks, embedding)
    val indexed = (0 until 40).map { i =>
      (f"docs/d$i%02d.md", s"chunk text $i",
        Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat))
    }.toDF("document_id", "chunks", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-adapt").toString

    // generous budget → exact in-memory store (the reference's KB-scale
    // corpus regime); nothing written to the index path
    val small = VectorStores.adaptive(indexed, s"$path/small")
    small shouldBe a[BroadcastBruteForceStore]
    new java.io.File(s"$path/small/payload").exists() shouldBe false

    // 1-byte budget → the persisted IVF-Flat index is built and served
    val big = VectorStores.adaptive(indexed, s"$path/big",
      broadcastBytes = 1L)
    big shouldBe an[IvfFlatIndexStore]
    new java.io.File(s"$path/big/payload").exists() shouldBe true
    big.size shouldBe 40

    // driver-side point search through the index matches the broadcast
    // store hit-for-hit when numCandidates covers the corpus (the exact
    // regime — same cosine, same ordering contract)
    val q = Seq.tabulate(8)(j => math.sin(7 * 8 + j).toFloat).toArray
    val viaIndex = big.search(q, 3, numCandidates = 1000)
    val viaBroadcast = small.search(q, 3, numCandidates = 1000)
    viaIndex.map(_.document_id) shouldBe viaBroadcast.map(_.document_id)
    viaIndex.map(_.chunks) shouldBe viaBroadcast.map(_.chunks)
    viaIndex.zip(viaBroadcast).foreach { case (a, b) =>
      a.score shouldBe b.score +- 1e-9
    }

    // batch serving: the scale path returns the chunk payload and reads
    // the index partition-pruned (no corpus broadcast in the plan)
    val queries = indexed.limit(3).select(
      col("document_id").as("qid"), col("embedding").as("qvec"))
    val batch = big.asInstanceOf[IvfFlatIndexStore]
      .searchBatch(queries, k = 2, numCandidates = 1000)
    batch.columns.toSeq shouldBe
      Seq("qid", "nid", "rank", "score", "document_id", "chunks")
    batch.count() shouldBe 6
    val plan = batch.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should not include "BroadcastNestedLoop"
    // rank 1 of a corpus-member query is itself at cosine 1 (nid is the
    // chunk-unique hash; the payload carries the document id back)
    batch.filter(col("rank") === 1)
      .select(col("qid"), col("document_id")).as[(String, String)].collect()
      .foreach { case (qid, doc) => doc shouldBe qid }
  }
}

/** MMR diversified top-k: greedy λ-tradeoff semantics, determinism,
  * reduction to plain top-k at λ=1. */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  // corpus: n1/n2 near-identical (redundant pair), n3 orthogonal-ish,
  // all decently relevant to the query (1,0,0)
  private def frames = {
    val queries = Seq((0L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0.05f, 0f)),      // best rel
      (11L, Array(1f, 0.06f, 0f)),      // near-duplicate of 10
      (12L, Array(0.6f, 0.8f, 0f)),     // diverse, lower rel
      (13L, Array(0.5f, 0f, 0.87f))     // diverse, lowest rel
    ).toDF("vec_id", "embedding")
    (queries, corpus)
  }

  test("MMR demotes the near-duplicate of an already-picked result") {
    val (q, c) = frames
    val picks = graft.operators.SimilaritySearch
      .mmrTopK(q, c, k = 3, lambda = 0.5, candN = 4,
        "vec_id", "embedding", "vec_id", "embedding")
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    // plain top-3 would be (10, 11, 12); MMR's second pick must skip the
    // near-duplicate 11 for a diverse result
    picks.head shouldBe 10L
    picks(1) should not be 11L
    picks should contain theSameElementsInOrderAs
      Seq(10L, picks(1), picks(2)) // shape: 3 distinct picks
    picks.distinct should have size 3
  }

  test("lambda = 1 reduces MMR to plain cosine top-k") {
    val (q, c) = frames
    val mmr = graft.operators.SimilaritySearch
      .mmrTopK(q, c, k = 3, lambda = 1.0, candN = 4,
        "vec_id", "embedding", "vec_id", "embedding")
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    val plain = graft.functions.VectorOps.bruteForceTopK(
        q.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        c.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        3, "qid", "qvec", "nid", "nvec")
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    mmr shouldBe plain
  }

  test("exact-duplicate candidates tie-break to the smaller nid, k caps at the candidate count") {
    val q = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val c = Seq((21L, Array(1f, 0.1f)), (20L, Array(1f, 0.1f)))
      .toDF("vec_id", "embedding")
    val res = graft.operators.SimilaritySearch
      .mmrTopK(q, c, k = 2, lambda = 0.7, candN = 8,
        "vec_id", "embedding", "vec_id", "embedding")
      .orderBy("rank").select("nid", "rank").as[(Long, Int)].collect().toSeq
    res shouldBe Seq((20L, 1), (21L, 2))
  }

  test("null or zero-norm vectors never reach the greedy selection; NaN cannot crash it") {
    // zero-norm corpus entry: its cosine is NULL — it must be excluded,
    // not passed to the UDF as a null double (NPE) or a fake score
    val q = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val c = Seq((10L, Array(1f, 0.1f)), (11L, Array(0f, 0f)),
      (12L, Array(0.5f, 0.8f))).toDF("vec_id", "embedding")
    val picks = graft.operators.SimilaritySearch
      .mmrTopK(q, c, k = 3, lambda = 0.5, candN = 8,
        "vec_id", "embedding", "vec_id", "embedding")
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    picks should contain theSameElementsAs Seq(10L, 12L) // 11 excluded
    // a NULL query embedding yields no picks (rel is NULL for all)
    val qNull = Seq((0L, Option.empty[Array[Float]])).toDF("vec_id", "embedding")
    graft.operators.SimilaritySearch
      .mmrTopK(qNull, c, k = 2, lambda = 0.5, candN = 8,
        "vec_id", "embedding", "vec_id", "embedding")
      .count() shouldBe 0L
    // NaN scores stop the greedy loop instead of indexing arr(-1)
    graft.operators.SimilaritySearch.mmrGreedy(
      Seq((1L, Double.NaN, Array(1f, 0f)), (2L, Double.NaN, Array(0f, 1f))),
      lambda = 0.5, k = 2) shouldBe Seq.empty
    // store seam: zero-norm query returns no hits; zero-norm corpus
    // entries are skipped
    val store = new graft.store.BroadcastBruteForceStore(Array(
      ("a", "", Array(1f, 0f)), ("z", "", Array(0f, 0f))))
    store.searchDiverse(Array(0f, 0f), 2, 0.5) shouldBe empty
    store.searchDiverse(Array(1f, 0f), 2, 0.5).map(_.document_id) shouldBe Seq("a")
  }

  test("duplicate corpus rows with one nid fill at most one diversified slot") {
    // the same chunk reaching a md5-keyed corpus twice (replayed
    // append): without the dedup, both copies are separate candidates
    // and the greedy loop picks the literal duplicate at rank 2
    val q = Seq((0L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (10L, Array(1f, 0.05f, 0f)), (10L, Array(1f, 0.05f, 0f)), // dup nid
      (12L, Array(0.6f, 0.8f, 0f))).toDF("vec_id", "embedding")
    val picks = graft.operators.SimilaritySearch
      .mmrTopK(q, c, k = 2, lambda = 0.5, candN = 4,
        "vec_id", "embedding", "vec_id", "embedding")
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    picks shouldBe Seq(10L, 12L)
    // the re-rank form: duplicated candidate rows neither double-pick
    // nor fan out the payload join-back
    val cand = Seq(
      (0L, "a", 0.9, Array(1f, 0.05f, 0f), "docA", "chunk a"),
      (0L, "a", 0.9, Array(1f, 0.05f, 0f), "docA", "chunk a"), // replay
      (0L, "b", 0.5, Array(0.6f, 0.8f, 0f), "docB", "chunk b"))
      .toDF("qid", "nid", "score", "nvec", "document_id", "chunks")
    val rr = graft.operators.SimilaritySearch.mmrRerankHits(cand, k = 2, 0.5)
      .orderBy("rank").select("nid", "rank").as[(String, Int)].collect().toSeq
    rr shouldBe Seq(("a", 1), ("b", 2))
  }

  test("recallAtK counts replayed duplicate hits once — recall never exceeds 1") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L)).toDF("qid", "nid")
    // the single true hit appears twice (at-least-once replay artifact)
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 99L)).toDF("qid", "nid")
    val rows = graft.operators.SimilaritySearch.recallAtK(exact, approx, k = 3)
      .as[(Long, Int, Double)].collect().toSeq
    rows shouldBe Seq((1L, 1, 1.0 / 3.0))
  }

  test("selection state is bounded by candN: plan shuffles once on qid, corpus side broadcast") {
    val (q, c) = frames
    val plan = graft.operators.SimilaritySearch
      .mmrTopK(q, c, k = 2, lambda = 0.7, candN = 3,
        "vec_id", "embedding", "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin") // candidate gen only
    // exactly one hash exchange on qid: the window + collect_list share it
    "Exchange hashpartitioning\\(qid".r.findAllIn(plan).size shouldBe 1
  }

  test("maxSimTopK: self-retrieval at score ≈ tokens, doc token order irrelevant") {
    import graft.operators.SimilaritySearch
    val rnd = new scala.util.Random(7L)
    def v() = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val base = (0 until 6).map(i => (i.toLong, v()))
    // doc 100 = doc 0's tokens (4 slices of 4 dims) in reversed order:
    // MaxSim is a set-match over tokens, so its score vs any query is
    // IDENTICAL to doc 0's — late interaction's defining invariance
    val permuted = base.head._2.grouped(4).toSeq.reverse.flatten.toArray
    val corpus = (base ++ Seq((100L, permuted))).toDF("vec_id", "embedding")
    val queries = base.take(2).toDF("vec_id", "embedding")
    val got = SimilaritySearch.maxSimTopK(queries, corpus, k = 7,
        tokens = 4, dim = 16)
      .as[(Long, Long, Int, Double)].collect()
    // every query finds itself first (unit slices: self-dot = 1 per
    // token up to float-normalization error)
    val self = got.filter(r => r._1 == r._2)
    self.map(_._3).toSet shouldBe Set(1)
    all(self.map(_._4)) shouldBe 4.0 +- 1e-4
    // permuted doc scores exactly equal to doc 0's against both queries
    got.groupBy(_._1).values.foreach { rs =>
      val by = rs.map(r => r._2 -> r._4).toMap
      by(100L) shouldBe by(0L)
    }
  }

  test("sliceNormalize fails loudly on a wrong-length vector instead of shifting slices") {
    import graft.operators.SimilaritySearch
    val bad = Seq((1L, Array.fill(15)(1f)), (2L, Array.fill(16)(1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      bad.select(SimilaritySearch.sliceNormalize($"embedding", 4, 16))
        .collect()
    }
    e.getMessage should include("expected a 16-dim vector, got 15")
  }

  test("maxSimRerankTopK with candN >= corpus equals exact maxSimTopK") {
    import graft.operators.SimilaritySearch
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter($"vec_id" < 4)
    val c = emb.filter($"vec_id" >= 8)
    val exact = SimilaritySearch.maxSimTopK(q, c, k = 5, tokens = 8, dim = 64)
      .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    val rr = SimilaritySearch.maxSimRerankTopK(q, c, k = 5,
        candN = Int.MaxValue, tokens = 8, dim = 64)
      .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    rr shouldBe exact
    // a real candidate budget: exactly k rows per query, and every hit
    // comes from the stage-1 pooled-cosine shortlist (no recall claim —
    // on these random embeddings pooled cosine is independent of
    // MaxSim, so the shortlist containment IS the two-stage contract)
    val approx = SimilaritySearch.maxSimRerankTopK(q, c, k = 5,
        candN = 16, tokens = 8, dim = 64)
      .as[(Long, Long, Int, Double)].collect()
    approx.groupBy(_._1).foreach { case (_, rs) =>
      rs.map(_._3).sorted.toSeq shouldBe (1 to 5)
    }
    val short16 = graft.functions.VectorOps.bruteForceTopK(
        q.select($"vec_id".as("qid"), $"embedding".as("qvec")),
        c.select($"vec_id".as("nid"), $"embedding".as("nvec")),
        16, "qid", "qvec", "nid", "nvec")
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    approx.foreach(r => short16 should contain((r._1, r._2)))
  }
}
