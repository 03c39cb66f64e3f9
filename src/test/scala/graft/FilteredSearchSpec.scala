package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.SimilaritySearch

/** Metadata-filtered vector search: pre-filtering semantics and the
  * equi-join plan shape (the filtered-search scale story). */
class FilteredSearchSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = graft.core.Tables.load(spark, dir, "embeddings")

  test("filteredTopK equals brute force restricted per query to its label subset") {
    val queries = emb.filter(col("vec_id") < 8)
    val corpus = emb.filter(col("vec_id") >= 32)
    val got = SimilaritySearch.filteredTopK(queries, corpus, k = 5, "label")
      .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    // reference: per query, an exact scan restricted to its label
    // subset (post-filtering an UNLIMITED-k exact scan ≡ pre-filtering),
    // one query at a time — no join involved
    val labels = queries.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val expected = labels.toSeq.flatMap { case (qid, lb) =>
      val qvec = queries.filter(col("vec_id") === qid)
        .select(col("embedding")).as[Array[Float]].head()
      corpus.filter(col("label") === lb)
        .select(col("vec_id"),
          round(VectorOps.cosine(lit(qvec), col("embedding")), 6).as("sim"))
        .as[(Long, Double)].collect().toSeq
        .sortBy { case (nid, sim) => (-sim, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, sim), i) => (qid, nid, i + 1, sim) }
    }.sorted
    got shouldBe expected
  }

  test("filteredTopK plans a hash equi-join on the filter key, never a cross join") {
    val plan = SimilaritySearch.filteredTopK(
        emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 32),
        k = 5, "label")
      .queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include("HashJoin") // broadcast or shuffled — Catalyst's pick
  }

  test("persisted-index payloadFilter: exact filtered top-k, predicate pushed to the scan") {
    val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-fidx").toString
    SimilaritySearch.writeIvfFlatIndex(emb, centroids, path,
      payloadCols = Seq("label"))
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val lb = emb.groupBy(col("label")).count()
      .orderBy(col("count").desc, col("label")).select(col("label"))
      .as[Int].head()

    val filtered = SimilaritySearch.searchIvfFlatIndex(spark, path, queries,
      k = 5, numCandidates = Int.MaxValue, "qid", "qvec",
      payloadCols = Seq("label"), payloadFilter = Some(col("label") === lb))
    // full probe depth ⇒ exact top-k of the label subset: bit-identical
    // to brute force over the filtered corpus
    val brute = VectorOps.bruteForceTopK(queries,
        emb.filter(col("label") === lb)
          .select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        5, "qid", "qvec", "nid", "nvec")
    filtered.select(col("qid"), col("nid"), col("rank"))
        .as[(Long, Long, Int)].collect().sorted.toSeq shouldBe
      brute.select(col("qid"), col("nid"), col("rank"))
        .as[(Long, Long, Int)].collect().sorted.toSeq
    // every returned row satisfies the predicate
    filtered.select(col("label")).distinct()
      .as[Int].collect().toSeq shouldBe Seq(lb)
    // the predicate reached the parquet scan (row-group skipping),
    // stacked on the cluster partition filter
    val plan = filtered.queryExecution.executedPlan.toString
    plan should include regex "PushedFilters: \\[[^\\]]*EqualTo\\(label"
    plan should include regex "PartitionFilters: \\[[^\\]]*cluster"
  }

  test("a partial-depth filtered search over a tombstoned index reads only its probed cell") {
    val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-fprune").toString
    SimilaritySearch.writeIvfFlatIndex(
      emb.select(col("vec_id").cast("string").as("nid"), col("embedding"),
        col("label")),
      centroids, path, cId = "nid", payloadCols = Seq("label"))
    // the query's own row is its best hit until it is deleted
    SimilaritySearch.deleteFromIvfFlatIndex(spark, path, Seq("0"))
    val (qvec, lb) = emb.filter(col("vec_id") === 0)
      .select(col("embedding"), col("label")).as[(Seq[Float], Int)].head()
    val q = Seq((0L, qvec)).toDF("qid", "qvec")
    // ~120-row cells: numCandidates = 100 probes one cell of the four
    SimilaritySearch.nProbeFor(
      SimilaritySearch.cellCountsOf(spark, path), 100) shouldBe 1
    def search = SimilaritySearch.searchIvfFlatIndex(spark, path, q,
      k = 5, numCandidates = 100, "qid", "qvec",
      payloadCols = Seq("label"), payloadFilter = Some(col("label") === lb))
    partitionsRead(search, "cluster") shouldBe 1L
    val hits = search.select(col("nid"), col("label"))
      .as[(String, Int)].collect()
    hits should not be empty
    hits.map(_._2).distinct shouldBe Array(lb)
    hits.map(_._1) should not contain "0"
  }

  test("a query whose label matches nothing returns no rows (pre-filter, not padded)") {
    val queries = Seq((1L, Array(1f, 0f), 99)).toDF("vec_id", "embedding", "label")
    val corpus = Seq((10L, Array(1f, 0f), 1), (11L, Array(0f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    SimilaritySearch.filteredTopK(queries, corpus, k = 3, "label")
      .count() shouldBe 0L
  }
}
