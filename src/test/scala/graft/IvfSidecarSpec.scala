package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch
import graft.store.IvfFlatIndexStore

/** The vector index's driver-sized sidecars (centroids, cellstats,
  * codebooks, rotation): one small file each, read and written without
  * a Spark job, bit-exact, never cached — and the probe-depth contract
  * they feed. */
class IvfSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private val payload = Seq("document_id", "chunks")

  /** (nid, embedding, document_id, chunks) rows; the nid doubles as the
    * document id and the chunk text. */
  private def corpus(rows: Seq[(String, Seq[Float])]): DataFrame =
    rows.map { case (n, v) => (n, v, n, n) }
      .toDF("nid", "embedding", "document_id", "chunks")

  private def build(rows: Seq[(String, Seq[Float])], cents: Seq[Seq[Float]],
                    path: String): Unit =
    SimilaritySearch.writeIvfFlatIndex(corpus(rows), cents, path,
      cId = "nid", cVec = "embedding", payloadCols = payload)

  private def ranked(df: DataFrame): Seq[(Long, String, Int)] =
    df.select(col("qid").cast("long"), col("nid"), col("rank"))
      .as[(Long, String, Int)].collect().sortBy(r => (r._1, r._3)).toSeq

  test("sidecars round-trip floats, doubles and longs bit-exactly") {
    val rnd = new scala.util.Random(11)
    val floats = Seq(0f, -0f, Float.MinPositiveValue, -Float.MinPositiveValue,
      java.lang.Float.MIN_NORMAL, Float.MaxValue, Float.MinValue,
      Float.PositiveInfinity, Float.NegativeInfinity) ++
      Seq.fill(200)(java.lang.Float.intBitsToFloat(rnd.nextInt())).filterNot(_.isNaN) ++
      Seq.fill(50)(java.lang.Float.intBitsToFloat(rnd.nextInt(0x800000))) // subnormals
    val doubles = Seq(0d, -0d, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.MaxValue, Double.MinValue,
      Double.PositiveInfinity, Double.NegativeInfinity) ++
      Seq.fill(200)(java.lang.Double.longBitsToDouble(rnd.nextLong())).filterNot(_.isNaN) ++
      Seq.fill(50)(java.lang.Double.longBitsToDouble(rnd.nextLong() & 0xfffffffffffffL))
    val longs = Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(50)(rnd.nextLong())
    val path = tmp("sidecar-bits")
    (1 to 20).foreach { round =>
      // ragged blocks of ragged rows (a codebook's subspaces may differ
      // in ksub), empty rows and blocks included
      def blocks[T](pool: Seq[T]): Seq[Seq[Seq[T]]] =
        Seq.fill(rnd.nextInt(4))(Seq.fill(rnd.nextInt(5))(
          Seq.fill(rnd.nextInt(7))(pool(rnd.nextInt(pool.size)))))
      val (f, d, l) = (blocks(floats), blocks(doubles), blocks(longs))
      SimilaritySearch.writeSidecar(spark, path, "f", f)
      SimilaritySearch.writeSidecar(spark, path, "d", d)
      SimilaritySearch.writeSidecar(spark, path, "l", l)
      withClue(s"round $round: ") {
        SimilaritySearch.readSidecar[Float](spark, path, "f")
          .map(_.map(_.map(java.lang.Float.floatToRawIntBits))) shouldBe
          f.map(_.map(_.map(java.lang.Float.floatToRawIntBits)))
        SimilaritySearch.readSidecar[Double](spark, path, "d")
          .map(_.map(_.map(java.lang.Double.doubleToRawLongBits))) shouldBe
          d.map(_.map(_.map(java.lang.Double.doubleToRawLongBits)))
        SimilaritySearch.readSidecar[Long](spark, path, "l") shouldBe l
      }
    }
    // every value of each pool, in one block
    SimilaritySearch.writeSidecar(spark, path, "f", Seq(Seq(floats)))
    SimilaritySearch.readSidecar[Float](spark, path, "f").head.head
      .map(java.lang.Float.floatToRawIntBits) shouldBe
      floats.map(java.lang.Float.floatToRawIntBits)
    SimilaritySearch.writeSidecar(spark, path, "d", Seq(Seq(doubles)))
    SimilaritySearch.readSidecar[Double](spark, path, "d").head.head
      .map(java.lang.Double.doubleToRawLongBits) shouldBe
      doubles.map(java.lang.Double.doubleToRawLongBits)
    // a sidecar read as the wrong element type is refused by name
    intercept[IllegalStateException](
      SimilaritySearch.readSidecar[Long](spark, path, "f"))
      .getMessage should include("not a graft index sidecar")
    // no temp file is left behind by the atomic replace
    new java.io.File(path).list().filter(_.contains(".tmp")) shouldBe empty
  }

  test("reading and writing each sidecar runs no Spark job") {
    val path = tmp("sidecar-jobs")
    val cents = Seq(Seq(1f, 0f), Seq(0f, 1f))
    val books = Seq(Seq(Seq(0.5f), Seq(-0.5f)), Seq(Seq(0.25f), Seq(-0.25f), Seq(0f)))
    val rot = Seq(Seq(0d, 1d), Seq(-1d, 0d))
    def none(tag: String)(f: => Any): Unit =
      withClue(s"$tag: ")(jobsDuring(f) shouldBe 0)
    none("write centroids")(SimilaritySearch.writeSidecar(spark, path, "centroids", Seq(cents)))
    none("write codebooks")(SimilaritySearch.writeSidecar(spark, path, "codebooks", books))
    none("write rotation")(SimilaritySearch.writeSidecar(spark, path, "rotation", Seq(rot)))
    none("write cellstats")(SimilaritySearch.writeSidecar(spark, path, "cellstats",
      Seq(Seq(Seq(3L, 0L)))))
    none("read centroids")(SimilaritySearch.centroidsOf(spark, path) shouldBe cents)
    none("read codebooks + centroids")(
      SimilaritySearch.readIvfPqIndexMeta(spark, path) shouldBe ((cents, books)))
    none("read rotation")(SimilaritySearch.readIvfPqRotation(spark, path) shouldBe Some(rot))
    none("read cellstats")(SimilaritySearch.cellCountsOf(spark, path) shouldBe Seq(3L, 0L))
  }

  test("empty cells count toward the probe depth: numCandidates >= corpus stays exact") {
    // cells 2 and 3 are empty, and they are the query's nearest cells
    val cents = Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(-1f, 0f), Seq(0f, -1f))
    val rows = Seq("a" -> Seq(1f, 0.1f), "b" -> Seq(0.9f, -0.2f),
      "c" -> Seq(0.6f, 0.5f), "d" -> Seq(0.2f, 1f), "e" -> Seq(-0.1f, 1f))
    val path = tmp("sidecar-empty-cells")
    build(rows, cents, path)
    SimilaritySearch.cellCountsOf(spark, path) shouldBe Seq(3L, 2L, 0L, 0L)
    val q = Seq((0L, Seq(-1f, -0.1f))).toDF("qid", "qvec")
    val exact = ranked(SimilaritySearch.bruteForceTopK(q,
        corpus(rows), 3, "qid", "qvec", "nid", "embedding")
      .select(col("qid"), col("nid"), col("rank")))
    exact should have size 3
    ranked(SimilaritySearch.searchIvfFlatIndex(spark, path, q, k = 3,
      numCandidates = Int.MaxValue, qId = "qid", qVec = "qvec")) shouldBe exact
    ranked(new IvfFlatIndexStore(spark, path)
      .searchBatch(q, k = 3, numCandidates = Int.MaxValue)) shouldBe exact
  }

  test("an index rebuilt in place is served with its new centroids by an existing store") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 40).map(i =>
      f"n$i%02d" -> Seq.fill(4)(rnd.nextGaussian().toFloat))
    val q = (0 until 6).map(i => (i.toLong, Seq.fill(4)(rnd.nextGaussian().toFloat)))
      .toDF("qid", "qvec")
    val path = tmp("sidecar-rebuild")
    build(rows, rows.take(2).map(_._2), path)
    val store = new IvfFlatIndexStore(spark, path)
    store.searchBatch(q, 3, numCandidates = Int.MaxValue).collect()
    // re-train: four cells instead of two
    val newCents = rows.slice(10, 14).map(_._2)
    build(rows, newCents, path)
    val fresh = tmp("sidecar-rebuild-fresh")
    build(rows, newCents, fresh)
    val freshStore = new IvfFlatIndexStore(spark, fresh)
    store.size shouldBe 40
    Seq(Int.MaxValue, 12).foreach { nc =>
      withClue(s"numCandidates $nc: ") {
        ranked(store.searchBatch(q, 3, numCandidates = nc)) shouldBe
          ranked(freshStore.searchBatch(q, 3, numCandidates = nc))
      }
    }
    ranked(store.searchBatch(q, 3, numCandidates = Int.MaxValue)) shouldBe
      ranked(SimilaritySearch.bruteForceTopK(q, corpus(rows), 3,
        "qid", "qvec", "nid", "embedding"))
  }

  test("an index whose sidecars are parquet directories is refused by name, and a rebuild in place serves it") {
    val cents = Seq(Seq(1f, 0f), Seq(0f, 1f))
    val rows = Seq("a" -> Seq(1f, 0.2f), "b" -> Seq(0.1f, 1f))
    val path = tmp("sidecar-parquet-era")
    build(rows, cents, path)
    // the layout an older build wrote: each sidecar a parquet table
    Seq("centroids", "cellstats").foreach { n =>
      org.apache.commons.io.FileUtils.forceDelete(new java.io.File(s"$path/$n"))
    }
    cents.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cid", "vec")
      .write.parquet(s"$path/centroids")
    Seq((0, 1L), (1, 1L)).toDF("cluster", "count").write.parquet(s"$path/cellstats")
    val q = Seq((0L, Seq(1f, 0f))).toDF("qid", "qvec")
    def refused(f: => Any): String = intercept[IllegalStateException](f).getMessage
    refused(SimilaritySearch.searchIvfFlatIndex(spark, path, q, k = 1,
      qId = "qid", qVec = "qvec")) should (include("'centroids'") and
      include("parquet directory") and include("Rebuild the index"))
    refused(new IvfFlatIndexStore(spark, path).size) should
      (include("'cellstats'") and include("Rebuild the index"))
    refused(SimilaritySearch.appendIvfFlatBatch(corpus(rows), path, "nid",
      "embedding", payload)) should include("Rebuild the index")
    // the rebuild the message names replaces the directories
    build(rows, cents, path)
    ranked(new IvfFlatIndexStore(spark, path).searchBatch(q, 1)) shouldBe
      Seq((0L, "a", 1))
  }
}
