package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch

/** Persisted IVFADC index: write → meta round-trip → pruned search
  * parity with the in-memory operator. */
class IvfPqIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** The cells a query batch probes, computed on the driver: each
    * query's `nProbe` nearest centroids by cosine (ties to the larger
    * cell id, the operators' rule). */
  private def probedCells(queries: org.apache.spark.sql.DataFrame,
                          cents: Seq[Seq[Float]], nProbe: Int): Set[Int] = {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    queries.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq)
      .flatMap(v => cents.indices.sortBy(i => (-cos(v, cents(i)), -i))
        .take(nProbe))
      .toSet
  }

  test("index round-trips exactly; pruned search equals in-memory IVFADC") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val cbRows = SimilaritySearch.ivfResiduals(
        emb.filter(col("vec_id") >= 4 && col("vec_id") < 36), centroids)
      .orderBy(col("vec_id")).select(col("rvec")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val books = (0 until 16).map(j => cbRows.map(_.slice(j * 4, j * 4 + 4)))
    val corpus = emb.filter(col("vec_id") >= 36)
    val queries = emb.filter(col("vec_id") < 5)
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-index")
      .toString

    SimilaritySearch.writeIvfPqIndex(corpus, centroids, books, path)
    // sidecar artifacts round-trip bit-exactly (parquet floats)
    val (rCents, rBooks) = SimilaritySearch.readIvfPqIndexMeta(spark, path)
    rCents shouldBe centroids
    rBooks shouldBe books

    val fromIndex = SimilaritySearch.searchIvfPqIndex(spark, path, queries,
      k = 5, nProbe = 2)
    val inMem = SimilaritySearch.ivfPqAdcTopK(queries, corpus, centroids,
      books, k = 5, nProbe = 2)
    fromIndex.as[(Long, Long, Int)].collect().sorted shouldBe
      inMem.as[(Long, Long, Int)].collect().sorted

    // probe pruning reaches the DISK scan, by the scan's own metric:
    // the codes scan reads exactly the probed cells' partition
    // directories, so unprobed cells' files are never touched — the
    // point of partitioning the index by cluster
    partitionsRead(fromIndex, "cluster") shouldBe
      probedCells(queries, centroids, 2).size
    // a single query at nProbe=1 probes its own cell: 1 of the 4 read
    val one = SimilaritySearch.searchIvfPqIndex(spark, path,
      queries.filter(col("vec_id") === 0), k = 5, nProbe = 1)
    partitionsRead(one, "cluster") shouldBe 1L
    one.count() shouldBe 5L
    // the pruning is in the plan: building the search frame runs one
    // job, the codes' parquet footer read — no probed-cells collect
    jobsDuring(SimilaritySearch.searchIvfPqIndex(spark, path, queries,
      k = 5, nProbe = 2)) shouldBe 1

    // a stored index must also serve a DIFFERENT query batch (no
    // residual coupling to the batch that built it)
    val q2 = emb.filter(col("vec_id") >= 5 && col("vec_id") < 9)
    val fromIndex2 = SimilaritySearch.searchIvfPqIndex(spark, path, q2,
      k = 3, nProbe = 1)
    val inMem2 = SimilaritySearch.ivfPqAdcTopK(q2, corpus, centroids,
      books, k = 3, nProbe = 1)
    fromIndex2.as[(Long, Long, Int)].collect().sorted shouldBe
      inMem2.as[(Long, Long, Int)].collect().sorted
  }

  test("OPQ rotation carries onto the persisted IVFADC index: sidecar round-trip, search parity, recall A/B") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 36)
    // train R on the RESIDUAL distribution — IVFADC quantizes residuals,
    // and rotating the full vectors rotates the residuals identically
    // (R·v − R·c = R·(v−c)), so "rotate everything, train on residuals"
    // is exactly OPQ-for-IVFADC. Training on the raw vectors instead
    // decorrelates the wrong covariance and measurably LOSES recall on
    // this fixture (0.29 vs the raw arm's 0.31).
    val rawCents = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val r = SimilaritySearch.opqTrainRotation(
      SimilaritySearch.ivfResiduals(corpus, rawCents)
        .select(col("vec_id"), col("rvec")),
      "rvec", m = 16)
    def rot(df: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.rotateVectors(df, "embedding", r, "rvec")
        .select(col("vec_id"), col("rvec").as("embedding"))

    // rotated-space geometry: centroids and residual codebooks trained
    // on the projected frames — the documented writeIvfPqIndex contract.
    // Codebooks = sample-residual seeds + one Lloyd round over the
    // CORPUS residuals (the recipe whose OPQ lift OpqSpec measures),
    // identical in both A/B arms below.
    def trainBooks(corp: org.apache.spark.sql.DataFrame,
                   seedSrc: org.apache.spark.sql.DataFrame,
                   cents: Seq[Seq[Float]]): Seq[Seq[Seq[Float]]] = {
      val seedRows = SimilaritySearch.ivfResiduals(seedSrc, cents)
        .orderBy(col("vec_id")).select(col("rvec")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val seeds = (0 until 16).map(j => seedRows.map(_.slice(j * 4, j * 4 + 4)))
      SimilaritySearch.pqTrain(
        SimilaritySearch.ivfResiduals(corp, cents)
          .select(col("vec_id"), col("rvec")),
        seeds, iters = 1, vecCol = "rvec")
    }
    val rCents = rot(emb.filter(col("vec_id") < 4)).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val rBooks = trainBooks(rot(corpus),
      rot(emb.filter(col("vec_id") >= 4 && col("vec_id") < 36)), rCents)

    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-opq")
      .toString
    // the UNROTATED corpus goes in; the index rotates it at build time
    SimilaritySearch.writeIvfPqIndex(corpus, rCents, rBooks, path,
      rotation = Some(r))
    // R round-trips the sidecar bit-exactly (parquet doubles)
    SimilaritySearch.readIvfPqRotation(spark, path) shouldBe Some(r)

    // parity: persisted search on RAW queries ≡ in-memory rotated ADC
    val queries = emb.filter(col("vec_id") < 5)
    val fromIndex = SimilaritySearch.searchIvfPqIndex(spark, path, queries,
      k = 5, nProbe = 2)
    val inMem = SimilaritySearch.ivfPqAdcTopK(rot(queries), rot(corpus),
      rCents, rBooks, k = 5, nProbe = 2)
    fromIndex.as[(Long, Long, Int)].collect().sorted shouldBe
      inMem.as[(Long, Long, Int)].collect().sorted
    // the codes scan reads the cells the ROTATED queries probe
    partitionsRead(fromIndex, "cluster") shouldBe
      probedCells(rot(queries), rCents, 2).size

    // recall A/B at the same code budget: OPQ index vs plain index,
    // graded against exact cosine top-5 with the in-engine operator
    val qs = emb.filter(col("vec_id") < 20)
    val books = trainBooks(corpus,
      emb.filter(col("vec_id") >= 4 && col("vec_id") < 36), rawCents)
    val plainPath = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-plain").toString
    SimilaritySearch.writeIvfPqIndex(corpus, rawCents, books, plainPath)
    val exact = graft.functions.VectorOps.bruteForceTopK(
      qs.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      corpus.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
      5, "qid", "qvec", "nid", "nvec")
    def meanRecall(p: String): Double =
      SimilaritySearch.recallAtK(exact,
          SimilaritySearch.searchIvfPqIndex(spark, p, qs, k = 5, nProbe = 2),
          k = 5)
        .agg(avg(col("recall"))).as[Double].head()
    val (rawR, opqR) = (meanRecall(plainPath), meanRecall(path))
    info(f"persisted IVFADC recall@5 (nProbe=2): plain $rawR%.3f vs OPQ $opqR%.3f")
    // deterministic fixture: the 0.31 -> 0.36 lift is pinned, not luck
    opqR should be > rawR

    // rebuilding WITHOUT a rotation at a previously-OPQ path must
    // delete the stale sidecar — otherwise searchIvfPqIndex would
    // silently rotate queries against un-rotated codes
    SimilaritySearch.writeIvfPqIndex(corpus, rawCents, books, path)
    SimilaritySearch.readIvfPqRotation(spark, path) shouldBe None
    SimilaritySearch.searchIvfPqIndex(spark, path, queries, k = 5, nProbe = 2)
      .as[(Long, Long, Int)].collect().sorted shouldBe
      SimilaritySearch.searchIvfPqIndex(spark, plainPath, queries,
        k = 5, nProbe = 2).as[(Long, Long, Int)].collect().sorted
  }

  test("centroid-drift migration: re-encoded index equals a fresh build over the live rows, tombstones carried") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val corpus = emb.select(concat(lit("n"), col("vec_id")).as("nid"),
      col("embedding"), col("vec_id"))
    def cents(from: Int, n: Int): Seq[Seq[Float]] =
      emb.filter(col("vec_id") >= from && col("vec_id") < from + n)
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
    val (c1, c2) = (cents(0, 4), cents(8, 5)) // drifted geometry: 4 → 5 cells

    val path = java.nio.file.Files.createTempDirectory("graft-mig-old").toString
    SimilaritySearch.writeIvfFlatIndex(corpus, c1, path, "nid", "embedding",
      payloadCols = Seq("vec_id"))
    // lifecycle noise the migration must absorb: a replayed append
    // (duplicate nids) and tombstoned deletes
    SimilaritySearch.appendIvfFlatBatch(
      corpus.filter(col("vec_id") < 10), path, "nid", "embedding",
      Seq("vec_id"))
    SimilaritySearch.deleteFromIvfFlatIndex(spark, path, Seq("n3", "n40"))

    val newPath = java.nio.file.Files.createTempDirectory("graft-mig-new").toString
    SimilaritySearch.migrateIvfFlatIndex(spark, path, c2, newPath)

    // parity oracle: a FRESH build over the old index's live rows
    val freshPath = java.nio.file.Files.createTempDirectory("graft-mig-fresh").toString
    SimilaritySearch.writeIvfFlatIndex(
      corpus.filter(!col("nid").isin("n3", "n40")), c2, freshPath,
      "nid", "embedding", payloadCols = Seq("vec_id"))

    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def res(p: String) =
      SimilaritySearch.searchIvfFlatIndex(spark, p, queries, k = 5,
          numCandidates = Int.MaxValue, "qid", "qvec",
          payloadCols = Seq("vec_id"))
        .select(col("qid"), col("nid"), col("rank"))
        .as[(Long, String, Int)].collect().sorted.toSeq
    val migrated = res(newPath)
    migrated shouldBe res(freshPath)
    // deleted rows stayed deleted WITHOUT a tombstones sidecar, and
    // replays are gone from the payload — the migration applied both
    // physically
    migrated.map(_._2) should not contain "n3"
    new java.io.File(s"$newPath/tombstones").exists() shouldBe false
    // cellstats reflect the re-encoded truth (5 cells, live row total)
    SimilaritySearch.cellCountsOf(spark, newPath).sum shouldBe (emb.count() - 2)
    // in-place re-encode is refused: the live index must stay intact
    an[IllegalArgumentException] should be thrownBy
      SimilaritySearch.migrateIvfFlatIndex(spark, path, c2, path)
  }

  test("ivfFlatIndexReport counts cells, dups, tombstones and live rows exactly") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val corpus = emb.select(concat(lit("n"), col("vec_id")).as("nid"),
      col("embedding"))
    val cents = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-report").toString
    SimilaritySearch.writeIvfFlatIndex(corpus, cents, path, "nid", "embedding")
    val n = corpus.count()
    // replayed append of 10 rows (dups) + tombstone of 2 nids, one of
    // which ("n1") is ALSO among the duplicated rows — the
    // double-subtraction trap the live count must avoid
    SimilaritySearch.appendIvfFlatBatch(
      emb.filter(col("vec_id") < 10)
        .select(concat(lit("n"), col("vec_id")).as("nid"), col("embedding")),
      path, "nid", "embedding")
    SimilaritySearch.deleteFromIvfFlatIndex(spark, path, Seq("n1", "n20"))

    val r = SimilaritySearch.ivfFlatIndexReport(spark, path).collect().head
    r.getAs[Long]("cells") shouldBe 4L
    r.getAs[Long]("total_rows") shouldBe n + 10
    r.getAs[Long]("dup_rows") shouldBe 10L
    r.getAs[Long]("tombstones") shouldBe 2L
    r.getAs[Long]("live_rows") shouldBe n - 2 // dedup first, then delete
    r.getAs[Long]("files") should be >= 4L    // base + appended segments
    r.getAs[Double]("imbalance") should be >= 1.0
    // after compaction the report reads clean
    SimilaritySearch.compactIvfFlatIndex(spark, path)
    val c = SimilaritySearch.ivfFlatIndexReport(spark, path).collect().head
    c.getAs[Long]("dup_rows") shouldBe 0L
    c.getAs[Long]("tombstones") shouldBe 0L
    c.getAs[Long]("total_rows") shouldBe n - 2
    c.getAs[Long]("live_rows") shouldBe n - 2
    c.getAs[Long]("files") shouldBe 4L // one file per cell
    // delete EVERYTHING, compact: the report must read zeros, not NPE
    val allNids = spark.read.parquet(s"$path/payload")
      .select(col("nid")).as[String].collect().toSeq
    SimilaritySearch.deleteFromIvfFlatIndex(spark, path, allNids)
    SimilaritySearch.compactIvfFlatIndex(spark, path)
    val z = SimilaritySearch.ivfFlatIndexReport(spark, path).collect().head
    z.getAs[Long]("total_rows") shouldBe 0L
    z.getAs[Long]("live_rows") shouldBe 0L
    z.getAs[Double]("imbalance") shouldBe 0.0
    // serving the emptied index: zero hits, never a schema crash
    SimilaritySearch.searchIvfFlatIndex(spark, path,
      emb.filter(col("vec_id") < 2)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      k = 3, numCandidates = Int.MaxValue, "qid", "qvec")
      .count() shouldBe 0L
    // a WRONG path stays a pointed error — never a confidently-empty
    // report
    an[Exception] should be thrownBy
      SimilaritySearch.ivfFlatIndexReport(spark, s"$path-no-such-dir")
        .collect()
  }

  test("nProbeFor maps numCandidates to a conservative probe depth") {
    SimilaritySearch.nProbeFor(Seq(100L, 50L, 200L), 40) shouldBe 1
    SimilaritySearch.nProbeFor(Seq(100L, 50L, 200L), 60) shouldBe 2
    SimilaritySearch.nProbeFor(Seq(100L, 50L, 200L), 150) shouldBe 2
    SimilaritySearch.nProbeFor(Seq(100L, 50L, 200L), 151) shouldBe 3
    // >= corpus: every cell probed (the exact-search regime)
    SimilaritySearch.nProbeFor(Seq(100L, 50L, 200L), Int.MaxValue) shouldBe 3
    SimilaritySearch.nProbeFor(Seq.empty, 10) shouldBe 1
    SimilaritySearch.nProbeFor(Seq(5L), 0) shouldBe 1
  }

  test("IVF-Flat index: exact parity at full probe depth, real pruning below it") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft-ivfflat").toString
    SimilaritySearch.writeIvfFlatIndex(emb, centroids, path)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

    // numCandidates >= corpus probes every cell → BIT-IDENTICAL to the
    // exact broadcast scan (IVF-Flat scores raw vectors; same cosine
    // expression, same tie-break)
    val exact = SimilaritySearch.searchIvfFlatIndex(spark, path, queries,
      k = 3, numCandidates = Int.MaxValue, "qid", "qvec")
    val brute = graft.functions.VectorOps.bruteForceTopK(queries,
        emb.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        3, "qid", "qvec", "nid", "nvec")
      .select(col("qid"), col("nid"), col("rank").cast("int"))
    exact.select(col("qid"), col("nid"), col("rank"))
      .as[(Long, Long, Int)].collect().sorted shouldBe
      brute.as[(Long, Long, Int)].collect().sorted

    // the payload scan is PARTITION-pruned, and the plan has no corpus
    // broadcast (the over-budget pin: PartitionFilters, not a
    // BroadcastNestedLoopJoin of the whole index)
    val plan = exact.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("cluster")
    plan should not include "BroadcastNestedLoop"

    // a small numCandidates probes FEWER cells: the conservative depth
    // for ~120-row cells at numCandidates=100 is 1 — and every returned
    // neighbour must come from the query's own probed (nearest) cell
    val pruned = SimilaritySearch.searchIvfFlatIndex(spark, path, queries,
      k = 3, numCandidates = 100, "qid", "qvec")
    val assign = SimilaritySearch.ivfAssign(emb, centroids)
      .select(col("vec_id"), col("cluster"))
      .as[(Long, Int)].collect().toMap
    val got = pruned.select(col("qid"), col("nid"))
      .as[(Long, Long)].collect()
    got should not be empty
    // nProbe=1 ⇒ each query's candidates share its own coarse cell
    got.foreach { case (qid, nid) =>
      withClue(s"qid=$qid nid=$nid") {
        assign(nid) shouldBe assign(qid)
      }
    }
    // the pruning, by the scan's own metric: a single query at nProbe=1
    // probes exactly its own cell, so the payload scan reads 1 of the 4
    // partition directories
    val oneQ = queries.filter(col("qid") === 0)
    val one = SimilaritySearch.searchIvfFlatIndex(spark, path, oneQ,
      k = 3, numCandidates = 100, "qid", "qvec")
    partitionsRead(one, "cluster") shouldBe 1L
    // and the single-query search still returns k neighbours from it
    val oneRes = one.select(col("nid")).as[Long].collect()
    oneRes should have length 3
    oneRes.foreach(nid => assign(nid) shouldBe assign(0L))
  }

  test("payload pinning: unpinned stores see appends immediately; pinned ones on refreshStats") {
    import graft.store.IvfFlatIndexStore
    def emb(i: Int): Seq[Float] = Seq.tabulate(8)(j => math.sin(i * 8 + j).toFloat)
    val rows = (0 until 12).map(i => (f"d$i%02d", s"chunk $i", emb(i)))
    def prep(rs: Seq[(String, String, Seq[Float])]) =
      rs.toDF("document_id", "chunks", "embedding").select(
        graft.store.VectorStores.chunkKey("document_id", "chunks").as("__nid"),
        col("document_id"), col("chunks"), col("embedding"))
    val path = java.nio.file.Files.createTempDirectory("graft-pin-idx").toString
    SimilaritySearch.writeIvfFlatIndex(prep(rows.take(8)),
      rows.take(2).map(_._3), path, "__nid", "embedding",
      Seq("document_id", "chunks"))

    val unpinned = new IvfFlatIndexStore(spark, path)
    val pinned = new IvfFlatIndexStore(spark, path).pinPayload()
    def hits(st: IvfFlatIndexStore) =
      st.search(emb(10).toArray, 1, numCandidates = Int.MaxValue)
        .map(_.document_id)
    hits(unpinned) should not be Seq("d10") // not indexed yet
    // append the remaining rows
    SimilaritySearch.appendIvfFlatBatch(prep(rows.drop(8)), path,
      "__nid", "embedding", Seq("document_id", "chunks"))
    // unpinned re-lists per search: the append is visible at once
    hits(unpinned) shouldBe Seq("d10")
    // pinned serves the frozen listing until refreshStats re-pins
    hits(pinned) should not be Seq("d10")
    pinned.refreshStats()
    hits(pinned) shouldBe Seq("d10")
    // empty the index entirely, compact (payload dir left with no
    // parquet files), then the documented maintenance step: refreshStats
    // must re-pin an empty frame, not crash schema inference
    val allNids = spark.read.parquet(s"$path/payload")
      .select(col("nid")).collect().map(_.getString(0)).toSeq
    SimilaritySearch.deleteFromIvfFlatIndex(spark, path, allNids)
    SimilaritySearch.compactIvfFlatIndex(spark, path)
    noException should be thrownBy pinned.refreshStats()
    hits(pinned) shouldBe Seq.empty
  }

  test("index merge: segments fold into one index equal to the single build") {
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val a = tmp("graft-merge-a"); val b = tmp("graft-merge-b")
    val target = tmp("graft-merge-t")
    // content-keyed rows, the index convention tombstones share
    val prep = emb.select(md5(col("vec_id").cast("string")).as("nid"),
      col("embedding"), col("vec_id"))
    def build(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      SimilaritySearch.writeIvfFlatIndex(df, centroids, path,
        "nid", "embedding", payloadCols = Seq("vec_id"))
    // two segments with an OVERLAP (rows 200-249 in both) — the
    // regional/backfill shape; content-keyed rows must merge to one
    build(prep.filter(col("vec_id") < 250), a)
    build(prep.filter(col("vec_id") >= 200), b)
    // a tombstone in a source must not survive the merge
    val victimNid = prep.filter(col("vec_id") === 42)
      .select(col("nid")).as[String].collect().head
    SimilaritySearch.deleteFromIvfFlatIndex(spark, a, Seq(victimNid))

    SimilaritySearch.mergeIvfFlatIndexes(spark, Seq(a, b), target)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def res(path: String) = SimilaritySearch.searchIvfFlatIndex(spark, path,
        queries, k = 3, numCandidates = Int.MaxValue, "qid", "qvec",
        payloadCols = Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("rank"))
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val whole2 = tmp("graft-merge-whole2")
    build(prep.filter(col("vec_id") =!= 42), whole2)
    res(target) shouldBe res(whole2) // dedup + tombstone both honored
    // merged payload: no duplicated nids, tombstones sidecar cleared
    val pay = spark.read.parquet(s"$target/payload")
    pay.count() shouldBe pay.dropDuplicates("nid").count()
    new java.io.File(s"$target/tombstones").exists() shouldBe false
    // cellstats reflect the merged truth
    SimilaritySearch.cellCountsOf(spark, target).sum shouldBe pay.count()
    // the parquet footer really carries the nid bloom filter (the
    // tombstone anti-join / replay-dedup point-probe structure) and
    // nid-sorted row groups (tight min/max page stats): offsets ≥ 0
    // only when the writer option took effect
    locally {
      import scala.jdk.CollectionConverters._
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      val part = files(new java.io.File(s"$target/payload"))
        .filter(_.getName.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getAbsolutePath),
          spark.sparkContext.hadoopConfiguration))
      try {
        val cols = reader.getRowGroups.asScala.head.getColumns.asScala
        val nidCol = cols.find(_.getPath.toDotString == "nid").get
        nidCol.getBloomFilterOffset should be >= 0L
        reader.getBloomFilterDataReader(reader.getRowGroups.asScala.head)
          .readBloomFilter(nidCol) should not be null
      } finally reader.close()
    }
    // fold-into-live: merging (target, b) INTO target is a no-op here
    // (b ⊆ target already) and must not corrupt the live index
    SimilaritySearch.mergeIvfFlatIndexes(spark, Seq(target, b), target)
    res(target) shouldBe res(whole2)
    // geometry mismatch refuses loudly
    val alt = tmp("graft-merge-alt")
    SimilaritySearch.writeIvfFlatIndex(prep,
      centroids.map(_.map(_ + 1f)), alt, "nid", "embedding",
      payloadCols = Seq("vec_id"))
    an[IllegalArgumentException] should be thrownBy
      SimilaritySearch.mergeIvfFlatIndexes(spark, Seq(a, alt), tmp("x"))
  }
}
