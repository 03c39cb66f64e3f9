package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import scala.jdk.CollectionConverters._

import graft.operators.{MlPredict, SimilaritySearch}
import graft.providers.MockEmbedder
import graft.store.IvfFlatIndexStore
import graft.streaming.{IndexSync, StreamingOps}

/** Versioned vector-index upsert (seq rows + seq tombstones) and the
  * CDC snapshot → index sync pump: the reference's Atlas-upsert loop
  * over this library's own stores. */
class IndexSyncSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private def emb = graft.core.Tables.load(spark, dir, "embeddings")

  /** Exact-regime search (every cell probed) → (qid, nid) pairs. */
  private def topk(path: String, queries: DataFrame,
                   k: Int = 3): Seq[(Long, String, Int)] =
    SimilaritySearch.searchIvfFlatIndex(spark, path, queries, k,
        numCandidates = Int.MaxValue, qId = "vec_id", qVec = "embedding")
      .select(col("qid").cast("long"), col("nid"), col("rank"))
      .as[(Long, String, Int)].collect().sortBy(r => (r._1, r._3)).toSeq

  private def centroidsFrom(df: DataFrame, n: Int): Seq[Seq[Float]] =
    df.orderBy(col("vec_id")).limit(n)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toSeq).toSeq

  test("upsertIvfFlatBatch: a re-upserted key serves its NEW vector, the old version is masked") {
    val path = tmp("idx-upsert")
    val corpus = emb.filter(col("vec_id") >= 10 && col("vec_id") < 60)
      .select(col("vec_id").cast("string").as("nid"), col("embedding"))
    val cents = centroidsFrom(emb, 4)
    SimilaritySearch.writeIvfFlatIndex(corpus, cents, path,
      cId = "nid", cVec = "embedding")
    // re-point key 10 at the vector of 200 (not in the corpus), seq 5
    val upd = emb.filter(col("vec_id") === 200)
      .select(lit("10").as("nid"), col("embedding"), lit(5L).as("seq"))
    SimilaritySearch.upsertIvfFlatBatch(upd, path,
      cId = "nid", cVec = "embedding", cSeq = "seq")
    // querying with 200's own vector must now hit "10" at rank 1 with
    // score 1 — the OLD version of 10 is masked, not duplicated
    val q = emb.filter(col("vec_id") === 200)
    val hits = topk(path, q)
    hits.head shouldBe ((200L, "10", 1))
    hits.count(_._2 == "10") shouldBe 1
    // report: exactly one garbage row (the superseded version), live
    // count unchanged
    val rep = SimilaritySearch.ivfFlatIndexReport(spark, path)
      .collect().head
    rep.getAs[Long]("live_rows") shouldBe 50L
    rep.getAs[Long]("dup_rows") shouldBe 1L
    // compaction collapses to the live version and clears tombstones;
    // served results identical with no tombstone left to mask
    SimilaritySearch.compactIvfFlatIndex(spark, path)
    topk(path, q) shouldBe hits
    SimilaritySearch.ivfFlatIndexReport(spark, path).collect().head
      .getAs[Long]("dup_rows") shouldBe 0L
  }

  test("versioned tombstones: delete-at-seq hides the key, a later re-insert resurrects it") {
    val path = tmp("idx-resurrect")
    val corpus = emb.filter(col("vec_id") >= 10 && col("vec_id") < 40)
      .select(col("vec_id").cast("string").as("nid"), col("embedding"))
    SimilaritySearch.writeIvfFlatIndex(corpus, centroidsFrom(emb, 4), path,
      cId = "nid", cVec = "embedding")
    val q = emb.filter(col("vec_id") === 15)
    topk(path, q).head._2 shouldBe "15"
    // delete key 15 at seq 3
    SimilaritySearch.tombstoneIvfFlat(spark, path,
      Seq(("15", 3L)).toDF("nid", "seq"))
    topk(path, q).map(_._2) should not contain "15"
    // re-insert at seq 7 — resurrects (the legacy seq-less delete
    // could not do this before compaction)
    val back = emb.filter(col("vec_id") === 15)
      .select(lit("15").as("nid"), col("embedding"), lit(7L).as("seq"))
    SimilaritySearch.upsertIvfFlatBatch(back, path,
      cId = "nid", cVec = "embedding", cSeq = "seq")
    topk(path, q).head shouldBe ((15L, "15", 1))
  }

  /** Every parquet file under `dir` (recursively) read on its own, so
    * each file's own footer schema is checked, not a merged one. */
  private def parquetFiles(dir: String): Seq[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[DataFrame]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) out += spark.read.parquet(f.toString)
    }
    out.result()
  }

  /** The one on-disk format the index readers accept: every payload
    * file carries a non-null `__useq`, every tombstone a non-null seq. */
  private def assertIndexFormat(path: String): Unit = {
    val payload = parquetFiles(s"$path/payload")
    payload should not be empty
    payload.foreach { f =>
      f.columns should contain("__useq")
      f.filter(col("__useq").isNull).count() shouldBe 0L
    }
    parquetFiles(s"$path/tombstones").foreach { f =>
      f.columns should contain("seq")
      f.filter(col("seq").isNull).count() shouldBe 0L
    }
  }

  test("every index writer leaves versioned payload files and seq-carrying tombstones") {
    val path = tmp("idx-format")
    def rows(lo: Int, hi: Int) =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id").cast("string").as("nid"), col("embedding"))
    val cents = centroidsFrom(emb, 4)
    SimilaritySearch.writeIvfFlatIndex(rows(0, 30), cents, path,
      cId = "nid", cVec = "embedding")
    assertIndexFormat(path)
    SimilaritySearch.appendIvfFlatBatch(rows(30, 40), path,
      cId = "nid", cVec = "embedding")
    assertIndexFormat(path)
    SimilaritySearch.upsertIvfFlatBatch(
      rows(5, 8).withColumn("seq", lit(3L)), path,
      cId = "nid", cVec = "embedding", cSeq = "seq")
    assertIndexFormat(path)
    SimilaritySearch.tombstoneIvfFlat(spark, path,
      Seq(("9", 4L)).toDF("nid", "seq"))
    SimilaritySearch.deleteFromIvfFlatIndex(spark, path, Seq("1", "2"))
    assertIndexFormat(path)
    val merged = tmp("idx-format-merged")
    SimilaritySearch.mergeIvfFlatIndexes(spark, Seq(path), merged)
    assertIndexFormat(merged)
    val migrated = tmp("idx-format-migrated")
    SimilaritySearch.migrateIvfFlatIndex(spark, path,
      centroidsFrom(emb.filter(col("vec_id") >= 50), 3), migrated)
    assertIndexFormat(migrated)
    SimilaritySearch.compactIvfFlatIndex(spark, path)
    assertIndexFormat(path)
    // all three rewrites serve the same live rows: 40 built/appended,
    // less the 3 deleted (1, 2, 9); the upserts replace versions
    Seq(path, merged, migrated).foreach { p =>
      SimilaritySearch.ivfFlatIndexReport(spark, p).collect().head
        .getAs[Long]("live_rows") shouldBe 37L
    }
  }

  test("a payload without the __useq version column is refused by name") {
    val path = tmp("idx-unversioned")
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 20)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 2), path, cId = "nid", cVec = "embedding")
    // strip the column by rewriting the payload
    val stripped = spark.read.parquet(s"$path/payload").drop("__useq")
      .persist()
    stripped.count()
    stripped.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/payload.stripped")
    stripped.unpersist()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/payload"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/payload.stripped"),
      new org.apache.hadoop.fs.Path(s"$path/payload"))
    intercept[IllegalStateException] {
      topk(path, emb.filter(col("vec_id") === 1))
    }.getMessage should include("unversioned IVF-Flat payload")
    intercept[IllegalStateException] {
      SimilaritySearch.compactIvfFlatIndex(spark, path)
    }.getMessage should include("unversioned IVF-Flat payload")
  }

  test("merge and migrate of a fully-deleted index write zero-row cellstats and serve zero hits") {
    val path = tmp("idx-alldeleted")
    val corpus = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").cast("string").as("nid"), col("embedding"))
    val cents = centroidsFrom(emb, 2)
    SimilaritySearch.writeIvfFlatIndex(corpus, cents, path,
      cId = "nid", cVec = "embedding")
    SimilaritySearch.deleteFromIvfFlatIndex(spark, path,
      (0 until 6).map(_.toString))
    val merged = tmp("idx-alldeleted-merged")
    SimilaritySearch.mergeIvfFlatIndexes(spark, Seq(path), merged)
    val migrated = tmp("idx-alldeleted-migrated")
    SimilaritySearch.migrateIvfFlatIndex(spark, path, cents, migrated)
    Seq(merged, migrated).foreach { p =>
      SimilaritySearch.cellCountsOf(spark, p).count(_ > 0L) shouldBe 0
      topk(p, emb.filter(col("vec_id") < 3)) shouldBe empty
    }
  }

  test("the shared payload swap raises when a rename returns false") {
    val root = new org.apache.hadoop.fs.Path(tmp("idx-swap"))
    val local = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // an object-store-like filesystem: rename fails by returning false
    val noRename = new org.apache.hadoop.fs.FilterFileSystem(local) {
      override def rename(src: org.apache.hadoop.fs.Path,
                          dst: org.apache.hadoop.fs.Path): Boolean = false
    }
    val live = new org.apache.hadoop.fs.Path(root, "payload")
    val staged = new org.apache.hadoop.fs.Path(root, "payload.staged")
    local.mkdirs(live); local.mkdirs(staged)
    intercept[java.io.IOException] {
      SimilaritySearch.swapDir(noRename, staged, live)
    }.getMessage should include("rename")
    // the failed swap left the live dir where it was
    local.exists(live) shouldBe true
  }

  test("a null change seq raises instead of silently tombstoning the key forever") {
    val path = tmp("idx-nullseq")
    val corpus = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").cast("string").as("nid"), col("embedding"))
    SimilaritySearch.writeIvfFlatIndex(corpus, centroidsFrom(emb, 2), path,
      cId = "nid", cVec = "embedding")
    val bad = emb.filter(col("vec_id") === 1)
      .select(lit("1").as("nid"), col("embedding"),
        lit(null).cast("long").as("seq"))
    val err = intercept[Exception] {
      SimilaritySearch.upsertIvfFlatBatch(bad, path,
        cId = "nid", cVec = "embedding", cSeq = "seq")
    }
    err.getMessage should include("non-negative")
  }

  test("merge refuses sources with different payload columns instead of null-filling half the corpus") {
    val a = tmp("idx-merge-a"); val bIdx = tmp("idx-merge-b")
    val cents = centroidsFrom(emb, 2)
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").cast("string").as("nid"), col("embedding"),
          lit("x").as("tag")),
      cents, a, cId = "nid", cVec = "embedding", payloadCols = Seq("tag"))
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      cents, bIdx, cId = "nid", cVec = "embedding")
    val err = intercept[IllegalArgumentException] {
      SimilaritySearch.mergeIvfFlatIndexes(spark, Seq(a, bIdx),
        tmp("idx-merge-t"))
    }
    err.getMessage should include("different payload columns")
  }

  test("CDC snapshot → index sync: bootstrap, incremental upsert/delete, crash replay — all parity with a from-scratch rebuild") {
    implicit val ctx = spark.sqlContext
    val nul = null.asInstanceOf[Seq[Float]]
    val root = tmp("sync-store") + "/snap"
    val indexPath = tmp("sync-index")
    val cursor = tmp("sync-cursor") + "/cursor"
    val vecOf: Long => Seq[Float] = id =>
      emb.filter(col("vec_id") === id).select(col("embedding"))
        .collect().head.getSeq[Float](0).toSeq

    // the document store: ids 0..29 with their own vectors (payload is
    // the vector itself — identity embed; MlPredict embed composition
    // is ServeSpec/StreamingSpec territory)
    val input = MemoryStream[(Long, Long, String, Seq[Float])]
    val sink = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "embedding"), root,
        payloadCols = Seq("embedding"), keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      .start()
    // the empty index shell (centroids + empty versioned payload)
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 0)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 4), indexPath, cId = "nid", cVec = "embedding")

    def syncOnce(): Option[Long] = IndexSync.syncIndexFromSnapshot(
      spark, root, cursor, indexPath, IndexSync.identityEmbed)

    try {
      // batch 1: the base corpus
      input.addData((0L until 30L).map(i => (i, 1L, "upsert", vecOf(i))): _*)
      sink.processAllAvailable()
      syncOnce() shouldBe Some(0L)
      syncOnce() shouldBe None // caught up
      val q = emb.filter(col("vec_id") === 7)
      topk(indexPath, q).head._2 shouldBe "7"
      // the bootstrap pull must NOT tombstone its (all-new) keys — a
      // corpus-sized tombstone sidecar would ride every later search
      new java.io.File(s"$indexPath/tombstones").exists() shouldBe false

      // batch 2: update 7 → vector of 300, delete 8, insert 40
      input.addData((7L, 2L, "upsert", vecOf(300)),
        (8L, 2L, "delete", nul), (40L, 2L, "upsert", vecOf(40)))
      sink.processAllAvailable()
      syncOnce() shouldBe Some(1L)
      val hits7 = topk(indexPath, emb.filter(col("vec_id") === 300))
      hits7.head shouldBe ((300L, "7", 1))
      topk(indexPath, emb.filter(col("vec_id") === 8))
        .map(_._2) should not contain "8"
      topk(indexPath, emb.filter(col("vec_id") === 40)).head._2 shouldBe "40"

      // batch 3 applied to the store; the sync CRASHES before commit
      // (simulated: apply without committing via a throwaway cursor
      // copy is impossible — instead sync, then re-run the SAME window
      // by resetting the cursor), and the replay converges
      input.addData((9L, 3L, "upsert", vecOf(310)))
      sink.processAllAvailable()
      val fs = new org.apache.hadoop.fs.Path(cursor).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // remember the pre-sync cursor, sync, then restore and replay
      val before = spark.read.textFile(cursor).collect().head
      syncOnce() shouldBe Some(2L)
      val firstPass = topk(indexPath, emb.filter(col("vec_id") === 310))
      val out = fs.create(new org.apache.hadoop.fs.Path(cursor), true)
      try out.write(before.getBytes("UTF-8")) finally out.close()
      syncOnce() shouldBe Some(2L) // the replayed window
      topk(indexPath, emb.filter(col("vec_id") === 310)) shouldBe firstPass

      // PARITY: the synced index serves the same top-k as an index
      // rebuilt from scratch over the store's live snapshot
      val rebuilt = tmp("sync-rebuilt")
      val live = StreamingOps.readSnapshot(spark, root).get
        .select(col("doc_id").cast("string").as("nid"), col("embedding"))
      SimilaritySearch.writeIvfFlatIndex(live, centroidsFrom(emb, 4),
        rebuilt, cId = "nid", cVec = "embedding")
      val queries = emb.filter(col("vec_id") >= 300 && col("vec_id") < 310)
      topk(indexPath, queries, k = 5) shouldBe topk(rebuilt, queries, k = 5)

      // ...and compaction preserves exactly that serving state
      SimilaritySearch.compactIvfFlatIndex(spark, indexPath)
      topk(indexPath, queries, k = 5) shouldBe
        topk(rebuilt, queries, k = 5)
    } finally sink.stop()
  }

  test("a reader polling readSnapshot never trips over the sink's pointer swap") {
    implicit val ctx = spark.sqlContext
    val root = tmp("pointer-race") + "/snap"
    val input = MemoryStream[(Long, Long, String, String)]
    // every version is retained, so only the _CURRENT swap is under test
    val sink = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "text"), root,
        keepVersions = 64, numBuckets = 2)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      .start()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var publishing = true
    val reader = new Thread(() =>
      try while (publishing) {
        StreamingOps.readSnapshot(spark, root)
        reads.incrementAndGet()
      } catch { case t: Throwable => failure.set(t) })
    reader.setDaemon(true)
    try {
      reader.start()
      (1L to 50L).foreach { b =>
        input.addData((b % 7, b, "upsert", s"text $b"))
        sink.processAllAvailable()
      }
    } finally { publishing = false; reader.join(30000); sink.stop() }
    failure.get shouldBe null
    reads.get should be > 0L
    StreamingOps.readSnapshot(spark, root).get.count() shouldBe 7L
  }

  test("standingIndexSync: the rate-clocked standing pump keeps the index fresh across store mutations") {
    implicit val ctx = spark.sqlContext
    val base = tmp("standing")
    val root = s"$base/snap"
    val indexPath = s"$base/index"
    val input = MemoryStream[(Long, Long, String, Seq[Float])]
    val sink = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "embedding"), root,
        payloadCols = Seq("embedding"), keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation", s"$base/snap-ckpt").start()
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 0)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 4), indexPath, cId = "nid", cVec = "embedding")
    val pump = IndexSync.standingIndexSync(spark, root, s"$base/cursor",
        indexPath, IndexSync.identityEmbed, tickSeconds = 1)
      .option("checkpointLocation", s"$base/pump-ckpt").start()
    def vecOf(id: Long): Seq[Float] =
      emb.filter(col("vec_id") === id).select(col("embedding"))
        .collect().head.getSeq[Float](0).toSeq
    def served(qid: Long): Seq[String] =
      topk(indexPath, emb.filter(col("vec_id") === qid), k = 1).map(_._2)
    def awaitServed(pump: org.apache.spark.sql.streaming.StreamingQuery,
                    qid: Long, nid: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var ok = false
      while (!ok && System.nanoTime() < deadline) {
        // fail FAST (with the real error) if the pump died, instead of
        // burning the deadline on a query that will never serve
        pump.exception.foreach(e => fail(s"standing pump died: $e"))
        ok = scala.util.Try(served(qid) == Seq(nid)).getOrElse(false)
        if (!ok) Thread.sleep(300)
      }
      withClue(s"standing pump never served $nid for query $qid: ") {
        ok shouldBe true
      }
    }
    try {
      input.addData((0L until 20L).map(i => (i, 1L, "upsert", vecOf(i))): _*)
      sink.processAllAvailable()
      awaitServed(pump, 5L, "5") // bootstrap reached the index
      // mutate the store while both standing queries run: the pump's
      // next tick must carry the update without any manual pull
      input.addData((5L, 2L, "upsert", vecOf(400)))
      sink.processAllAvailable()
      awaitServed(pump, 400L, "5")
    } finally { pump.stop(); sink.stop() }
  }

  test("two pumps on one cursor: the loser raises before writing, crashed locks self-heal, a mid-drain steal is loud post-commit") {
    implicit val ctx = spark.sqlContext
    val base = tmp("sync-race")
    val root = s"$base/snap"
    val indexPath = s"$base/index"
    val cursor = s"$base/cursor"
    val lock = new org.apache.hadoop.fs.Path(s"$cursor.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vecOf(id: Long): Seq[Float] =
      emb.filter(col("vec_id") === id).select(col("embedding"))
        .collect().head.getSeq[Float](0).toSeq
    val input = MemoryStream[(Long, Long, String, Seq[Float])]
    val sink = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "embedding"), root,
        payloadCols = Seq("embedding"), keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation", s"$base/ckpt").start()
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 0)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 4), indexPath, cId = "nid", cVec = "embedding")
    try {
      input.addData((0L until 10L).map(i => (i, 1L, "upsert", vecOf(i))): _*)
      sink.processAllAvailable()
      // a FOREIGN pump holds the cursor lock: this pump must raise,
      // naming the owner, having written NOTHING (no payload files, no
      // cursor) — two concurrent appends into one parquet dir share
      // committer staging and can tear, so the loser cannot proceed
      locally {
        val o = fs.create(lock, false)
        try o.write("writer other-pump x-nonce\n".getBytes("UTF-8"))
        finally o.close()
      }
      val err = intercept[IllegalStateException] {
        IndexSync.syncIndexFromSnapshot(spark, root, cursor, indexPath,
          IndexSync.identityEmbed)
      }
      err.getMessage should include("held by pump 'other-pump'")
      new java.io.File(cursor).exists() shouldBe false
      SimilaritySearch.searchIvfFlatIndex(spark, indexPath,
        emb.filter(col("vec_id") === 5), 1, Int.MaxValue,
        qId = "vec_id", qVec = "embedding").count() shouldBe 0L
      fs.exists(lock) shouldBe true // the foreign lock is never deleted
      fs.delete(lock, false)
      // a lock from THIS pump's own writerId is a crashed predecessor
      // (ticks are serialized): reclaimed, the drain proceeds — the
      // standing pump's checkpointed restart self-heals
      locally {
        val o = fs.create(lock, false)
        try o.write("writer default dead-nonce\n".getBytes("UTF-8"))
        finally o.close()
      }
      IndexSync.syncIndexFromSnapshot(spark, root, cursor, indexPath,
        IndexSync.identityEmbed) shouldBe Some(0L)
      topk(indexPath, emb.filter(col("vec_id") === 5)).head._2 shouldBe "5"
      fs.exists(lock) shouldBe false // released after the commit
      // a same-writerId TWIN stealing the claim MID-DRAIN (it cannot
      // tell a live twin from a crash) must surface as a loud
      // post-commit error, not a silently torn index. The steal is
      // driven from the embed hook, which runs while the lock is held.
      input.addData((10L, 2L, "upsert", vecOf(10)))
      sink.processAllAvailable()
      val stealingEmbed: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = { df =>
        fs.delete(lock, false)
        val o = fs.create(lock, false)
        try o.write("writer default stolen-nonce\n".getBytes("UTF-8"))
        finally o.close()
        df
      }
      val err2 = intercept[IllegalStateException] {
        IndexSync.syncIndexFromSnapshot(spark, root, cursor, indexPath,
          stealingEmbed)
      }
      err2.getMessage should include("rewritten by another 'default' pump")
      // the window itself WAS applied and committed once — data intact
      topk(indexPath, emb.filter(col("vec_id") === 10)).head._2 shouldBe "10"
      spark.read.textFile(cursor).collect().head shouldBe "1"
      fs.delete(lock, false) // the stolen lock is the thief's to clean
      // distinct writerIds: the coexistence story — a second pump with
      // its own id simply raises on the first one's live lock
      locally {
        val o = fs.create(lock, false)
        try o.write("writer pump-a live-nonce\n".getBytes("UTF-8"))
        finally o.close()
      }
      intercept[IllegalStateException] {
        IndexSync.syncIndexFromSnapshot(spark, root, cursor, indexPath,
          IndexSync.identityEmbed, writerId = "pump-b")
      }.getMessage should include("held by pump 'pump-a'")
    } finally sink.stop()
  }

  test("bootstrap into a non-empty index: a crashed bootstrap's replay converges, a rebuilt store refuses loudly") {
    implicit val ctx = spark.sqlContext
    val base = tmp("sync-reboot")
    val indexPath = s"$base/index"
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 0)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 4), indexPath, cId = "nid", cVec = "embedding")
    def vecOf(id: Long): Seq[Float] =
      emb.filter(col("vec_id") === id).select(col("embedding"))
        .collect().head.getSeq[Float](0).toSeq
    def fill(root: String, ckpt: String, rows: Seq[(Long, Long)]): Unit = {
      val input = MemoryStream[(Long, Long, String, Seq[Float])]
      val sink = StreamingOps.snapshotUpsertSink(
          input.toDF.toDF("doc_id", "seq", "op", "embedding"), root,
          payloadCols = Seq("embedding"), keepVersions = 3, numBuckets = 4)
        .option("checkpointLocation", ckpt).start()
      try {
        input.addData(rows.map { case (i, s) => (i, s, "upsert", vecOf(i)) }: _*)
        sink.processAllAvailable()
      } finally sink.stop()
    }
    val rootA = s"$base/snapA"
    fill(rootA, s"$base/ckptA", (0L until 10L).map(i => (i, 2L)))
    val cursor = s"$base/cursor"
    IndexSync.syncIndexFromSnapshot(spark, rootA, cursor, indexPath,
      IndexSync.identityEmbed) shouldBe Some(0L)
    val served = topk(indexPath, emb.filter(col("vec_id") === 5))
    served.head._2 shouldBe "5"
    // a crashed BOOTSTRAP (index holds the first attempt's appends, the
    // cursor commit never landed — same state as deleting the cursor):
    // every index row is covered by the replayed pull (same key, same
    // seq), so the guard passes and the replay converges
    val fs = new org.apache.hadoop.fs.Path(cursor).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cursor), false)
    IndexSync.syncIndexFromSnapshot(spark, rootA, cursor, indexPath,
      IndexSync.identityEmbed) shouldBe Some(0L)
    topk(indexPath, emb.filter(col("vec_id") === 5)) shouldBe served
    // the store is REBUILT (new root: seqs restart lower, key 9 gone) —
    // a fresh-cursor bootstrap into the still-populated index would
    // leave key 9 and every seq-2 row served stale forever (bootstrap
    // writes no old-version tombstones). It must refuse loudly, before
    // writing anything.
    val rootB = s"$base/snapB"
    fill(rootB, s"$base/ckptB", (0L until 9L).map(i => (i, 1L)))
    fs.delete(new org.apache.hadoop.fs.Path(cursor), false)
    val err = intercept[IllegalStateException] {
      IndexSync.syncIndexFromSnapshot(spark, rootB, s"$base/cursorB",
        indexPath, IndexSync.identityEmbed)
    }
    err.getMessage should include("Reset the index")
    // nothing was applied: the index still serves the pre-refusal state
    topk(indexPath, emb.filter(col("vec_id") === 5)) shouldBe served
    // the documented fix — reset the index shell together with the
    // cursor — then the bootstrap against the rebuilt store succeeds
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 0)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 4), indexPath, cId = "nid", cVec = "embedding")
    IndexSync.syncIndexFromSnapshot(spark, rootB, s"$base/cursorB",
      indexPath, IndexSync.identityEmbed) shouldBe Some(0L)
    topk(indexPath, emb.filter(col("vec_id") === 5)).head._2 shouldBe "5"
    topk(indexPath, emb.filter(col("vec_id") === 9), k = 1)
      .map(_._2) should not contain "9"
  }

  test("bootstrap guard refinements: masked deletes replay cleanly, older covered versions get backfill tombstones, a shell rebuild clears stale tombstones") {
    implicit val ctx = spark.sqlContext
    val base = tmp("sync-guard2")
    val indexPath = s"$base/index"
    def shell(): Unit = SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 0)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 4), indexPath, cId = "nid", cVec = "embedding")
    shell()
    def vecOf(id: Long): Seq[Float] =
      emb.filter(col("vec_id") === id).select(col("embedding"))
        .collect().head.getSeq[Float](0).toSeq
    val nul = null.asInstanceOf[Seq[Float]]
    val root = s"$base/snap"
    val input = MemoryStream[(Long, Long, String, Seq[Float])]
    val sink = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "embedding"), root,
        payloadCols = Seq("embedding"), keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation", s"$base/ckpt").start()
    val cursor = s"$base/cursor"
    val fs = new org.apache.hadoop.fs.Path(cursor).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def sync(): Option[Long] = IndexSync.syncIndexFromSnapshot(
      spark, root, cursor, indexPath, IndexSync.identityEmbed)
    try {
      // era 1: keys 0..9, then key 3 deleted and key 5 re-pointed —
      // the index holds an uncompacted masked row for 3 and a
      // superseded (tombstoned) version of 5
      input.addData((0L until 10L).map(i => (i, 1L, "upsert", vecOf(i))): _*)
      sink.processAllAvailable()
      sync() shouldBe Some(0L)
      input.addData((3L, 2L, "delete", nul), (5L, 2L, "upsert", vecOf(400)))
      sink.processAllAvailable()
      sync() shouldBe Some(1L)
      // SAME-store re-bootstrap (cursor lost): the guard must judge the
      // SERVED rows — 3's masked payload row is not stale state, so
      // this replay passes instead of demanding an index rebuild
      fs.delete(new org.apache.hadoop.fs.Path(cursor), false)
      sync() shouldBe Some(1L)
      topk(indexPath, emb.filter(col("vec_id") === 3), k = 3)
        .map(_._2) should not contain "3"
      topk(indexPath, emb.filter(col("vec_id") === 400)).head._2 shouldBe "5"
      // COVERED-BUT-OLDER versions: rebuild the index shell, advance
      // the store (key 7 → vector of 410 at seq 3), sync, then lose the
      // cursor AFTER the store moved again — the re-bootstrap finds 7's
      // seq-3 row older than the pull's seq-4 and must BACKFILL a
      // tombstone so every search serves one version (the ranking only
      // collapses byte-identical copies, not a version with another
      // vector)
      input.addData((7L, 3L, "upsert", vecOf(410)))
      sink.processAllAvailable()
      sync() shouldBe Some(2L)
      input.addData((7L, 4L, "upsert", vecOf(420)))
      sink.processAllAvailable()
      fs.delete(new org.apache.hadoop.fs.Path(cursor), false)
      sync() shouldBe Some(3L)
      val hits7 = topk(indexPath, emb.filter(col("vec_id") === 420), k = 3)
      hits7.head._2 shouldBe "7"
      // without the backfill the seq-3 row (vector of 410) would also
      // serve; the tombstone at seq 3 masks it
      topk(indexPath, emb.filter(col("vec_id") === 410), k = 1)
        .head._2 should not be "7"
    } finally sink.stop()
    // SHELL REBUILD clears the tombstones sidecar: the pump wrote
    // tombstones above; a writeIvfFlatIndex at the same path must not
    // let that old era mask the new rows (version -1 < every old seq —
    // the whole rebuilt index would vanish from search)
    new java.io.File(s"$indexPath/tombstones").exists() shouldBe true
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 4), indexPath, cId = "nid", cVec = "embedding")
    new java.io.File(s"$indexPath/tombstones").exists() shouldBe false
    topk(indexPath, emb.filter(col("vec_id") === 15)).head._2 shouldBe "15"
  }

  test("a garbage (truncated) cursor lock reads as a crashed claim and is reclaimed") {
    implicit val ctx = spark.sqlContext
    val base = tmp("sync-badlock")
    val indexPath = s"$base/index"
    SimilaritySearch.writeIvfFlatIndex(
      emb.filter(col("vec_id") < 0)
        .select(col("vec_id").cast("string").as("nid"), col("embedding")),
      centroidsFrom(emb, 4), indexPath, cId = "nid", cVec = "embedding")
    def vecOf(id: Long): Seq[Float] =
      emb.filter(col("vec_id") === id).select(col("embedding"))
        .collect().head.getSeq[Float](0).toSeq
    val root = s"$base/snap"
    val input = MemoryStream[(Long, Long, String, Seq[Float])]
    val sink = StreamingOps.snapshotUpsertSink(
        input.toDF.toDF("doc_id", "seq", "op", "embedding"), root,
        payloadCols = Seq("embedding"), keepVersions = 3, numBuckets = 4)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      input.addData((0L until 5L).map(i => (i, 1L, "upsert", vecOf(i))): _*)
      sink.processAllAvailable()
      // a crash mid-create can truncate the lock to nothing (no
      // 'writer' line): owner parses to None — reclaimable, not a
      // crash or a false 'concurrent pump'
      val lock = new org.apache.hadoop.fs.Path(s"$base/cursor.lock")
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(lock, false).close()
      IndexSync.syncIndexFromSnapshot(spark, root, s"$base/cursor",
        indexPath, IndexSync.identityEmbed) shouldBe Some(0L)
      topk(indexPath, emb.filter(col("vec_id") === 2)).head._2 shouldBe "2"
      fs.exists(lock) shouldBe false
    } finally sink.stop()
  }

  test("the versioned tombstone mask does not break partition pruning or broadcast bounds") {
    val path = tmp("idx-maskplan")
    val corpus = emb.filter(col("vec_id") >= 10 && col("vec_id") < 200)
      .select(col("vec_id").cast("string").as("nid"), col("embedding"))
    SimilaritySearch.writeIvfFlatIndex(corpus, centroidsFrom(emb, 4), path,
      cId = "nid", cVec = "embedding")
    val upd = emb.filter(col("vec_id") === 300)
      .select(lit("10").as("nid"), col("embedding"), lit(5L).as("seq"))
    SimilaritySearch.upsertIvfFlatBatch(upd, path,
      cId = "nid", cVec = "embedding", cSeq = "seq")
    // a PRUNED search (small numCandidates) against the upserted index:
    // the mask's broadcast join must stack on the partition filter, not
    // replace it with a full scan or a nested-loop broadcast
    val res = SimilaritySearch.searchIvfFlatIndex(spark, path,
      emb.filter(col("vec_id") < 3), k = 3, numCandidates = 40,
      qId = "vec_id", qVec = "embedding")
    res.collect().length should be > 0
    val plan = res.queryExecution.executedPlan.toString
    // the NON-empty filter form: a bare include("PartitionFilters")
    // matches every partitioned scan's `PartitionFilters: []` metadata
    // and would pass even with pruning broken
    plan should include regex "PartitionFilters: \\[[^\\]]*cluster"
    (plan should not).include("BroadcastNestedLoop")
  }

  // ——— the freshness path's cost: text documents through the sink, the
  // pump and an embedding stage that counts what it is handed ———

  /** A text knowledge base on the freshness path: a 16-bucket snapshot
    * store fed by `snapshotUpsertSink`, an 8-cell IVF-Flat index shell,
    * and a pump whose embed stage is a [[TextCountingEmbedder]]. */
  private final class Kb(val base: String) {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = s"$base/snap"; val cursor = s"$base/cursor"
    val index = s"$base/index"
    val payload = Seq("document_id", "chunks")
    private val input = MemoryStream[(Long, Long, String, String, String)]
    val sink = StreamingOps.snapshotUpsertSink(
        input.toDF().toDF("doc_id", "seq", "op", "document_id", "chunks"),
        root, payloadCols = payload, numBuckets = 16)
      .option("checkpointLocation", s"$base/ckpt").start()
    val cents: Seq[Seq[Float]] = (0 until 8).map(c =>
      new MockEmbedder(Kb.dim).embed(s"centroid $c").toSeq)
    SimilaritySearch.writeIvfFlatIndex(
      Seq.empty[(String, Seq[Float], String, String)]
        .toDF("nid", "embedding", "document_id", "chunks"),
      cents, index, cId = "nid", cVec = "embedding", payloadCols = payload)
    private var seq = 0L

    /** One sink trigger over `edits` (doc, op, text; a delete's text is
      * ignored). */
    def publish(edits: Seq[(Long, String, String)]): Unit = {
      input.addData(edits.map { case (d, op, text) =>
        seq += 1
        (d, seq, op, s"kb/doc-$d", if (op == "delete") null else text)
      })
      sink.processAllAvailable()
    }
    def pull(): Option[Long] = IndexSync.syncIndexFromSnapshot(spark, root,
      cursor, index, df => MlPredict.withEmbedding(df,
        new TextCountingEmbedder(Kb.dim), "chunks", "embedding"),
      payloadCols = payload)
    def cursorAt: Long = spark.read.textFile(cursor).collect().head.trim.toLong

    /** The index serves what an index rebuilt from the store's live
      * snapshot serves (exact regime, every live doc's own text queried). */
    def assertParity(): Unit = {
      val live = StreamingOps.readSnapshot(spark, root).get
        .select(col("doc_id").cast("string").as("nid"), col("document_id"),
          col("chunks"))
      val rebuilt = s"$base/rebuilt-${java.util.UUID.randomUUID()}"
      SimilaritySearch.writeIvfFlatIndex(MlPredict.withEmbedding(live,
          new MockEmbedder(Kb.dim), "chunks", "embedding"),
        cents, rebuilt, cId = "nid", cVec = "embedding", payloadCols = payload)
      val q = MlPredict.withEmbedding(
          live.select(col("nid").cast("long").as("vec_id"), col("chunks")),
          new MockEmbedder(Kb.dim), "chunks", "embedding")
        .select("vec_id", "embedding")
      topk(index, q, k = 5) shouldBe topk(rebuilt, q, k = 5)
    }

    /** The parquet files under the index's tombstones/ and payload/ dirs. */
    def files(): Set[String] = Seq("tombstones", "payload").flatMap { d =>
      val dir = java.nio.file.Paths.get(index, d)
      if (!java.nio.file.Files.exists(dir)) Nil
      else {
        val walk = java.nio.file.Files.walk(dir)
        try walk.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toList
        finally walk.close()
      }
    }.toSet
  }
  private object Kb {
    val dim = 32
    def text(d: Long, v: Int): String =
      s"knowledge doc $d, revision $v: how to open a pricing call"
  }
  private def withKb(tag: String)(body: Kb => Unit): Unit = {
    val kb = new Kb(tmp(tag))
    try body(kb) finally kb.sink.stop()
  }

  test("the freshness path embeds each changed doc once; jobs per sink trigger and per pull are pinned") {
    withKb("kb-cost") { kb =>
      kb.publish((0L until 100L).map(d => (d, "upsert", Kb.text(d, 0))))
      TextCountingEmbedder.texts.set(0)
      val bootJobs = jobsDuring(kb.pull() shouldBe Some(0L))
      // the bootstrap embeds every live doc once: the payload write
      // reads one materialized batch, whose job also counts the cells
      TextCountingEmbedder.texts.get shouldBe 100L
      // a 15-edit window: 12 updates, 2 deletes, 1 insert
      val window = (0L until 12L).map(d => (d, "upsert", Kb.text(d, 1))) ++
        Seq((50L, "delete", ""), (51L, "delete", ""),
          (100L, "upsert", Kb.text(100L, 0)))
      val sinkJobs = jobsDuring(kb.publish(window))
      TextCountingEmbedder.texts.set(0)
      val pullJobs = jobsDuring(kb.pull() shouldBe Some(1L))
      // one embed per upserted doc, however many writes consume it
      TextCountingEmbedder.texts.get shouldBe 13L
      // shared 4-core test session. Sink trigger: one checkpoint job
      // carries the emptiness test and the touched buckets, then the
      // publish; pull: the changelog checkpoint, one tombstone append,
      // then the upsert's own checkpoint (which also counts its rows
      // per cell) and payload append; the sidecars are file reads and
      // writes, no job. A probe job or a re-evaluated embed creeping
      // back shows up here first.
      (sinkJobs, pullJobs, bootJobs) shouldBe ((4, 6, 5))
      kb.assertParity()
    }
  }

  test("degenerate pull windows (deletes only, upserts only, empty) append no empty file and commit the cursor") {
    withKb("kb-degenerate") { kb =>
      kb.publish((0L until 40L).map(d => (d, "upsert", Kb.text(d, 0))))
      kb.pull() shouldBe Some(0L)
      /** Pull one window; the files it added, each with at least one row. */
      def pullAdding(live: Long): Set[String] = {
        val before = kb.files()
        TextCountingEmbedder.texts.set(0)
        kb.pull() shouldBe Some(live)
        kb.cursorAt shouldBe live
        val added = kb.files() -- before
        added.foreach(f => withClue(f)(spark.read.parquet(f).count() should be > 0L))
        kb.assertParity()
        added
      }
      // deletes only: tombstones, no payload file, nothing embedded
      kb.publish(Seq((3L, "delete", ""), (4L, "delete", "")))
      val dels = pullAdding(1L)
      dels should not be empty
      all(dels) should include("/tombstones/")
      TextCountingEmbedder.texts.get shouldBe 0L
      // upserts only: old-version tombstones and payload rows
      kb.publish((10L until 14L).map(d => (d, "upsert", Kb.text(d, 1))))
      val ups = pullAdding(2L)
      ups.exists(_.contains("/tombstones/")) shouldBe true
      ups.exists(_.contains("/payload/")) shouldBe true
      TextCountingEmbedder.texts.get shouldBe 4L
      // an empty window: a rebucket publishes a snapshot whose changelog
      // is empty — the pull commits it and writes nothing
      StreamingOps.rebucketSnapshot(spark, kb.root, 32)
      pullAdding(3L) shouldBe empty
      TextCountingEmbedder.texts.get shouldBe 0L
      kb.pull() shouldBe None
    }
  }

  test("IvfFlatIndexStore after a pull: size grows, a search costs warm-search jobs") {
    withKb("kb-cellstats") { kb =>
      kb.publish((0L until 40L).map(d => (d, "upsert", Kb.text(d, 0))))
      kb.pull() shouldBe Some(0L)
      val store = new IvfFlatIndexStore(spark, kb.index)
      store.size shouldBe 40
      val q = (0L until 5L).map(d =>
          (d, new MockEmbedder(Kb.dim).embed(Kb.text(d, 1)).toSeq))
        .toDF("qid", "qvec")
      store.searchBatch(q, 3).collect()
      kb.publish((0L until 5L).map(d => (d, "upsert", Kb.text(d, 1))) ++
        (40L until 43L).map(d => (d, "upsert", Kb.text(d, 0))))
      kb.pull() shouldBe Some(1L)
      // the size counts every appended row: the 5 new versions and the
      // 3 inserts (compaction drops the 5 superseded rows)
      store.size shouldBe 48
      // the store caches no sidecar, so nothing is reloaded: the first
      // search after the pull costs what a warm one does
      store.refreshStats()
      val first = jobsDuring(store.searchBatch(q, 3).collect())
      jobsDuring(store.searchBatch(q, 3).collect()) shouldBe first
      val hits = store.searchBatch(q, 3)
      hits.filter(col("rank") === 1).select(col("qid"), col("nid"))
        .as[(Long, String)].collect().sorted shouldBe
        (0L until 5L).map(d => (d, d.toString))
      SimilaritySearch.compactIvfFlatIndex(spark, kb.index)
      store.size shouldBe 43
    }
  }

  test("a pull replayed after a lost cursor commit is served once per nid, from a lazily built search frame") {
    withKb("kb-replay") { kb =>
      kb.publish((0L until 40L).map(d => (d, "upsert", Kb.text(d, 0))))
      kb.pull() shouldBe Some(0L)
      kb.publish((0L until 5L).map(d => (d, "upsert", Kb.text(d, 1))))
      kb.pull() shouldBe Some(1L)
      // the pull's index writes landed but its cursor commit is lost:
      // the next pull re-applies the window, appending each upserted
      // doc's new version a second time, byte for byte
      val cursor = new org.apache.hadoop.fs.Path(kb.cursor)
      graft.io.SmallFiles.replaceText(
        cursor.getFileSystem(spark.sparkContext.hadoopConfiguration),
        cursor, "0")
      kb.pull() shouldBe Some(1L)
      // per edited doc: the superseded version and the replayed copy
      SimilaritySearch.ivfFlatIndexReport(spark, kb.index).collect().head
        .getAs[Long]("dup_rows") shouldBe 10L
      val store = new IvfFlatIndexStore(spark, kb.index)
      val q = (0L until 5L).map(d =>
          (d, new MockEmbedder(Kb.dim).embed(Kb.text(d, 1)).toSeq))
        .toDF("qid", "qvec")
      // every cell, and a depth below the cell count (DPP-pruned scan)
      SimilaritySearch.nProbeFor(
        SimilaritySearch.cellCountsOf(spark, kb.index), 10) should be < 8
      Seq(Int.MaxValue, 10).foreach { nc =>
        withClue(s"numCandidates=$nc: ") {
          val hits = store.searchBatch(q, 3, nc)
            .select(col("qid"), col("nid"), col("rank"))
            .as[(Long, String, Int)].collect().toSeq
          hits.groupBy(h => (h._1, h._2)).values
            .foreach(_ should have length 1)
          hits.groupBy(_._1).values.foreach { perQ =>
            perQ.map(_._3).sorted shouldBe (1 to perQ.size)
          }
          hits.filter(_._3 == 1).map(h => (h._1, h._2)).sorted shouldBe
            (0L until 5L).map(d => (d, d.toString))
        }
      }
      // building a partial-depth frame: the unpinned store's one job is
      // the payload footer read, a pinned store runs none
      jobsDuring(store.searchBatch(q, 3, 10)) shouldBe 1
      val pinned = new IvfFlatIndexStore(spark, kb.index).pinPayload()
      jobsDuring(pinned.searchBatch(q, 3, 10)) shouldBe 0
      // the probe side and the tombstone aggregate broadcast, the
      // window shuffles on qid, and the replay collapse rides that
      // window's partitioning
      exchanges(pinned.searchBatch(q, 3, 10)) shouldBe 4
      // and the local query relation still gets the probed-cell pruning
      partitionsRead(pinned.searchBatch(q, 3, 10), "cluster") should be < 8L
    }
  }
}

/** A [[MockEmbedder]] that counts the texts it embeds, process-wide
  * (local-mode tasks run in the test JVM, so a static counter sees every
  * task's calls). */
final class TextCountingEmbedder(override val dim: Int)
    extends graft.providers.EmbeddingProvider {
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    TextCountingEmbedder.texts.addAndGet(texts.size.toLong)
    new MockEmbedder(dim).embedBatch(texts)
  }
}
object TextCountingEmbedder {
  val texts = new java.util.concurrent.atomic.AtomicLong()
}
