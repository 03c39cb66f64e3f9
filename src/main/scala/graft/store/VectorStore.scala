package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch.BroadcastBudget

/** Vector-store seam behind the VECTOR_SEARCH operator (reference
  * generate_personalized_commands.sh:293-306, 377-384: a MongoDB Atlas
  * vector index queried laterally per row, k=3, cosine, numCandidates=150).
  *
  * The engine talks only to this trait, so the physical store is swappable:
  *  - [[BroadcastBruteForceStore]]: exact cosine top-k over a broadcast
  *    snapshot — the test/oracle implementation, and the right plan
  *    whenever the index fits on an executor (reference corpus: 27 docs).
  *  - A remote/ANN implementation (Atlas `$vectorSearch`, or the LSH path
  *    in operators.SimilaritySearch) plugs in for unbounded corpora.
  */
final case class SearchHit(document_id: String, chunks: String, score: Double)

trait VectorStore extends Serializable {
  /** Top-k by cosine similarity. `numCandidates` is the ANN recall knob —
    * exact stores may ignore it. */
  def search(query: Array[Float], k: Int, numCandidates: Int = 150): Seq[SearchHit]
  /** MMR-DIVERSIFIED top-k (SimilaritySearch.mmrGreedy semantics): slot
    * 1 is the best cosine match, later slots trade relevance against
    * similarity to already-picked hits at weight `lambda`; hits carry
    * their ORIGINAL cosine score. Diversification needs the candidates'
    * vectors, which a remote store's hit list may not expose — stores
    * that cannot provide them fail loudly rather than silently
    * returning the undiversified order. */
  def searchDiverse(query: Array[Float], k: Int, lambda: Double,
                    numCandidates: Int = 150): Seq[SearchHit] =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} does not expose candidate vectors; " +
        "diversified search needs them — use an in-memory or persisted-" +
        "index store, or diversify client-side from returned embeddings")
  def size: Int
  /** The store's own recall default, used by call sites that take no
    * explicit numCandidates (the SQL `vector_search` 3-arg form) — the
    * reference's index-level numCandidates knob
    * (generate_personalized_commands.sh:304). */
  def defaultNumCandidates: Int = 150
}

/** Named-store catalog — the analog of the reference's external-table
  * DDL (`CREATE TABLE knowledge_mongodb ... 'connector' = 'mongodb'`,
  * generate_personalized_commands.sh:293-306): SQL call sites resolve a
  * store by the name it was registered under, exactly like
  * ModelRegistry resolves `ml_predict` models. Same per-JVM caveat as
  * the model registry: executors need the registration too (local mode
  * shares the JVM; a cluster deployment wires
  * `spark.plugins=graft.core.GraftPlugin` +
  * `spark.graft.registrars` — see graft.core.GraftPlugin). */
object VectorStoreRegistry {
  private val stores = scala.collection.concurrent.TrieMap.empty[String, VectorStore]
  def register(name: String, s: VectorStore): Unit = stores.put(name, s)
  def get(name: String): VectorStore =
    stores.getOrElse(name, sys.error(s"unknown vector store '$name'"))
  /** Non-throwing form for planner rules that probe whether a name is
    * registered (and as what) without committing to resolution. */
  def lookup(name: String): Option[VectorStore] = stores.get(name)
  /** Remove one registration (DROP VECTOR INDEX); returns whether the
    * name was registered. On-disk artifacts are the caller's to delete. */
  def unregister(name: String): Boolean = stores.remove(name).isDefined
  def clear(): Unit = stores.clear()
}

/** Exact cosine top-k over an in-memory corpus; build once on the driver
  * (or from a DataFrame). Per-row callers ship it as a Spark broadcast
  * variable (CoachingPipeline.retrieve holds a `Broadcast[VectorStore]`
  * and its search UDF captures only that handle), so each executor
  * fetches one copy and task binaries stay small; queries never shuffle.
  */
final class BroadcastBruteForceStore(
    corpus: Array[(String, String, Array[Float])]) extends VectorStore {

  override def size: Int = corpus.length

  /** Squared norm of each corpus vector, summed in index order exactly as
    * [[cosine]] sums it, so the scan's scores stay bit-identical. */
  private val sqNorms: Array[Double] = corpus.map(e => sqNorm(e._3))

  private def sqNorm(v: Array[Float]): Double = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    n
  }

  /** cosine(query, corpus(i)) given the query's squared norm `qn`: one
    * multiply-add per element. A length mismatch takes [[cosine]], which
    * sums every term over the shorter prefix. */
  private def sim(query: Array[Float], qn: Double, i: Int): Double = {
    val v = corpus(i)._3
    if (v.length != query.length) cosine(query, v)
    else {
      var dot = 0.0; var j = 0
      while (j < v.length) { dot += query(j).toDouble * v(j); j += 1 }
      val nb = sqNorms(i)
      if (qn == 0 || nb == 0) -1.0 else dot / (math.sqrt(qn) * math.sqrt(nb))
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def search(query: Array[Float], k: Int, numCandidates: Int): Seq[SearchHit] = {
    // bounded priority queue: O(corpus * log k), no full sort.
    // Head = eviction candidate: lowest sim, ties evict the larger index →
    // deterministic results (smaller index wins ties).
    implicit val evictionOrd: Ordering[(Double, Int)] =
      Ordering.by[(Double, Int), (Double, Int)](t => (t._1, -t._2))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)).reverse
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Int)]
    val qn = sqNorm(query)
    var i = 0
    while (i < corpus.length) {
      val s = sim(query, qn, i)
      if (pq.size < k) pq.enqueue((s, i))
      else if (s > pq.head._1) { pq.dequeue(); pq.enqueue((s, i)) }
      i += 1
    }
    pq.dequeueAll.reverse.map { si: (Double, Int) =>
      SearchHit(corpus(si._2)._1, corpus(si._2)._2, si._1)
    }.toSeq
  }

  /** Exact MMR: greedy selection over the top-`max(2k, 8)` cosine
    * candidates, corpus-index tie-break (the store's "earlier entry
    * wins" convention). Hits keep their original cosine score.
    * Zero-norm vectors (query or corpus entry) have UNDEFINED cosine —
    * they are excluded from the candidate set, matching the DataFrame
    * path's null-relevance filter (plain search's -1.0 convention is a
    * rank-only device; it must not leak into the λ trade-off as a real
    * score). */
  override def searchDiverse(query: Array[Float], k: Int, lambda: Double,
                             numCandidates: Int): Seq[SearchHit] = {
    val qn = sqNorm(query)
    if (qn == 0.0) return Nil
    val candN = math.max(2 * k, 8)
    // top-candN corpus indices by (sim desc, index asc) — the same
    // ordering contract as search()
    val top = corpus.indices.filter(i => sqNorms(i) != 0.0)
      .map(i => (sim(query, qn, i), i))
      .sortBy { case (s, i) => (-s, i) }.take(candN)
    val picked = graft.operators.SimilaritySearch.mmrGreedy(
      top.map { case (s, i) => (i, s, corpus(i)._3) }, lambda, k)
    val simOf = top.map { case (s, i) => i -> s }.toMap
    picked.map(i => SearchHit(corpus(i)._1, corpus(i)._2, simOf(i)))
  }
}

object BroadcastBruteForceStore {
  /** Collect an indexed-knowledge DataFrame (document_id, chunks, embedding)
    * into an exact store. Only for corpora that fit in memory — the
    * reference's knowledge base is KB-scale; big corpora use the
    * DataFrame-level search operators instead (CoachingPipeline.coachJoin /
    * VectorOps.bruteForceTopK). */
  def fromDataFrame(df: DataFrame, idCol: String = "document_id",
                    chunkCol: String = "chunks",
                    embCol: String = "embedding"): BroadcastBruteForceStore = {
    val rows = df.select(col(idCol), col(chunkCol), col(embCol)).collect().map { r =>
      (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray)
    }
    new BroadcastBruteForceStore(rows)
  }
}

/** Persisted-index store: the scale implementation of [[VectorStore]],
  * backed by the cluster-partitioned IVF-Flat index on shared storage
  * (operators.SimilaritySearch.writeIvfFlatIndex) — the direct analog of
  * the reference's EXTERNAL Atlas vector index (terraform
  * main.tf:649-669): the index outlives any session, is continuously
  * upserted by a sink, and is searched with a numCandidates recall knob
  * (generate_personalized_commands.sh:304).
  *
  * Two serving surfaces:
  *  - [[searchBatch]] (the scale path): DataFrame-in/DataFrame-out —
  *    one equi-join whose dynamic partition pruning reads only the
  *    probed cells of the payload scan, no corpus broadcast or collect. Retrieval inside a
  *    pipeline is a JOIN against the index, exactly how a 100 TB corpus
  *    must be searched.
  *  - [[search]] (the trait's per-query contract): DRIVER-side point
  *    lookup — runs one pruned Spark job. Guarded against executor-side
  *    calls: a lateral per-row `vector_search` over an unbounded index
  *    would launch a job per row from inside a task, which is exactly
  *    the anti-pattern the broadcast store exists for below the budget.
  *
  * The index keys rows by a CHUNK-unique `nid` (document ids repeat
  * across chunks) and carries (document_id, chunks) as payload; `score`
  * is the exact cosine (IVF-Flat scores raw vectors — no quantization
  * error inside probed cells). */
final class IvfFlatIndexStore(spark: SparkSession, path: String,
                              override val defaultNumCandidates: Int = 150)
    extends VectorStore {

  /** Index root — maintenance DDL (COMPACT/DESCRIBE VECTOR INDEX)
    * resolves the registered store back to its on-disk layout. */
  def indexPath: String = path

  /** The index's current row count (its cellstats sidecar, read on
    * each call without a Spark job): upserted rows count until
    * compaction drops the versions they superseded. */
  override def size: Int =
    graft.operators.SimilaritySearch.cellCountsOf(spark, path).sum.toInt

  // OPT-IN payload-frame pin: building a parquet DataFrame lists files
  // and resolves the schema — a fixed cost worth paying once per INDEX
  // when serving a STATIC index per micro-batch. Pinning is explicit
  // ([[pinPayload]]) and NOT the default, because a pinned listing is a
  // frozen snapshot: appends land invisibly and a compaction's
  // stage-and-swap deletes the files the frozen frame references
  // (FileNotFoundException on the next search). Unpinned (default),
  // every searchBatch re-lists — always correct under maintenance.
  @volatile private var payloadCache: DataFrame = null
  /** Freeze the payload file listing for static-index serving (saves a
    * listing + schema resolution per micro-batch). After ANY index
    * maintenance (append/delete/compact/merge) call [[refreshStats]] —
    * it re-pins against the new state — or never pin at all. The
    * sidecars (centroids, cellstats) are never pinned: every search
    * reads them, so a rebuild in place or a bump shows up at once. */
  def pinPayload(): this.type = {
    // the search path's own payload read, so the two cannot drift: a
    // fully-emptied compacted index pins a zero-row frame, an
    // unversioned payload is refused
    payloadCache = graft.operators.SimilaritySearch.readPayload(
      spark, path, Seq("document_id", "chunks"))
    this
  }
  /** Re-pin a pinned payload listing against the index's new state
    * (with the same emptied-index tolerance as the original pin); call
    * after upserts/compaction/merge. A no-op for an unpinned store:
    * the sidecars are read per search, so nothing else is cached. */
  def refreshStats(): Unit =
    if (payloadCache != null) pinPayload()

  /** Batch retrieval: (qid, qvec) frame → (qid, nid, rank, score,
    * document_id, chunks), each nid at most once per query, with only
    * probed cells' files read (the optimizer prunes the payload scan;
    * [[graft.operators.SimilaritySearch.searchIvfFlatIndex]]). Building
    * the frame reads the centroid and cellstats sidecars (no job) and,
    * unpinned, the payload's parquet footers (one job); a pinned store
    * builds it with no job. */
  def searchBatch(queries: DataFrame, k: Int, numCandidates: Int = 150,
                  qId: String = "qid", qVec: String = "qvec"): DataFrame =
    graft.operators.SimilaritySearch.searchIvfFlatIndex(
      spark, path, queries, k, numCandidates, qId, qVec,
      payloadCols = Seq("document_id", "chunks"),
      payloadFrame = Option(payloadCache))

  override def search(query: Array[Float], k: Int,
                      numCandidates: Int): Seq[SearchHit] = {
    require(org.apache.spark.TaskContext.get() == null,
      "IvfFlatIndexStore.search launches a Spark job and must run on " +
        "the driver; per-row lateral vector_search over an indexed " +
        "store is the broadcast store's regime — use searchBatch " +
        "(a join against the index) instead")
    import spark.implicits._
    val q = Seq((0L, query.toSeq)).toDF("qid", "qvec")
    searchBatch(q, k, numCandidates)
      .orderBy(col("rank"))
      .collect()
      .map(r => SearchHit(r.getAs[String]("document_id"),
        r.getAs[String]("chunks"), r.getAs[Double]("score")))
      .toSeq
  }

  /** Batch DIVERSIFIED retrieval: the pruned-join candidate search at
    * depth max(2k, 8) — the index is IVF-FLAT, so candidates carry
    * their raw `nvec` — followed by the per-query bounded MMR re-rank
    * (SimilaritySearch.mmrRerankHits). Same plan contract as
    * [[searchBatch]]: the optimizer's dynamic partition pruning on the
    * payload scan, no corpus broadcast; the re-rank adds one qid-keyed
    * aggregate over ≤ candN rows per query. */
  def searchBatchDiverse(queries: DataFrame, k: Int, lambda: Double,
                         numCandidates: Int = 150, qId: String = "qid",
                         qVec: String = "qvec"): DataFrame = {
    val cand = graft.operators.SimilaritySearch.searchIvfFlatIndex(
      spark, path, queries, math.max(2 * k, 8), numCandidates, qId, qVec,
      payloadCols = Seq("document_id", "chunks", "nvec"),
      payloadFrame = Option(payloadCache))
    graft.operators.SimilaritySearch.mmrRerankHits(cand, k, lambda)
  }

  override def searchDiverse(query: Array[Float], k: Int, lambda: Double,
                             numCandidates: Int): Seq[SearchHit] = {
    require(org.apache.spark.TaskContext.get() == null,
      "IvfFlatIndexStore.searchDiverse launches a Spark job and must " +
        "run on the driver — use searchBatchDiverse (a join against " +
        "the index) from query plans")
    import spark.implicits._
    val q = Seq((0L, query.toSeq)).toDF("qid", "qvec")
    searchBatchDiverse(q, k, lambda, numCandidates)
      .orderBy(col("rank"))
      .collect()
      .map(r => SearchHit(r.getAs[String]("document_id"),
        r.getAs[String]("chunks"), r.getAs[Double]("score")))
      .toSeq
  }
}

/** Store chooser — the ann_adaptive_topk pattern at the serving seam:
  * an indexed-knowledge frame under the broadcast budget becomes the
  * exact in-memory store (the right plan for the reference's KB-scale
  * corpus); past the budget it becomes the persisted IVF-Flat index,
  * built at `indexPath` on first use (coarse centroids = the first
  * `nCells` corpus vectors, the data-derived convention the ANN
  * operators share). */
object VectorStores {
  /** The index's chunk-unique content key: document ids repeat across
    * chunks, so rows key on md5(id NUL chunk) — ONE definition shared
    * by the batch build (adaptive), the streaming sink
    * (StreamingOps.indexUpsertSink) and retrieveJoin, so every path
    * derives identical nids and replays/upserts collide correctly. */
  def chunkKey(idCol: String, chunkCol: String): org.apache.spark.sql.Column =
    md5(concat_ws("\u0000", col(idCol), col(chunkCol)))

  def adaptive(indexed: DataFrame, indexPath: String,
               idCol: String = "document_id", chunkCol: String = "chunks",
               embCol: String = "embedding", nCells: Int = 4,
               broadcastBytes: Long = BroadcastBudget): VectorStore = {
    val bytes = indexed.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= broadcastBytes)
      BroadcastBruteForceStore.fromDataFrame(indexed, idCol, chunkCol, embCol)
    else {
      val spark = indexed.sparkSession
      val payloadPath = new org.apache.hadoop.fs.Path(s"$indexPath/payload")
      val fs = payloadPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(payloadPath)) {
        // deterministic seed cells: first nCells vectors by id (the
        // data-derived convention the ANN operators share)
        val centroids = indexed.select(col(idCol), col(embCol))
          .orderBy(col(idCol)).limit(nCells).collect()
          .map(_.getSeq[Float](1).toSeq).toSeq
        // chunk-unique key: document ids repeat across chunks, and the
        // index's nid is its tie-break / identity column
        val prepared = indexed.select(
          chunkKey(idCol, chunkCol).as("__nid"),
          col(idCol).as("document_id"), col(chunkCol).as("chunks"),
          col(embCol).as("embedding"))
        graft.operators.SimilaritySearch.writeIvfFlatIndex(
          prepared, centroids, indexPath, "__nid", "embedding",
          Seq("document_id", "chunks"))
      }
      new IvfFlatIndexStore(spark, indexPath)
    }
  }
}

/** Upsertable store — the in-process analog of the reference's MongoDB
  * Atlas sink connector continuously upserting the vector index (S4,
  * reference main.tf:594-635: topic → collection, ordered bulk writes).
  * Rows are keyed by (document_id, md5(chunks)) so re-delivered chunks
  * (at-least-once topic semantics) overwrite rather than duplicate —
  * BsonOid-per-record in the reference, content-keyed here so replays are
  * idempotent. Search delegates to an exact scan of the current snapshot.
  *
  * Bounded corpora only (one JVM's memory): the streaming sink path
  * (StreamingOps.upsertSink) feeds it per micro-batch; unbounded indexes
  * belong in the DataFrame-join retrieve path instead. */
final class InMemoryVectorStore extends VectorStore {
  private val rows =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, String, Array[Float])]()

  private def key(id: String, chunks: String): (String, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(Option(chunks).getOrElse("").getBytes("UTF-8"))
    (id, md.map("%02x".format(_)).mkString)
  }

  def upsert(id: String, chunks: String, embedding: Array[Float]): Unit =
    rows.put(key(id, chunks), (id, chunks, embedding))

  /** Bulk upsert of a micro-batch / DataFrame partition collect. */
  def upsertAll(batch: Iterable[(String, String, Array[Float])]): Unit =
    batch.foreach { case (id, c, e) => upsert(id, c, e) }

  def delete(id: String, chunks: String): Unit = rows.remove(key(id, chunks))

  override def size: Int = rows.size

  override def search(query: Array[Float], k: Int, numCandidates: Int): Seq[SearchHit] = {
    import scala.jdk.CollectionConverters._
    val snapshot = rows.values.asScala.toArray.sortBy(r => (r._1, r._2))
    new BroadcastBruteForceStore(snapshot).search(query, k, numCandidates)
  }

  override def searchDiverse(query: Array[Float], k: Int, lambda: Double,
                             numCandidates: Int): Seq[SearchHit] = {
    import scala.jdk.CollectionConverters._
    val snapshot = rows.values.asScala.toArray.sortBy(r => (r._1, r._2))
    new BroadcastBruteForceStore(snapshot)
      .searchDiverse(query, k, lambda, numCandidates)
  }
}
