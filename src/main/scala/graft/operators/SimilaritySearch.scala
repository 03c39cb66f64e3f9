package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Similarity search over embedding columns.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k (delegates to VectorOps) —
  *    the baseline and the oracle.
  *  - [[lshTopK]]: sign-random-projection (hyperplane) LSH — queries and
  *    corpus bucketed by a bit signature; candidates = same bucket; exact
  *    re-rank inside the bucket. Sub-linear candidate sets at the cost of
  *    recall; the scale path when the corpus cannot be broadcast.
  *
  * Hyperplanes must be deterministic and engine-portable for the oracle,
  * so they are *data-derived*: the first `nPlanes` corpus vectors (by id)
  * serve as projection directions. At production scale you'd sample
  * instead; the operator takes any plane set.
  */
object SimilaritySearch {

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "vec_id", qVec: String = "embedding",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame =
    VectorOps.bruteForceTopK(queries, corpus, k, qId, qVec, cId, cVec)

  /** Statistics-driven top-k: the planner seam that picks the physical
    * search strategy from Catalyst's own size estimate of the corpus plan
    * (`optimizedPlan.stats`, the same statistic broadcast-join selection
    * uses). Corpora under `broadcastBytes` take the exact broadcast
    * nested-loop path — no shuffle of the query side, perfect recall;
    * larger corpora fall back to SRP-LSH bucketing with `planes`
    * hyperplanes — one equi-join on the signature, recall traded for not
    * materializing |Q|×|C|.
    *
    * Exposed as an operator-level chooser rather than a SparkStrategy:
    * the decision needs only plan statistics, not new physical operators,
    * so a custom strategy would re-derive what this reads directly. */
  /** Hard-negative mining for contrastive/embedding training: for each
    * query, the top-k most-similar corpus vectors whose LABEL differs —
    * the near-misses a triplet/InfoNCE loss learns most from (easy
    * random negatives contribute ~zero gradient). Same broadcast shape
    * as [[graft.functions.VectorOps.bruteForceTopK]] with the label
    * inequality fused into the join predicate, so disallowed pairs are
    * never ranked; at corpus scale the candidate generation swaps to
    * any ANN path and this exact form verifies its recall. */
  def hardNegativesTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        qId: String, qVec: String, qLabel: String,
                        cId: String, cVec: String, cLabel: String): DataFrame = {
    val joined = queries.join(broadcast(corpus),
        col(qLabel) =!= col(cLabel))
      .withColumn("sim", graft.functions.VectorOps.cosine(col(qVec), col(cVec)))
    val w = Window.partitionBy(col(qId))
      .orderBy(col("sim").desc, col(cId).asc)
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), col("rank").cast("int").as("rank"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein,
    * SIGIR 1998): greedily pick `k` results maximizing
    * `lambda·sim(q,d) − (1−lambda)·max_{s∈picked} sim(d,s)` — the
    * standard redundancy-suppressing re-rank for RAG retrieval (the
    * reference's k=3 VECTOR_SEARCH feeds chunks of the SAME document
    * into one prompt, exactly the redundancy MMR removes;
    * generate_personalized_commands.sh:377-384).
    *
    * Physical shape — the two-stage pattern every production MMR uses:
    *  1. candidate generation: plain cosine top-`candN` per query
    *     (broadcast nested-loop, the [[bruteForceTopK]] shape; swap in
    *     any ANN path at corpus scale — only this stage sees the corpus).
    *  2. greedy selection PER QUERY over the BOUNDED candidate set:
    *     one shuffle keyed on qid collects ≤ candN (nid, rel, vec)
    *     structs per query, and the O(k·candN²) greedy loop runs as a
    *     single JIT-compiled UDF call per query row (the repo's standard
    *     shape for CPU-heavy bounded-array work). State per row = candN
    *     vectors — independent of corpus size, so the operator scales
    *     with the QUERY count, never the corpus.
    *
    * Determinism: candidates sorted (rel desc, nid asc) before the loop
    * (collect_list order is nondeterministic); argmax ties break to the
    * smaller nid; all scores in double precision with the same
    * sequential-accumulation cosine as the Catalyst expression, so the
    * DuckDB oracle's unrolled greedy steps reproduce the picks exactly.
    * Pass `lambda` as e.g. 0.7 and the complement is computed as
    * `1.0 - lambda` — write the oracle's weights the same way. */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int, lambda: Double,
              candN: Int, qId: String, qVec: String,
              cId: String, cVec: String): DataFrame = {
    require(k >= 1 && k <= candN, s"need 1 <= k=$k <= candN=$candN")
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"))
    // duplicate corpus ids (e.g. the same chunk reaching a md5-keyed
    // corpus twice) must collapse BEFORE candidate generation: the
    // greedy loop tracks candidate indices, so two rows with one nid
    // would fill two diversified slots with literal duplicates — the
    // exact redundancy MMR exists to remove. Same-nid rows are
    // same-content by the id contract, so any representative is right.
    val c = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"))
      .dropDuplicates("nid")
    val w = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("nid").asc)
    val cand = q.crossJoin(broadcast(c))
      .withColumn("rel", VectorOps.cosine(col("qvec"), col("nvec")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= candN)
      // cosine is nullable (zero-norm vector, null embedding): such
      // candidates carry no usable relevance, so they are excluded from
      // the greedy selection rather than reaching the UDF as null
      // doubles (a null query embedding thus yields no picks at all —
      // the lateral/outer-join caller's no-hits contract)
      .filter(col("rel").isNotNull && col("nvec").isNotNull)
      .select(col("qid"), col("nid"), col("rel"), col("nvec"))
    val select = mmrSelectUdf(cand.schema("nid").dataType, lambda, k)
    cand.groupBy(col("qid"))
      .agg(collect_list(struct(col("nid"), col("rel"), col("nvec"))).as("cands"))
      .select(col("qid"),
        posexplode(select(col("cands"))).as(Seq("pos", "nid")))
      .select(col("qid"), col("nid"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** The per-group MMR selection UDF over collect_list'd
    * (nid, rel, nvec) structs, dispatched on the nid type (Long corpus
    * keys / String md5 chunk keys) — shared by [[mmrTopK]] (search +
    * re-rank in one operator) and [[mmrRerankHits]] (re-rank of an
    * existing candidate frame, the persisted-index serving path). */
  private[graft] def mmrSelectUdf(nidType: org.apache.spark.sql.types.DataType,
                                  lambda: Double, k: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    if (nidType == org.apache.spark.sql.types.StringType)
      udf((cands: Seq[org.apache.spark.sql.Row]) =>
        mmrGreedy(cands.map(r =>
          (r.getString(0), r.getDouble(1), r.getSeq[Float](2).toArray)),
          lambda, k))
    else
      udf((cands: Seq[org.apache.spark.sql.Row]) =>
        mmrGreedy(cands.map(r =>
          (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray)),
          lambda, k))

  /** MMR re-rank of a PRE-COMPUTED candidate frame — the serving form
    * for any search path that already produced (qid, nid, score, nvec
    * [, payload...]) rows (e.g. the persisted index's pruned-join
    * search): per query, greedily pick `k` of the candidates, returning
    * the original relevance score with the MMR selection order as
    * `rank`. Payload columns ride along through the join back on
    * (qid, nid). Same bounded-state shape as [[mmrTopK]]'s stage 2. */
  def mmrRerankHits(cand: DataFrame, k: Int, lambda: Double,
                    payloadCols: Seq[String] = Seq("document_id", "chunks"))
      : DataFrame = {
    // same null policy as mmrTopK: score/vector-less candidates cannot
    // participate in the greedy trade-off; same duplicate policy too —
    // one (qid, nid) candidate row, so neither the greedy loop nor the
    // payload join-back below can duplicate a pick
    val usable = cand.filter(col("score").isNotNull && col("nvec").isNotNull)
      .dropDuplicates("qid", "nid")
    val sel = usable.groupBy(col("qid"))
      .agg(collect_list(struct(col("nid"), col("score"), col("nvec")))
        .as("cands"))
      .select(col("qid"),
        posexplode(mmrSelectUdf(cand.schema("nid").dataType, lambda, k)(
          col("cands"))).as(Seq("pos", "nid")))
      .select(col("qid"), col("nid"), (col("pos") + 1).cast("int").as("rank"))
    sel.join(usable.select(
        Seq(col("qid"), col("nid"), col("score")) ++ payloadCols.map(col): _*),
        Seq("qid", "nid"))
      .select(Seq(col("qid"), col("nid"), col("rank"), col("score")) ++
        payloadCols.map(col): _*)
  }

  /** Greedy MMR over one query's candidates; returns picked nids in
    * selection order. Generic in the id type (Long corpus keys, String
    * md5 chunk keys) with the id's NATURAL ordering as the tie-break.
    * Double cosine with index-order accumulation — the
    * [[org.apache.spark.sql.graft.CosineSimilarityFloat]] contract. */
  private[graft] def mmrGreedy[T](cands: Seq[(T, Double, Array[Float])],
                                  lambda: Double, k: Int)
                                 (implicit ord: Ordering[T]): Seq[T] = {
    val mu = 1.0 - lambda
    val arr = cands.sortBy(t => (-t._2, t._1)).toArray
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    var stuck = false
    while (!stuck && picked.length < math.min(k, arr.length)) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < arr.length) {
        if (!picked.contains(i)) {
          val score =
            if (picked.isEmpty) arr(i)._2
            else {
              var maxSim = Double.NegativeInfinity
              for (p <- picked) {
                val s = cos(arr(i)._3, arr(p)._3)
                if (s > maxSim) maxSim = s
              }
              lambda * arr(i)._2 - mu * maxSim
            }
          // strict > keeps the earlier candidate; explicit id
          // comparison breaks exact score ties deterministically
          if (score > bestScore ||
              (score == bestScore && bestIdx >= 0 &&
                ord.lt(arr(i)._1, arr(bestIdx)._1))) {
            bestScore = score; bestIdx = i
          }
        }
        i += 1
      }
      // every remaining score NaN (a NaN element in some vector): no
      // comparison can select a winner — stop picking rather than
      // emit arr(-1)
      if (bestIdx < 0) stuck = true else picked += bestIdx
    }
    picked.map(arr(_)._1).toSeq
  }

  def adaptiveTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   planes: Seq[Seq[Float]],
                   broadcastBytes: Long = BroadcastBudget,
                   qId: String = "vec_id", qVec: String = "embedding",
                   cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val corpusBytes = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    // rename the sides apart first — identical column names on both
    // sides would be ambiguous in the cross join
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"))
    val c = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"))
    if (corpusBytes <= broadcastBytes)
      VectorOps.bruteForceTopK(q, c, k, "qid", "qvec", "nid", "nvec")
        .select(col("qid"), col("nid"), col("rank"))
    else
      lshTopK(q, c, planes, k, "qid", "qvec", "nid", "nvec")
  }

  /** Recall@k of an approximate search result against the exact one —
    * retrieval evaluation as a first-class operator, so an ANN
    * configuration (nProbe, bits, tables, candN) is GRADED in-engine
    * instead of eyeballed: per query, how many of the exact top-k did
    * the approximate path return. Both inputs are (qId, nId) frames from
    * any pair of search operators; queries the approximate path missed
    * entirely still appear, at recall 0 (left join from the exact side —
    * an ANN bug that drops whole queries must lower the score, not
    * shrink the denominator). The divisor is min(k, the exact side's
    * actual per-query row count), so a corpus smaller than k still
    * reaches recall 1.0 when every exact hit is returned.
    *
    * Plan shape: one (qid, nid) equi-join + a qid-keyed count — both
    * sides are top-k results (≤ k rows per query), so cost scales with
    * the query count, never the corpus. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int,
                qId: String = "qid", nId: String = "nid"): DataFrame = {
    require(k > 0, s"invalid k=$k")
    // distinct both sides: an approximate result MAY carry duplicate
    // (qid, nid) pairs (e.g. two versions of one key in an index no
    // tombstone separates) — a duplicated true hit must count once,
    // never push recall past 1.0
    val exDist = exact.select(col(qId), col(nId)).distinct()
    val hits = exDist
      .join(approx.select(col(qId), col(nId)).distinct(), Seq(qId, nId))
      .groupBy(col(qId)).agg(count(lit(1)).as("hits"))
    // denominator = min(k, the exact side's ACTUAL per-query row count):
    // a corpus smaller than k leaves the exact top-k short, and dividing
    // by the nominal k would cap recall below a reachable 1.0 (an exact
    // frame carrying MORE than k rows per query is a caller error the
    // fixed-k divisor would silently inflate past 1.0 instead)
    exDist.groupBy(col(qId)).agg(count(lit(1)).as("ex_n"))
      .join(hits, Seq(qId), "left")
      .select(col(qId),
        coalesce(col("hits"), lit(0L)).cast("int").as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          least(lit(k.toLong), col("ex_n")).cast("double")).as("recall"))
      .orderBy(col(qId))
  }

  /** Bit-signature column: for each plane, 1 iff dot(vec, plane) > 0. */
  def srpSignature(vec: Column, planes: Seq[Column]): Column =
    concat(planes.map(p => when(VectorOps.dotD(vec, p) > 0, lit("1")).otherwise(lit("0"))): _*)

  /** LSH ANN: bucket queries and corpus by hyperplane signature, exact
    * cosine top-k within each bucket.
    *
    * Plan shape: both sides get a narrow signature projection (no UDF, no
    * shuffle), then one hash-partitioned equi-join on the signature and a
    * per-query window top-k. Empty-recall queries (no bucket collision)
    * return no rows — standard LSH semantics; multi-probe/repeated tables
    * raise recall by unioning more signatures. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, planes: Seq[Seq[Float]],
              k: Int,
              qId: String = "vec_id", qVec: String = "embedding",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val planeCols = planes.map(p => typedLit(p))
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"),
      srpSignature(col(qVec), planeCols).as("sig"))
    val c = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"),
      srpSignature(col(cVec), planeCols).as("sig"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    q.join(c, "sig")
      .withColumn("sim", VectorOps.cosine(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** Multi-table SRP-LSH: the recall amplifier for single-signature LSH.
    * `planes` is split into L = planes.size / bitsPerTable independent
    * tables of `bitsPerTable` hyperplanes each; a candidate is any corpus
    * vector sharing ANY table's signature with the query (the same
    * band-amplification as MinHash LSH: collision probability
    * 1 - (1 - p^b)^L instead of p^(b·L)). Candidates are deduplicated
    * before ONE exact re-rank.
    *
    * Plan shape: both sides explode to L (table, signature) keys — an L×
    * blowup of a skinny projection, exactly like minhash band keys — then
    * one hash-partitioned equi-join, dropDuplicates on (qid, nid), and the
    * per-query window top-k. Recall is tuned by (bitsPerTable, L): fewer
    * bits per table = bigger buckets = more candidates; more tables =
    * more chances — both without touching the corpus layout, which is why
    * production vector stores run banded tables rather than one long
    * signature (single 8-bit-signature recall@5 measured ~0 on the test
    * embeddings; 8 tables × 4 bits measured ≥ 0.6 — AnnRecallSpec pins
    * the floor). */
  def lshTopKMultiTable(queries: DataFrame, corpus: DataFrame,
                        planes: Seq[Seq[Float]], bitsPerTable: Int, k: Int,
                        qId: String = "vec_id", qVec: String = "embedding",
                        cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(bitsPerTable > 0 && planes.nonEmpty &&
      planes.size % bitsPerTable == 0,
      s"planes (${planes.size}) must split evenly into tables of $bitsPerTable")
    def tableKeys(vec: Column): Column = {
      val tables = planes.map(p => typedLit(p)).grouped(bitsPerTable)
        .toSeq.zipWithIndex
      array(tables.map { case (ps, t) =>
        concat(lit(s"$t:"), srpSignature(vec, ps))
      }: _*)
    }
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"))
      .select(col("qid"), col("qvec"), explode(tableKeys(col("qvec"))).as("sig"))
    val c = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"))
      .select(col("nid"), col("nvec"), explode(tableKeys(col("nvec"))).as("sig"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    q.join(c, "sig")
      .dropDuplicates("qid", "nid") // a pair may collide in several tables
      .withColumn("sim", VectorOps.cosine(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `centroids`; ANN = search only the probe-nearest partitions. Returns
    * the corpus annotated with a `cluster` id — callers co-partition /
    * bucket by it so searches touch one partition per probe. */
  def ivfAssign(df: DataFrame, centroids: Seq[Seq[Float]],
                vecCol: String = "embedding"): DataFrame =
    // a probe at depth 1 (one tie-break; one cell works). Exploded, so a
    // join's inferred `cluster` filters stay above the assignment
    // instead of being pushed below it to compute it twice
    df.withColumn("cluster", explode(probeClusters(col(vecCol), centroids, 1)))

  /** One Lloyd (k-means) iteration over the corpus — the IVF TRAINING
    * step the search side assumes: assign every vector to its nearest
    * centroid (cosine, same tie-break as [[ivfAssign]]), then recompute
    * each centroid as the element-wise mean of its members. Emitted FLAT
    * as (cluster, dim, mu, n_members) — engine-portable for the oracle
    * and trivially pivoted back to vectors.
    *
    * Plan shape: one narrow assign projection (codegen'd cosine vs
    * literal centroids, no shuffle), a posexplode of assigned vectors
    * (×dim of a skinny (cluster, value) projection), ONE shuffle on
    * (cluster, dim) with map-side partial avg — and nothing else: the
    * member count equals the (cluster, dim) group's row count (one row
    * per member per dim), so it rides the same aggregate instead of a
    * second corpus scan + join. Iterating = collect the k×dim means
    * (tiny) and call again — the standard driver-coordinated Lloyd
    * loop. */
  def ivfTrainStep(df: DataFrame, centroids: Seq[Seq[Float]],
                   vecCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssign(df.select(col(vecCol).as("v")), centroids, "v")
    // mu is the FULL-precision mean: rounding for oracle portability
    // belongs at the query layer — a Lloyd loop iterating on quantized
    // centroids would inject error into every assignment
    assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(avg(col("x").cast("double")).as("mu"),
        count(lit(1)).as("n_members"))
      .select(col("cluster").cast("int").as("cluster"),
        col("dim").cast("int").as("dim"), col("mu"), col("n_members"))
  }

  /** Full Lloyd loop: `iters` training steps from `init` centroids.
    * Only the k×dim centroid matrix crosses the driver between
    * iterations; each iteration is one distributed ivfTrainStep. Empty
    * clusters keep their previous centroid (standard k-means practice).
    *
    * `roundAt ≥ 0` rounds each mean to that many decimals before it
    * becomes the next centroid: distributed avg sums partials in
    * partition order, so full-precision means are deterministic only to
    * ~ULP — rounding pins them for engine-portable oracles (and costs
    * nothing at 6 dp against quantization error). Production training
    * keeps the default full precision. */
  /** Collect one Lloyd step's mean vectors keyed by the given int key
    * columns — THE single copy of the collect/round-if/sort-by-dim/
    * toFloat recipe shared by [[ivfTrain]] (key = cluster) and
    * [[pqTrain]] (key = (j, cluster)); dead-cell keep is the caller's
    * getOrElse against the previous centroid. */
  private def collectMeans(step: DataFrame, roundAt: Int,
                           keyCols: Seq[String]): Map[Seq[Int], Seq[Float]] = {
    val rows = (if (roundAt >= 0) step.withColumn("mu", round(col("mu"), roundAt))
                else step)
      .select((keyCols :+ "dim" :+ "mu").map(col): _*)
      .collect()
    rows.groupBy(r => keyCols.indices.map(r.getInt).toSeq)
      .map { case (cell, rs) =>
        cell -> rs.sortBy(_.getInt(keyCols.length))
          .map(_.getDouble(keyCols.length + 1).toFloat).toSeq
      }
  }

  def ivfTrain(df: DataFrame, init: Seq[Seq[Float]], iters: Int,
               vecCol: String = "embedding", roundAt: Int = -1): Seq[Seq[Float]] = {
    require(iters >= 0, s"invalid iters=$iters")
    (1 to iters).foldLeft(init) { (cents, _) =>
      val means = collectMeans(ivfTrainStep(df, cents, vecCol), roundAt,
        Seq("cluster"))
      cents.indices.map(c => means.getOrElse(Seq(c), cents(c)))
    }
  }

  /** Top-`nProbe` clusters of a vector (probe list for IVF search; the
    * first is the cell [[ivfAssign]] assigns). */
  private def probeClusters(vecCol: Column, centroids: Seq[Seq[Float]],
                            nProbe: Int): Column = {
    val sims = centroids.zipWithIndex.map { case (c, i) =>
      struct(VectorOps.cosine(vecCol, typedLit(c)).as("sim"), lit(i).as("cid"))
    }
    // sort descending by (sim, cid) — the larger cid wins ties — and
    // keep the first nProbe ids
    slice(transform(reverse(array_sort(array(sims: _*))), s => s("cid")),
      1, nProbe)
  }

  /** How a query batch reaches its probed cells, for every IVF search:
    * each query row becomes (qid, qvec, cluster) for its `nProbe`
    * nearest cells, `probeRow` shapes those rows (`probeRowBytes` each),
    * [[broadcastGuard]] broadcasts them within the budget, and `cells`
    * (rows keyed by `cluster`) joins them on the cell id. Over a scan
    * partitioned by `cluster`, dynamic partition pruning then reads only
    * the probed cells, reusing the join's broadcast. DPP needs a filter
    * Catalyst deems selective on the build side: the cell-id bound, true
    * of every probe, above the explode so a local query relation cannot
    * fold it away. Over the budget the join shuffles and the scan reads
    * every cell, with the same result. Refuses `nProbe < 1` and empty or
    * ragged centroids, naming `op`, before `cells` or `probeRowBytes` is
    * evaluated — so before any job. */
  private def probeJoin(op: String, cells: => DataFrame, queries: DataFrame,
                        qId: String, qVec: String,
                        centroids: Seq[Seq[Float]], nProbe: Int,
                        probeRowBytes: => Long)
                       (probeRow: DataFrame => DataFrame): DataFrame = {
    require(nProbe >= 1, s"$op: nProbe must be >= 1, got $nProbe")
    require(centroids.nonEmpty, s"$op: need at least one centroid")
    val d = centroids.head.length
    require(d >= 1 && centroids.forall(_.length == d),
      s"$op: centroids must all have one dimension >= 1")
    val probes = probeRow(queries.select(col(qId).as("qid"),
        col(qVec).as("qvec"),
        explode(probeClusters(col(qVec), centroids, nProbe)).as("cluster"))
      .filter(col("cluster") < centroids.length))
    cells.join(broadcastGuard(probes, queries, d, nProbe, probeRowBytes),
      Seq("cluster"))
  }

  /** Full IVF ANN search: corpus bucketed by nearest centroid, each query
    * fanned out to its `nProbe` nearest clusters, exact cosine top-k
    * within the probed buckets.
    *
    * Plan shape: both sides get a narrow centroid-scoring projection
    * (codegen'd cosine vs a literal array — no shuffle), then ONE
    * equi-join on the cluster id ([[probeJoin]]: the probe side
    * broadcasts within the budget) and a per-query window top-k. The
    * probe fan-out multiplies the query side by nProbe, not the corpus;
    * recall is tuned by nProbe exactly like numCandidates in the
    * reference's index (generate_personalized_commands.sh:304). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              centroids: Seq[Seq[Float]], k: Int, nProbe: Int = 1,
              qId: String = "vec_id", qVec: String = "embedding",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    probeJoin("ivfTopK",
        ivfAssign(corpus.select(col(cId).as("nid"), col(cVec).as("nvec")),
          centroids, "nvec"),
        queries, qId, qVec, centroids, nProbe,
        probeRowBytes = centroids.head.length * 4L + 16)(identity)
      .withColumn("sim", VectorOps.cosine(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** Squared L2 distance in double precision — the PQ distance metric.
    * Native codegen'd expression ([[org.apache.spark.sql.graft.SquaredL2Float]]):
    * the HOF zip_with+aggregate form computed the same value but paid
    * interpreted per-element lambdas over m·ksub sub-distances per row
    * (measured 14× slower at sf0.1); the native loop keeps the same
    * deterministic sequential summation the DuckDB oracle writes. */
  private def sqDistD(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.sqDist(a, b)

  /** Product quantization ENCODE (Jégou/Douze/Schmid, TPAMI 2011): the
    * vector is split into `m` contiguous subspaces and each sub-vector
    * is replaced by the id of its nearest codebook centroid (squared
    * L2, ties to the smaller id) — m small ints instead of d floats
    * (m bytes/vector in storage), the compression behind IVF-PQ at
    * 10¹¹-vector scale. `codebooks` is m × ksub × (d/m); here sourced
    * from a deterministic corpus sample (per-subspace Lloyd refinement
    * reuses the [[ivfTrain]] sampled-train recipe and changes nothing
    * downstream). Appends an array<int> `codes` column; pure per-row
    * map (m·ksub codegen'd sub-distances), zero shuffle. */
  /** Shared codebook-shape validation for the PQ operators: at least one
    * subspace, no empty books, uniform sub-dimension. Returns (m, dsub). */
  private def validateCodebooks(codebooks: Seq[Seq[Seq[Float]]]): (Int, Int) = {
    require(codebooks.nonEmpty, "need at least one subspace codebook")
    require(codebooks.forall(_.nonEmpty), "empty codebook for some subspace")
    val dsub = codebooks.head.head.length
    require(dsub >= 1 && codebooks.forall(_.forall(_.length == dsub)),
      "ragged codebook sub-dimensions")
    (codebooks.length, dsub)
  }

  // The encode assignment (nearest centroid per subspace, squared L2,
  // ties to the smaller code) and the per-row dimension guard live in
  // the native kernels: org.apache.spark.sql.graft.PqEncodeCodes /
  // PqLookupTables — one expression tree each, shared by pqEncode,
  // pqTrainStep, pqAdcTopK and ivfPqAdcTopK.

  def pqEncode(df: DataFrame, codebooks: Seq[Seq[Seq[Float]]],
               vecCol: String): DataFrame = {
    validateCodebooks(codebooks)
    // single native kernel ([[org.apache.spark.sql.graft.PqEncodeCodes]]):
    // the compositional m × ksub argmin-struct projection cost ~1 s of
    // plan analysis per invocation at the 16×32 bench shape
    // (BENCH_NOTES round 10); the kernel raises on wrong-dimension or
    // NULL vectors itself (the dimChecked contract)
    df.withColumn("codes",
      org.apache.spark.sql.graft.PqExpressions.encodeCodes(
        col(vecCol), codebooks))
  }

  /** One per-subspace Lloyd step for PQ codebook training: every
    * sub-vector assigns to its nearest centroid WITHIN ITS SUBSPACE by
    * squared L2 — the encode metric; [[ivfTrainStep]]'s cosine objective
    * would train for the wrong distance — and each (subspace, centroid)
    * cell recomputes its element-wise mean. Emits flat
    * (j, cluster, dim, mu, n_members), the ivfTrainStep convention.
    *
    * Plan shape: ONE corpus scan — the assignment is the SAME native
    * encode kernel the search side uses ([[pqEncode]]'s PqEncodeCodes:
    * one tree instead of m × ksub argmin structs, the BENCH_NOTES
    * round-10 plan-analysis lesson), then a (j, cluster) posexplode of
    * the codes, a per-subspace slice, and one shuffle on
    * (j, cluster, dim) with map-side partial avg. Iterating moves only
    * the m×ksub×dsub mean matrix through the driver. */
  def pqTrainStep(df: DataFrame, codebooks: Seq[Seq[Seq[Float]]],
                  vecCol: String = "embedding"): DataFrame = {
    val (_, dsub) = validateCodebooks(codebooks)
    df.select(col(vecCol).as("v"))
      .withColumn("codes",
        org.apache.spark.sql.graft.PqExpressions.encodeCodes(
          col("v"), codebooks, "pqTrainStep"))
      .select(posexplode(col("codes")).as(Seq("j", "cluster")), col("v"))
      .select(col("j"), col("cluster"),
        posexplode(slice(col("v"), col("j") * dsub + lit(1), lit(dsub)))
          .as(Seq("dim", "x")))
      .groupBy(col("j"), col("cluster"), col("dim"))
      .agg(avg(col("x").cast("double")).as("mu"),
        count(lit(1)).as("n_members"))
      .select(col("j").cast("int").as("j"),
        col("cluster").cast("int").as("cluster"),
        col("dim").cast("int").as("dim"), col("mu"), col("n_members"))
  }

  /** Full per-subspace Lloyd loop from `init` codebooks — [[ivfTrain]]'s
    * driver-coordinated recipe (only the mean matrix crosses the driver;
    * dead cells keep their previous centroid; `roundAt` pins means for
    * engine-portable oracles). Sample-train → full-encode composes
    * exactly like ann_ivf_sampled. */
  def pqTrain(df: DataFrame, init: Seq[Seq[Seq[Float]]], iters: Int,
              vecCol: String = "embedding",
              roundAt: Int = -1): Seq[Seq[Seq[Float]]] = {
    require(iters >= 0, s"invalid iters=$iters")
    (1 to iters).foldLeft(init) { (books, _) =>
      val byCell = collectMeans(pqTrainStep(df, books, vecCol), roundAt,
        Seq("j", "cluster"))
      books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (cvec, c) =>
          byCell.getOrElse(Seq(j, c), cvec)
        }
      }
    }
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query
    * precomputes one lookup table per subspace (distance from its
    * sub-vector to every codebook centroid), and a corpus row's
    * approximate distance is the SUM OF m TABLE LOOKUPS — no float
    * vector arithmetic per corpus row, which is what makes scanning
    * 10¹¹ codes feasible. Exact within-subspace distances, quantization
    * error only from the corpus-side encoding.
    *
    * Plan shape: the INVERSE of [[VectorOps.bruteForceTopK]]'s
    * broadcast: there the corpus broadcasts and queries stream; here
    * the corpus (huge, but m ints per row) STREAMS and the LUT-bearing
    * query side broadcasts — the broadcast payload is
    * queries × m × ksub doubles, so [[broadcastGuard]] drops the hint
    * when the estimated LUT projection exceeds the budget (the join
    * itself stays correct as a partitioned cartesian). One per-query
    * window top-k; ranking by raw ADC score with the nid tiebreak (the
    * brute-force convention).
    *
    * `preEncoded`: corpus rows that already carry a `codes` column (the
    * stored-index regime — at 10¹¹ vectors the codes ARE the index and
    * encoding happens once at build time, not per search) skip the
    * encode projection entirely; pass the frame produced by
    * [[pqEncode]]. */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame,
                codebooks: Seq[Seq[Seq[Float]]], k: Int,
                qId: String = "vec_id", qVec: String = "embedding",
                cId: String = "vec_id", cVec: String = "embedding",
                preEncoded: Boolean = false): DataFrame = {
    val (m, dsub) = validateCodebooks(codebooks)
    // one native LUT kernel per query row
    // ([[org.apache.spark.sql.graft.PqLookupTables]]) instead of m × ksub
    // separate sqDist trees — the compositional projection cost ~1 s of
    // plan analysis per invocation (BENCH_NOTES round 10). The kernel
    // also carries the per-row dimension guard: a wrong-dimension QUERY
    // would otherwise slice short/empty sub-vectors and build silently-
    // garbage lookup tables instead of raising.
    val q = queries.select(col(qId).as("qid"),
      org.apache.spark.sql.graft.PqExpressions
        .lookupTables(col(qVec), codebooks, "pqAdcTopK").as("luts"))
    val enc =
      if (preEncoded) corpus.select(col(cId).as("nid"), col("codes"))
      else pqEncode(corpus.select(col(cId).as("nid"), col(cVec).as("nvec")),
          codebooks, "nvec")
        .select(col("nid"), col("codes"))
    adcTopK(enc.crossJoin(
      broadcastGuard(q, queries, m * dsub, 1, lutRowBytes(codebooks))), m, k)
  }

  /** Per-query ADC top-k over joined (qid, nid, luts, codes) rows: the
    * distance is the sum of m table lookups, ranked by the
    * 6-decimal-ROUNDED score (the tfidf convention: the oracle's
    * cross-subspace sum order is engine-chosen, so raw totals can differ
    * below reordering error and flip a boundary rank), nid tiebreak. */
  private def adcTopK(joined: DataFrame, m: Int, k: Int): DataFrame = {
    val score = (0 until m).map(j =>
      element_at(element_at(col("luts"), j + 1),
        element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist").asc, col("nid").asc)
    joined.withColumn("adc_dist", round(score, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
  }

  /** Two-stage binary-sign search (the 1-bit quantization regime of
    * Charikar STOC'02 SRP, stored-corpus form): stage 1 ranks by
    * HAMMING DISTANCE between sign bit-vectors (bit i = vec[i] > 0) and
    * keeps `candN` candidates per query; stage 2 exactly re-ranks the
    * survivors by cosine. This is the 32×-compression scan shape — at
    * 10¹¹ vectors the packed sign bits (d/8 bytes/vector) are the only
    * thing the stage-1 scan touches, and the float vectors are read for
    * candN rows per query only. Here the bit comparison runs unpacked
    * (one zip_with+aggregate of d int compares, codegen'd); packing to
    * LongType words is a storage-layer optimization with identical
    * semantics.
    *
    * Exact-SQL oracle convention: integer Hamming counts (no float
    * ambiguity), ties (hamming, then nid) and the rerank's
    * (cosine desc, nid) both deterministic. Null/zero-norm vectors are
    * excluded at rerank by the cosine-null filter. */
  def signHammingTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                      candN: Int,
                      qId: String = "vec_id", qVec: String = "embedding",
                      cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    require(k >= 1 && k <= candN, s"need 1 <= k=$k <= candN=$candN")
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"))
    val c = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"))
    val hamming = aggregate(
      zip_with(col("qvec"), col("nvec"), (a, b) =>
        when((a > 0) =!= (b > 0), 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    val wH = Window.partitionBy(col("qid"))
      .orderBy(col("hamming").asc, col("nid").asc)
    val cand = q.crossJoin(broadcast(c))
      .withColumn("hamming", hamming)
      // null vectors have a NULL hamming; Spark's asc default is
      // NULLS FIRST, so unfiltered they would silently consume candN
      // shortlist slots (and diverge from the oracle's NULLS LAST) —
      // exclude them BEFORE stage-1 ranking, like matryoshkaTopK
      .filter(col("hamming").isNotNull)
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= candN)
    val wS = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    cand.withColumn("sim", VectorOps.cosine(col("qvec"), col("nvec")))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(wS))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"),
        col("hamming").cast("int").as("hamming"))
  }

  /** Two-stage MATRYOSHKA search (Kusupati et al. NeurIPS'22 MRL
    * serving shape): stage 1 ranks by cosine over the first
    * `prefixDims` dimensions only — an MRL-trained embedding
    * front-loads information, so the prefix is itself a usable
    * embedding at prefixDims/d of the scan cost — keeping `candN`
    * candidates; stage 2 exactly re-ranks the survivors in full
    * dimension. Unlike [[projectVectors]] there is no projection
    * arithmetic at all: the prefix is `slice`, so a column store reads
    * prefixDims/d of the vector bytes in stage 1 and full vectors for
    * candN rows per query only. candN ≥ corpus degenerates to exact
    * search (the control AnnRecallSpec pins). Deterministic ties both
    * stages; exact SQL oracle. */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     candN: Int, prefixDims: Int,
                     qId: String = "vec_id", qVec: String = "embedding",
                     cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    require(k >= 1 && k <= candN, s"need 1 <= k=$k <= candN=$candN")
    require(prefixDims >= 1, s"invalid prefixDims=$prefixDims")
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"),
      slice(col(qVec), 1, prefixDims).as("qpre"))
    val c = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"),
      slice(col(cVec), 1, prefixDims).as("npre"))
    val wP = Window.partitionBy(col("qid"))
      .orderBy(col("psim").desc, col("nid").asc)
    val cand = q.crossJoin(broadcast(c))
      .withColumn("psim", VectorOps.cosine(col("qpre"), col("npre")))
      .filter(col("psim").isNotNull)
      .withColumn("prank", row_number().over(wP))
      .filter(col("prank") <= candN)
    val wS = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    cand.withColumn("sim", VectorOps.cosine(col("qvec"), col("nvec")))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(wS))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
  }

  /** Per-token-slice L2 normalization for late-interaction retrieval:
    * a flat d-dim float vector treated as `tokens` contiguous slices of
    * d/tokens dims, each scaled to unit L2 norm (norm accumulated in
    * double from the float elements, each element divided in double and
    * cast back to float — the engine-portable recipe the oracle
    * replays). All-zero slices stay zero (their dot contributes 0, the
    * padding convention). Runs ONCE per row — this is ColBERT's own
    * factoring: encoders emit unit token vectors so the pair-scoring
    * hot loop is pure dots. Catalyst HOFs, no UDF. */
  def sliceNormalize(vec: Column, tokens: Int, dim: Int): Column = {
    require(tokens > 0 && dim % tokens == 0,
      s"dim=$dim must be a multiple of tokens=$tokens")
    val sub = dim / tokens
    // a wrong-length vector would silently shift EVERY slice (the
    // MaxSim kernel derives sub from the actual length) — garbage
    // scores, not an error; fail the row instead. NULL vectors keep
    // propagating as NULL (they rank last / filter out downstream,
    // the vector-ops convention) — without the explicit first branch
    // they'd fall into raise_error with a NULL-collapsed message.
    val checked = when(vec.isNull, vec)
      .when(size(vec) === dim, vec)
      .otherwise(raise_error(
        concat(lit(s"sliceNormalize: expected a $dim-dim vector, got "),
          size(vec).cast("string"), lit(" dims"))))
    // two HOF passes so the norm aggregate runs ONCE PER SLICE: the
    // struct materializes (slice, norm) values in pass 1, and pass 2's
    // per-element lambda only reads the bound struct fields — a single
    // `val nrm` referenced inside the inner lambda would re-inline the
    // whole aggregate subtree into every element (O(sub²) per token;
    // Catalyst does not CSE across lambda bodies)
    val withNorm = transform(sequence(lit(0), lit(tokens - 1)), t => {
      val sl = slice(checked, t * sub + 1, lit(sub))
      struct(sl.as("sl"),
        sqrt(aggregate(sl, lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))).as("nrm"))
    })
    flatten(transform(withNorm, s =>
      transform(s.getField("sl"), x =>
        when(s.getField("nrm") === 0.0d, x)
          .otherwise((x.cast("double") / s.getField("nrm")).cast("float")))))
  }

  /** ColBERT-style late-interaction top-k (Khattab & Zaharia SIGIR'20):
    * multi-vector retrieval where every document carries `tokens`
    * token-level embeddings (here: contiguous slices of the flat
    * embedding — the storage layout a token-level encoder would emit as
    * one flat array per doc) and relevance is MaxSim,
    * Σ_t max_j dot(q_t, c_j) over unit-normalized slices. Captures
    * term-level matching that a single pooled vector blurs — the
    * quality step between single-vector ANN and a cross-encoder.
    *
    * Physical shape = [[graft.functions.VectorOps.bruteForceTopK]]:
    * slices are normalized ONCE per row (one HOF pass), the corpus side
    * broadcasts, and the pair loop is the native codegen'd
    * [[org.apache.spark.sql.graft.MaxSimDotFloat]] expression inside the
    * broadcast nested-loop join — no interpreted HOFs, no shuffle of
    * the query stream until the per-qid rank. At corpus sizes past
    * broadcast, compose with any candidate generator (LSH/IVF/JL) and
    * MaxSim-rerank the candidates, the standard two-stage ColBERT
    * serving shape. Scores rounded to 6 decimals BEFORE ranking so the
    * rank decision is engine-portable; ties break on nid asc. */
  def maxSimTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 tokens: Int, dim: Int,
                 qId: String = "vec_id", qVec: String = "embedding",
                 cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    require(k >= 1, s"invalid k=$k")
    val q = queries.select(col(qId).as("qid"),
      sliceNormalize(col(qVec), tokens, dim).as("qtoks"))
    val c = broadcast(corpus.select(col(cId).as("nid"),
      sliceNormalize(col(cVec), tokens, dim).as("ntoks")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    q.crossJoin(c)
      .withColumn("score", round(org.apache.spark.sql.graft.VectorExpressions
        .maxSimDot(col("qtoks"), col("ntoks"), tokens), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"),
        col("score"))
  }

  /** The production ColBERT serving shape (Khattab & Zaharia SIGIR'20
    * §3.3, "re-rank" mode): a cheap single-vector candidate stage —
    * pooled-embedding cosine top-candN — then MaxSim re-ranking of the
    * shortlist only. MaxSim's d²/tokens-multiply pair cost is paid for
    * candN rows per query instead of the whole corpus; candN ≥ corpus
    * degenerates to exact [[maxSimTopK]] (the spec's control). Corpus
    * token slices are normalized ONCE before the broadcast so the
    * rerank stage reads them off the candidate row. Both stages break
    * ties on nid; the rerank score is rounded to 6dp before ranking. */
  def maxSimRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                       candN: Int, tokens: Int, dim: Int,
                       qId: String = "vec_id", qVec: String = "embedding",
                       cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    require(k >= 1 && k <= candN, s"need 1 <= k=$k <= candN=$candN")
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"),
      sliceNormalize(col(qVec), tokens, dim).as("qtoks"))
    val c = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"),
      sliceNormalize(col(cVec), tokens, dim).as("ntoks"))
    val wP = Window.partitionBy(col("qid"))
      .orderBy(col("psim").desc, col("nid").asc)
    val cand = q.crossJoin(broadcast(c))
      .withColumn("psim", VectorOps.cosine(col("qvec"), col("nvec")))
      .filter(col("psim").isNotNull)
      .withColumn("prank", row_number().over(wP))
      .filter(col("prank") <= candN)
    val wS = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    cand
      .withColumn("score", round(org.apache.spark.sql.graft.VectorExpressions
        .maxSimDot(col("qtoks"), col("ntoks"), tokens), 6))
      .withColumn("rank", row_number().over(wS))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"),
        col("score"))
  }

  /** Metadata-FILTERED top-k — the "WHERE lang = 'en' AND label = q's"
    * face of vector search, the filtered-search problem every vector
    * store exposes (reference analog: the Atlas $vectorSearch `filter`
    * clause next to the knn stage, main.tf:649-669). Each query row
    * carries its own filter-key value and retrieves only among corpus
    * rows sharing it — PRE-filtering semantics (exact top-k of the
    * filtered subset, recall can't collapse for selective filters the
    * way post-filtering a fixed-k ANN shortlist does).
    *
    * The scale point: this is NOT a cross join + filter. The filter key
    * is the join key, so Catalyst plans a hash equi-join (broadcast or
    * shuffled, its choice by stats) and pair expansion is
    * Σ_v |q_v|·|c_v| — selectivity does the pruning; a label that
    * matches 1% of the corpus costs 1% of brute force. Skewed hot keys
    * ride AQE's skew-join split. FilteredSearchSpec pins the equi-join
    * plan (no BroadcastNestedLoopJoin) and pre≡post-filter parity.
    * Ties break on nid asc; sim rounded to 6dp before ranking. */
  def filteredTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   filterCol: String,
                   qId: String = "vec_id", qVec: String = "embedding",
                   cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    require(k >= 1, s"invalid k=$k")
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"),
      col(filterCol).as("__fk"))
    val c = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"),
      col(filterCol).as("__fk"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    q.join(c, Seq("__fk"))
      .withColumn("sim", round(VectorOps.cosine(col("qvec"), col("nvec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"),
        col("sim"))
  }

  /** Johnson–Lindenstrauss-style random projection: vec → the `planes`
    * dot products (double accumulation in index order — the repo's
    * portable-arithmetic convention — cast to float). With p ≪ d planes
    * this is the dimensionality-reduction path that makes a 100 TB
    * brute-force pass p/d of the cost at a bounded distance distortion
    * (JL lemma); recall vs full-dimension search is pinned in
    * AnnRecallSpec. Planes ride as literals into ONE codegen'd
    * projection — no shuffle, no UDF. */
  def projectVectors(df: DataFrame, vecCol: String,
                     planes: Seq[Seq[Float]], outCol: String): DataFrame =
    df.withColumn(outCol, array(planes.map(p =>
      VectorOps.dotD(col(vecCol), typedLit(p)).cast("float")): _*))

  /** OPQ-lite rotation training (the parametric "OPQ-P" baseline of Ge,
    * He, Ke & Sun, "Optimized Product Quantization", CVPR 2013 §4 —
    * PCA followed by EIGENVALUE-BALANCED allocation of principal
    * directions to the `m` PQ subspaces, a.k.a. PCA-RR): product
    * quantization quantizes each subspace with the same budget, so
    * variance concentrated in one subspace is wasted distortion; the
    * rotation decorrelates dimensions and the allocation spreads
    * variance so every ksub-entry codebook works equally hard. Measured
    * on the test embeddings (500×64, m=16, ksub=32): ADC recall@5
    * 0.34 → 0.43 at the SAME code budget (OpqSpec pins the A/B).
    *
    * Distributed shape: ONE pass computes per-partition (count, Σx,
    * Σxxᵀ) partials — d + d² doubles per partition, collected and
    * combined on the driver (the Lloyd-means transfer bound, d=64 →
    * 32 KB/partition); the d×d eigenproblem is driver-side cyclic
    * Jacobi (deterministic fixed sweep order). Returns the d×d
    * orthonormal matrix R whose COLUMNS are the permuted eigenvectors;
    * rotate with [[rotateVectors]] and train/encode/search PQ on the
    * rotated frame exactly as before — every downstream operator is
    * unchanged.
    *
    * Allocation: eigen-directions in descending-eigenvalue order are
    * greedily assigned to the currently least-loaded (by log-eigenvalue
    * sum) subspace with free slots — the balanced-variance criterion of
    * the paper's parametric solution. */
  def opqTrainRotation(df: DataFrame, vecCol: String, m: Int)
      : Seq[Seq[Double]] = {
    // one pass: per-partition moment partials, bounded driver transfer
    // (the shared Pca.momentStats recipe — upper-triangle accumulation,
    // ragged-vector raise)
    val (_, _, cov) = Pca.momentStats(df, vecCol)
    val d = cov.length
    require(d % m == 0, s"dim $d must divide into m=$m subspaces")
    val (eigVals, eigVecs) = jacobiEigen(cov) // descending eigenvalues
    // balanced allocation of eigen-directions to subspaces
    val dsub = d / m
    val load = new Array[Double](m)
    val buckets = Array.fill(m)(new scala.collection.mutable.ArrayBuffer[Int])
    for (i <- 0 until d) {
      // greedy round-robin in descending-eigenvalue order: fewest-filled
      // bucket first (every bucket gets its r-th direction before any
      // gets its (r+1)-th — forced anyway by the equal-slot constraint),
      // and within a round the SMALLEST-load bucket takes the next
      // (largest remaining) eigenvalue. This form is SHIFT-INVARIANT in
      // log space — uniform scaling of the data adds a constant to every
      // log-eigenvalue and shifts all round-r loads equally, so the
      // allocation cannot change — where a bare load-only min/max greedy
      // silently degenerates to the naive sequential slicing whenever
      // the eigenvalues sit on one side of 1.
      val b = (0 until m).filter(buckets(_).length < dsub)
        .minBy(b => (buckets(b).length, load(b), b))
      buckets(b) += i
      load(b) += math.log(math.max(eigVals(i), 1e-12))
    }
    val perm = buckets.flatMap(_.toSeq)
    // R columns = permuted eigenvectors: row i, col c = V(i)(perm(c))
    Seq.tabulate(d)(i => Seq.tabulate(d)(c => eigVecs(i)(perm(c))))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed sweep order, fixed iteration cap), driver-side
    * (d is the embedding dim, tiny). Returns (eigenvalues desc,
    * eigenvector matrix V with V(row)(col): column col = the
    * eigenvector of eigenvalue col). */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    // RELATIVE convergence thresholds: absolute cutoffs would make the
    // rotation count — and hence the result — depend on the matrix's
    // SCALE, breaking the exact scale-invariance the allocation relies
    // on (a 1024x input must produce the bit-identical eigenbasis)
    var fro = 0.0
    var fi = 0
    while (fi < d) {
      var fj = 0
      while (fj < d) { fro += a(fi)(fj) * a(fi)(fj); fj += 1 }
      fi += 1
    }
    val scale = math.sqrt(fro).max(Double.MinPositiveValue)
    val skipTol = 1e-15 * scale
    val stopTol = (1e-12 * scale) * (1e-12 * scale)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > stopTol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > skipTol) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // theta == 0 (equal diagonal entries) means a FULL 45°
            // rotation, not none: signum(0) = 0 would silently skip it
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { off += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = Array.tabulate(d, d)((i, c) => v(i)(order(c)))
    (vals, vecs)
  }

  /** Apply a trained rotation: vec → Rᵀ·vec (projection onto the
    * permuted eigenbasis), double accumulation, ARRAY<FLOAT> out — the
    * rotated frame feeds pqTrain/pqEncode/pqAdcTopK unchanged. One
    * JIT-compiled UDF call per row (the repo's bounded-array
    * convention; d² multiplies per vector). */
  def rotateVectors(df: DataFrame, vecCol: String,
                    rotation: Seq[Seq[Double]], outCol: String): DataFrame = {
    val r = rotation.map(_.toArray).toArray
    val rot = udf((v: Seq[Float]) =>
      if (v == null) null
      else {
        // strict dimension contract: a truncated/padded projection would
        // be exactly d-dim and slip past every downstream dim guard
        require(v.length == r.length,
          s"rotateVectors: vector of dim ${v.length} vs rotation dim ${r.length}")
        Array.tabulate(r.head.length) { c =>
          var acc = 0.0
          var i = 0
          while (i < r.length) { acc += r(i)(c) * v(i); i += 1 }
          acc.toFloat
        }.toSeq
      })
    df.withColumn(outCol, rot(col(vecCol)))
  }

  /** The broadcast budget every search shares: a query-side frame whose
    * estimate fits is broadcast ([[broadcastGuard]]). The choosers
    * ([[adaptiveTopK]], [[adaptiveIndexedTopK]], `VectorStores.adaptive`)
    * default their corpus threshold to it. */
  private[graft] val BroadcastBudget: Long = 64L * 1024 * 1024

  /** The one broadcast guard (executor memory vs unbounded query
    * batches): `side` carries `perQuery` rows of `rowBytes` for each row
    * of `queries` (vectors of `d` floats) and is broadcast when that fits
    * [[BroadcastBudget]]; past it the join shuffles (or, with no
    * equi-key, runs as a partitioned cartesian). Rows are the INPUT
    * frame's estimate (CBO rowCount, else sizeInBytes over the row
    * width; an RDD-backed frame reports `spark.sql.defaultSizeInBytes`):
    * planning a DERIVED projection just to ask its size cost ~1.1 s of
    * driver time per ann_pq_adc call (r10 bench A/B). */
  private def broadcastGuard(side: DataFrame, queries: DataFrame, d: Int,
                             perQuery: Long, rowBytes: Long): DataFrame = {
    val stats = queries.queryExecution.optimizedPlan.stats
    val rows = stats.rowCount.getOrElse(stats.sizeInBytes / (d.toLong * 4 + 8))
    if (rows * perQuery * rowBytes <= BroadcastBudget) broadcast(side) else side
  }

  /** One lookup-table row: a double per codebook centroid, plus the id. */
  private def lutRowBytes(codebooks: Seq[Seq[Seq[Float]]]): Long =
    codebooks.map(_.size.toLong).sum * 8 + 8

  /** Residual vs the row's assigned coarse centroid: `vec −
    * centroids[cluster]`, elementwise in FLOAT (both engines round the
    * double-exact difference to float identically — double rounding is
    * innocuous at 53 ≥ 2·24+2 bits, so `CAST(aᴰ − bᴰ AS REAL)` in the
    * oracle equals Spark's float subtract bit-for-bit). The guard
    * matters because zip_with pads the SHORTER side with nulls: a
    * wrong-dimension vector would otherwise produce a correctly-sized
    * residual full of nulls and encode to garbage downstream. */
  private def residualVs(vec: Column, cluster: Column,
                         centroids: Seq[Seq[Float]], fn: String): Column = {
    val d = centroids.head.length
    val cent = element_at(typedLit(centroids), cluster + 1)
    when(size(vec) === d, zip_with(vec, cent, (a, b) => a - b))
      .otherwise(raise_error(concat(
        lit(s"$fn: vector dimension must be $d, got "),
        size(vec).cast("string"))).cast("array<float>"))
  }

  /** IVF-PQ index build (Jégou TPAMI'11 §IV): assign each corpus vector
    * to its nearest coarse centroid ([[ivfAssign]]), then PQ-encode the
    * RESIDUAL `vec − centroid[cluster]` — residuals have far smaller
    * spread than raw vectors, so the same codebook budget quantizes
    * them much more accurately. Output carries (cluster, rvec, codes):
    * cluster is the partition key the search side prunes on, codes the
    * m-int compressed payload. Pure per-row map, zero shuffle — at
    * build time this runs once over the corpus and the (cluster, codes)
    * pairs ARE the stored index. */
  /** Corpus annotated with (cluster, rvec): IVF assign + residual vs the
    * assigned centroid — the shared front half of [[ivfPqEncode]], public
    * because residual-codebook TRAINING needs the residual frame too
    * (PQ codebooks for IVFADC are trained on residuals, not raw
    * vectors — Jégou TPAMI'11 §IV.A). Pure per-row map, zero shuffle. */
  def ivfResiduals(df: DataFrame, centroids: Seq[Seq[Float]],
                   vecCol: String = "embedding"): DataFrame =
    ivfAssign(df, centroids, vecCol)
      .withColumn("rvec",
        residualVs(col(vecCol), col("cluster"), centroids, "ivfResiduals"))

  def ivfPqEncode(df: DataFrame, centroids: Seq[Seq[Float]],
                  codebooks: Seq[Seq[Seq[Float]]],
                  vecCol: String = "embedding"): DataFrame = {
    val (m, dsub) = validateCodebooks(codebooks)
    require(centroids.nonEmpty && centroids.forall(_.length == m * dsub),
      s"coarse centroids must have dimension ${m * dsub} (m*dsub)")
    pqEncode(ivfResiduals(df, centroids, vecCol), codebooks, "rvec")
  }

  /** IVFADC search — the canonical 10¹¹-vector index shape: IVF's
    * probe pruning composed with PQ's compressed scan. The corpus is
    * residual-encoded per coarse cell ([[ivfPqEncode]]); each query
    * fans out to its `nProbe` nearest cells and builds PER-CELL lookup
    * tables from its OWN residual vs that cell's centroid (both sides
    * subtract the same centroid, so with lossless codes the ADC score
    * is exactly ‖q − x‖² — probing every cell with a corpus-derived
    * codebook IS exact search, the AnnRecallSpec control). Search cost:
    * nProbe cells' members × m table lookups, not |corpus| × d floats.
    *
    * Plan shape: the corpus streams as (cluster, m ints) — never
    * shuffled, never broadcast; the probe-expanded query side
    * (queries × nProbe rows, each m × ksub doubles of LUT) broadcasts
    * into ONE equi-join on the cluster id ([[probeJoin]]) — a
    * BroadcastHashJoin, so only cells a query probes are ever scored,
    * vs [[pqAdcTopK]]'s full-scan cartesian. The shared guard drops the
    * hint for unbounded query batches. */
  def ivfPqAdcTopK(queries: DataFrame, corpus: DataFrame,
                   centroids: Seq[Seq[Float]],
                   codebooks: Seq[Seq[Seq[Float]]], k: Int, nProbe: Int = 1,
                   qId: String = "vec_id", qVec: String = "embedding",
                   cId: String = "vec_id", cVec: String = "embedding",
                   preEncoded: Boolean = false): DataFrame =
    // preEncoded: the stored-index regime (pqAdcTopK's contract) — the
    // corpus frame already carries (cluster, codes) from ivfPqEncode /
    // a persisted index, so encoding is skipped entirely
    ivfPqAdc("ivfPqAdcTopK", queries,
      if (preEncoded)
        corpus.select(col(cId).as("nid"), col("cluster"), col("codes"))
      else ivfPqEncode(
          corpus.select(col(cId).as("nid"), col(cVec).as("nvec")),
          centroids, codebooks, "nvec")
        .select(col("nid"), col("cluster"), col("codes")),
      centroids, codebooks, k, nProbe, qId, qVec)

  /** The ADC scoring of [[ivfPqAdcTopK]] and [[searchIvfPqIndex]] over
    * `codes` — (nid, cluster, codes) rows, built only after the
    * refusals. */
  private def ivfPqAdc(op: String, queries: DataFrame, codes: => DataFrame,
                       centroids: Seq[Seq[Float]],
                       codebooks: Seq[Seq[Seq[Float]]], k: Int, nProbe: Int,
                       qId: String, qVec: String): DataFrame = {
    val (m, dsub) = validateCodebooks(codebooks)
    require(centroids.forall(_.length == m * dsub),
      s"$op: coarse centroids must have dimension ${m * dsub} (m*dsub)")
    adcTopK(probeJoin(op, codes, queries, qId, qVec, centroids, nProbe,
        lutRowBytes(codebooks)) { q =>
      // per probed cell: residual of the query vs THAT cell's centroid,
      // then the per-subspace distance tables over the residual via the
      // native kernel (see pqAdcTopK)
      q.select(col("qid"), col("cluster"),
        org.apache.spark.sql.graft.PqExpressions.lookupTables(
          residualVs(col("qvec"), col("cluster"), centroids, op),
          codebooks, op).as("luts"))
    }, m, k)
  }

  // ——— driver-sized sidecars ————————————————————————————————————————
  /** An element type a sidecar stores, as its raw big-endian bits, so
    * floats and doubles round-trip bit-exactly (-0.0 and subnormals
    * included). */
  private[graft] sealed abstract class SidecarElem[T](val tag: Char) {
    def put(out: java.io.DataOutputStream, v: T): Unit
    def get(in: java.io.DataInputStream): T
  }
  private[graft] object SidecarElem {
    implicit object F32 extends SidecarElem[Float]('F') {
      def put(out: java.io.DataOutputStream, v: Float): Unit =
        out.writeInt(java.lang.Float.floatToRawIntBits(v))
      def get(in: java.io.DataInputStream): Float =
        java.lang.Float.intBitsToFloat(in.readInt())
    }
    implicit object F64 extends SidecarElem[Double]('D') {
      def put(out: java.io.DataOutputStream, v: Double): Unit =
        out.writeLong(java.lang.Double.doubleToRawLongBits(v))
      def get(in: java.io.DataInputStream): Double =
        java.lang.Double.longBitsToDouble(in.readLong())
    }
    implicit object I64 extends SidecarElem[Long]('J') {
      def put(out: java.io.DataOutputStream, v: Long): Unit = out.writeLong(v)
      def get(in: java.io.DataInputStream): Long = in.readLong()
    }
  }

  private val SidecarMagic = 0x47534331 // "GSC1"

  private def sidecarFile(spark: org.apache.spark.sql.SparkSession,
                          path: String, name: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$name")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** THE sidecar writer: `<path>/<name>` becomes one small file — the
    * magic "GSC1", the element tag, then blocks of rows of values, each
    * level prefixed by its length — replaced atomically
    * ([[graft.io.SmallFiles.replace]]), without a Spark job. Sidecars
    * are driver-sized: `centroids` (one cells × d block of floats),
    * `codebooks` (one ksub × dsub block per subspace), `rotation` (one
    * d × d block of doubles) and `cellstats` (one row of per-cell
    * counts). */
  private[graft] def writeSidecar[T](spark: org.apache.spark.sql.SparkSession,
                                     path: String, name: String,
                                     blocks: Seq[Seq[Seq[T]]])
                                    (implicit e: SidecarElem[T]): Unit = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    out.writeInt(SidecarMagic)
    out.writeChar(e.tag)
    out.writeInt(blocks.size)
    blocks.foreach { b =>
      out.writeInt(b.size)
      b.foreach { row => out.writeInt(row.size); row.foreach(e.put(out, _)) }
    }
    out.flush()
    val (fs, p) = sidecarFile(spark, path, name)
    graft.io.SmallFiles.replace(fs, p, bytes.toByteArray)
  }

  /** THE sidecar reader, [[writeSidecar]]'s inverse. A missing sidecar
    * raises FileNotFoundException; one that is a directory — the
    * parquet table an older graft wrote — is refused by name, so an
    * index built before sidecars were files asks for its rebuild. */
  private[graft] def readSidecar[T](spark: org.apache.spark.sql.SparkSession,
                                    path: String, name: String)
                                   (implicit e: SidecarElem[T])
      : Seq[Seq[Seq[T]]] = {
    val (fs, p) = sidecarFile(spark, path, name)
    val bytes =
      try graft.io.SmallFiles.read(fs, p)
      catch {
        case _: java.io.IOException
            if scala.util.Try(fs.getFileStatus(p).isDirectory).getOrElse(false) =>
          throw new IllegalStateException(
            s"IVF index sidecar '$name' at $path is a parquet directory, " +
              "the layout of an older graft; sidecars are now single " +
              "files. Rebuild the index with writeIvfFlatIndex (or " +
              "writeIvfPqIndex).")
      }
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    if (bytes.length < 6 || in.readInt() != SidecarMagic || in.readChar() != e.tag)
      throw new IllegalStateException(
        s"$p is not a graft index sidecar of '${e.tag}' values")
    val blocks = Vector.fill(in.readInt())(
      Vector.fill(in.readInt())(Vector.fill(in.readInt())(e.get(in))))
    if (in.available() != 0) throw new IllegalStateException(
      s"$p: ${in.available()} trailing bytes after the sidecar's values")
    blocks
  }

  /** The index's centroid matrix (cells × d floats). */
  private[graft] def centroidsOf(spark: org.apache.spark.sql.SparkSession,
                                 path: String): Seq[Seq[Float]] =
    readSidecar[Float](spark, path, "centroids").head

  /** The index's row count per cell, over every cell (zeros included). */
  private[graft] def cellCountsOf(spark: org.apache.spark.sql.SparkSession,
                                  path: String): Seq[Long] =
    readSidecar[Long](spark, path, "cellstats").head.head

  private def writeCellstats(spark: org.apache.spark.sql.SparkSession,
                             path: String, counts: Seq[Long]): Unit =
    writeSidecar(spark, path, "cellstats", Seq(Seq(counts)))

  /** Persist an IVFADC index: the (nid, cluster, codes) frame written as
    * parquet PARTITIONED BY the coarse cell — probe pruning becomes
    * on-disk partition pruning, so a search touches only its probed
    * cells' files (at 10¹¹ vectors the codes ARE the index and this is
    * the difference between reading m·n bytes and m·n·nProbe/k_cells).
    * Centroids and codebooks ride as small sidecar files
    * ([[writeSidecar]]: `centroids` one cells × d block, `codebooks` one
    * ksub × dsub block per subspace) — read and written without a Spark
    * job, floats bit-exact. The reference analog is the Atlas vector
    * index the coach pipeline searches (terraform main.tf:594-635).
    *
    * @param rotation optional OPQ rotation ([[opqTrainRotation]]): when
    *   set, corpus vectors are ROTATED before coarse assignment and PQ
    *   encoding, and `centroids`/`codebooks` must already live in the
    *   ROTATED space (train them on a [[rotateVectors]]-projected frame).
    *   R is persisted as a `rotation` sidecar so [[searchIvfPqIndex]]
    *   applies the identical projection to query batches — the OPQ
    *   recall lift (OpqSpec's A/B) carried onto the serving path.
    *   TRAIN R ON THE RESIDUALS, not the raw vectors: IVFADC quantizes
    *   residuals, and since R·v − R·c = R·(v−c), rotating the full
    *   vectors rotates the residuals identically — so the covariance
    *   that matters is the residual distribution's
    *   (`opqTrainRotation(ivfResiduals(corpus, cents), "rvec", m)`).
    *   A raw-vector-trained R decorrelates the wrong space and can COST
    *   recall (IvfPqIndexSpec pins the A/B: 0.31 → 0.36 residual-trained
    *   vs 0.29 raw-trained on the test embeddings). */
  def writeIvfPqIndex(corpus: DataFrame, centroids: Seq[Seq[Float]],
                      codebooks: Seq[Seq[Seq[Float]]], path: String,
                      cId: String = "vec_id",
                      cVec: String = "embedding",
                      rotation: Option[Seq[Seq[Double]]] = None): Unit = {
    val spark = corpus.sparkSession
    val prepared = rotation match {
      case Some(r) =>
        rotateVectors(corpus, cVec, r, "__rvec")
          .select(col(cId).as("nid"), col("__rvec").as("nvec"))
      case None => corpus.select(col(cId).as("nid"), col(cVec).as("nvec"))
    }
    payloadWriter(ivfPqEncode(prepared, centroids, codebooks, "nvec")
      .select(col("nid"), col("cluster"), col("codes")))
      .mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/codes")
    // a rotation-free rebuild must DELETE a previous build's rotation:
    // a stale one would make searchIvfPqIndex silently rotate queries
    // against un-rotated codes — wrong results, no error
    clearIndexPaths(spark, path, "centroids", "codebooks", "rotation")
    writeSidecar(spark, path, "centroids", Seq(centroids))
    writeSidecar(spark, path, "codebooks", codebooks)
    rotation.foreach(r => writeSidecar(spark, path, "rotation", Seq(r)))
  }

  /** The OPQ rotation sidecar of a persisted index (d×d doubles,
    * `R(i)(c)` row-major), if one was written. */
  def readIvfPqRotation(spark: org.apache.spark.sql.SparkSession,
                        path: String): Option[Seq[Seq[Double]]] =
    try Some(readSidecar[Double](spark, path, "rotation").head)
    catch { case _: java.io.FileNotFoundException => None }

  /** The centroid and codebook sidecars of a persisted index (k×dim
    * centroid + m×ksub×dsub codebook floats; no Spark job). */
  def readIvfPqIndexMeta(spark: org.apache.spark.sql.SparkSession,
                         path: String): (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) =
    (centroidsOf(spark, path), readSidecar[Float](spark, path, "codebooks"))

  /** Search a persisted IVFADC index: ONE lazy plan — the codes scan
    * joins the probe-expanded LUT side on the cell ([[probeJoin]]), and
    * dynamic partition pruning puts the probed cells on the scan, so
    * only their files are read; building the frame runs no Spark job
    * beyond the codes' parquet footer read. Above the broadcast budget
    * the scan reads every cell (the [[searchIvfFlatIndex]] rule).
    * Identical results to [[ivfPqAdcTopK]] over the original corpus
    * (IvfPqIndexSpec pins the equality, the partitions read and the
    * jobs). */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, k: Int, nProbe: Int = 1,
                       qId: String = "vec_id",
                       qVec: String = "embedding"): DataFrame = {
    val (cents, books) = readIvfPqIndexMeta(spark, path)
    // an OPQ-built index (rotation sidecar present) projects the query
    // batch into the index's rotated space — one UDF pass over the
    // query rows only; the corpus was rotated once at build time
    val q = readIvfPqRotation(spark, path) match {
      case Some(r) =>
        rotateVectors(queries, qVec, r, "__rvec")
          .select(col(qId), col("__rvec").as(qVec))
      case None => queries
    }
    ivfPqAdc("searchIvfPqIndex", q, spark.read.parquet(s"$path/codes"),
      cents, books, k, nProbe, qId, qVec)
  }

  /** Parquet tuning every payload write shares: rows sorted by `nid`
    * within each cell file (tight min/max page stats → row-group skip
    * on point lookups) plus a bloom filter on `nid` (the tombstone
    * anti-join and replay dedup probe by nid; at 10⁹ rows per cell a
    * negative probe should cost a filter check, not a column scan). */
  private def payloadWriter(df: DataFrame) =
    df.sortWithinPartitions(col("cluster"), col("nid"))
      .write.option("parquet.bloom.filter.enabled#nid", "true")

  /** Write the IVF-FLAT side of a persisted index: raw vectors (plus
    * caller payload columns — document ids, chunk text) partitioned by
    * their coarse cell, with a `cellstats` sidecar of per-cell counts.
    * On-disk layout under `path`:
    *  - `payload/cluster=<c>/` parquet rows (nid, nvec, __useq, payload
    *    columns…), sorted by nid, with a bloom filter on nid;
    *  - `tombstones/` parquet (nid, seq), appended by deletes and
    *    upserts, cleared by compaction (a build starts without one);
    *  - `centroids` one small file, the cells × d float matrix;
    *  - `cellstats` one small file, one row count per cell (zeros
    *    included), bumped by every append/upsert.
    * The two sidecars are [[writeSidecar]] files: read and replaced
    * atomically without a Spark job. A sidecar that is a parquet
    * directory (an index built by an older graft) is refused by name.
    * This is the classic IndexIVFFlat layout: probe pruning runs as
    * on-disk partition pruning and scoring inside probed cells is EXACT
    * (no quantization error), so `numCandidates ≥ corpus` degenerates to
    * brute force — the invariant the serving gate relies on. The
    * reference analog is the Atlas vector index the coach searches
    * laterally (terraform main.tf:649-669; numCandidates knob
    * generate_personalized_commands.sh:304). Pairs with
    * [[writeIvfPqIndex]] at the same `path` (shared `centroids`
    * sidecar): codes are the compressed ADC scan, payload the exact
    * serving/rerank side. */
  def writeIvfFlatIndex(corpus: DataFrame, centroids: Seq[Seq[Float]],
                        path: String, cId: String = "vec_id",
                        cVec: String = "embedding",
                        payloadCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    // batch-built rows carry version -1: any upsert's tombstone
    // (at seq-1 >= -1 for seq >= 0) supersedes them — see
    // [[upsertIvfFlatBatch]]. Writing the column here keeps every
    // file of a post-build index schema-uniform, which is what lets
    // the read paths rely on plain schema inference.
    payloadWriter(ivfAssign(corpus, centroids, cVec)
      .select(Seq(col(cId).as("nid"), col(cVec).as("nvec"),
        col("cluster"), lit(-1L).as("__useq")) ++ payloadCols.map(col): _*))
      .mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/payload")
    // a (re)build is a FRESH index: a tombstones sidecar left from a
    // previous era at this path would mask the new rows wholesale
    // (every old tombstone's seq ≥ 0 hides the rebuilt rows' version
    // -1) — the exact silent-loss a "recreate the index shell" reset
    // is told to rely on. Overwrite semantics must cover it too.
    clearIndexPaths(spark, path, "tombstones", "centroids", "cellstats")
    writeSidecar(spark, path, "centroids", Seq(centroids))
    // per-cell counts: drive the numCandidates→nProbe mapping without
    // touching the data at search time. An EMPTY shell (centroids
    // only, rows arriving later via the sync pump / streamed appends)
    // is a legitimate bootstrap: all zeros
    writeCellstats(spark, path,
      cellCountsIn(spark, s"$path/payload", centroids.size))
  }

  /** Delete `names` under an index root, whatever they are: a full
    * (re)build or rewrite replaces them, and a sidecar an older graft
    * wrote as a parquet directory must not block the new file. */
  private def clearIndexPaths(spark: org.apache.spark.sql.SparkSession,
                              path: String, names: String*): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    names.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
  }

  /** One row count per cell, zeros included, as aggregate columns over a
    * frame with a `cluster` column — the metrics an append's checkpoint
    * job carries, and the one aggregate a rewrite counts with. */
  private def cellCountCols(cells: Int): Seq[Column] =
    (0 until cells).map(c => count_if(col("cluster") === c))

  /** Per-cell row counts of a payload dir (one job). A dir with no
    * parquet files (an empty shell, a fully-deleted index after a
    * rewrite) counts all zeros. */
  private def cellCountsIn(spark: org.apache.spark.sql.SparkSession,
                           payloadDir: String, cells: Int): Seq[Long] = {
    val counts = cellCountCols(cells)
    val row = readParquetOrEmpty(spark, payloadDir, rawPayloadSchema(Nil))
      .agg(counts.head, counts.tail: _*).head()
    (0 until cells).map(row.getLong)
  }

  /** numCandidates → probe depth: the smallest P such that the P
    * SMALLEST cells already cover `numCandidates` rows — conservative
    * (any actual probe set of P cells is at least as large), so the
    * candidate-count contract holds for every query in the batch with
    * one uniform P. `cellSizes` must list EVERY cell, empty ones as 0:
    * a query's nearest cells may be the empty ones, and only counting
    * them makes numCandidates ≥ corpus probe every cell ⇒ exact
    * search. */
  def nProbeFor(cellSizes: Seq[Long], numCandidates: Int): Int = {
    if (cellSizes.isEmpty) return 1
    val sorted = cellSizes.sorted
    val need = math.min(numCandidates.toLong, sorted.sum)
    var acc = 0L; var p = 0
    while (p < sorted.length && acc < need) { acc += sorted(p); p += 1 }
    math.max(1, p)
  }

  /** IVF-Flat search over a persisted index: map `numCandidates` to a
    * probe depth from the cellstats sidecar (read with the centroids,
    * no Spark job), join the payload to the probe-expanded query side
    * on the cell id, then EXACT cosine top-k inside the probed cells.
    * Identical arithmetic and tie-break to [[bruteForceTopK]], so with
    * numCandidates ≥ corpus the result is bit-identical to the exact
    * scan — the rag_vector_topk_indexed correctness gate.
    *
    * Plan shape: ONE lazy plan — building the frame runs no Spark job
    * beyond the payload's parquet footer read (none when the caller
    * hands in a built `payloadFrame`). The probe-expanded query side
    * broadcasts into ONE equi-join on the cell id ([[probeJoin]]: the
    * optimizer's dynamic partition pruning reads only the probed cells)
    * + a per-query window top-k. No corpus broadcast, no cartesian.
    *
    * Live rows: tombstones hide masked rows ([[maskTombstones]]), and
    * the ranking drops at-least-once replays — `dense_rank` over
    * (sim desc, nid asc) gives byte-identical copies one rank, and one
    * row per (qid, nid, rank) is kept. A key's superseded versions are
    * tombstoned by every writer (and backfilled by IndexSync's
    * bootstrap guard), so no version pick is needed here; the window
    * already hash-partitions by qid, so the deduplication adds no
    * Exchange.
    *
    * `payloadFilter`: metadata PRE-filtering on the index's payload
    * columns (the vector-store `filter` clause, served from the
    * index): rows failing the predicate are dropped BEFORE scoring and
    * ranking, so the result is the exact top-k of the filtered subset
    * within probed cells — never a post-filtered shortlist that can
    * run dry. The predicate lands in the parquet scan's PushedFilters
    * (row-group stats skip non-matching groups on disk), stacking on
    * the cluster pruning — pinned by FilteredSearchSpec. */
  def searchIvfFlatIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, queries: DataFrame, k: Int,
                         numCandidates: Int = 150,
                         qId: String = "vec_id", qVec: String = "embedding",
                         payloadCols: Seq[String] = Nil,
                         payloadFrame: Option[DataFrame] = None,
                         payloadFilter: Option[Column] = None)
      : DataFrame = {
    val cents = centroidsOf(spark, path)
    val nProbe = nProbeFor(cellCountsOf(spark, path), numCandidates)
    // `payloadFrame`: a serving caller can hand in the payload frame
    // built ONCE (file listing + schema resolution amortized across
    // searches); pruning still applies per call through the join
    val raw = payloadFrame.getOrElse(readPayload(spark, path, payloadCols))
    // metadata pre-filter BEFORE tombstones/scoring: Catalyst pushes it
    // into the parquet scan
    val payload = maskTombstones(spark, path,
      payloadFilter.map(raw.filter).getOrElse(raw))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    probeJoin("searchIvfFlatIndex", payload, queries, qId, qVec, cents,
        nProbe, probeRowBytes = cents.head.length * 4L + 16)(identity)
      .withColumn("sim", VectorOps.cosine(col("qvec"), col("nvec")))
      .withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= k)
      .dropDuplicates("qid", "nid", "rank")
      .select(Seq(col("qid"), col("nid"),
        col("rank").cast("int").as("rank"),
        col("sim").as("score")) ++ payloadCols.map(col): _*)
  }

  /** Append a micro-batch to a persisted IVF-Flat index (LSM-style
    * maintenance, the streaming-upsert half of the reference's
    * continuously-running MongoDB sink connector, main.tf:594-635):
    * assign each row to its coarse cell with the INDEX's own centroids
    * sidecar, append the rows to their cluster partitions — a pure
    * partitioned write, no driver collect of vectors — and bump the
    * cellstats counts, which ride the batch's one checkpoint job
    * ([[writeBatch]]).
    *
    * At-least-once semantics: a replayed batch re-appends IDENTICAL
    * rows (the nid is a content hash, so same text ⇒ same nid, vector,
    * payload). Appends stay cheap by NOT checking for duplicates;
    * [[searchIvfFlatIndex]]'s ranking collapses them logically and
    * [[compactIvfFlatIndex]] removes them physically — the standard
    * LSM split of write-path vs read-path vs maintenance cost. */
  def appendIvfFlatBatch(batch: DataFrame, path: String,
                         cId: String = "vec_id", cVec: String = "embedding",
                         payloadCols: Seq[String] = Nil): Unit =
    // version -1, as a batch build writes: any upsert supersedes it
    writeBatch(batch, path, col(cId), cVec, lit(-1L), payloadCols,
      tombstoneOld = false)

  /** VERSIONED upsert into a persisted IVF-Flat index — the
    * change-data apply the reference's continuously-running MongoDB
    * sink connector performs on Atlas (main.tf:594-635), re-expressed
    * as an LSM write: each upserted key's new row is APPENDED with its
    * change sequence number (`__useq` = `cSeq`), and every OLDER
    * version of that key is masked by a tombstone at `seq-1` (the
    * versioned mask rule: a tombstone at s hides rows with
    * `__useq <= s`). No base read, no partition rewrite — per-batch
    * cost ∝ the batch, never the index.
    *
    * Ordering: tombstones land BEFORE the payload append, so a crash
    * between the two leaves the key temporarily ABSENT (a stale read
    * the replay heals) rather than serving two live versions of one
    * nid with an arbitrary winner. At-least-once replays converge:
    * re-appended rows are byte-identical (collapsed by the search's
    * ranking until compaction) and re-appended tombstones are
    * idempotent.
    * Multiple versions of one key inside a single batch are
    * self-consistent under the mask rule — only the highest-seq row
    * survives. Sequence numbers must be >= 0 and monotone per key
    * across calls (the CDC changelog contract); a DELETE is a
    * tombstone at the delete's own seq — see
    * [[graft.streaming.IndexSync]] for the composed consumer.
    *
    * Cost per call ([[writeBatch]]): the embedded, cell-assigned batch
    * is materialized ONCE ([[Checkpoint]]) and feeds the old-version
    * tombstones and the payload append, so an embedding stage inside
    * `batch` (a model call per row) runs once per row, not once per
    * consumer, and the seq refusal fires before anything is written.
    * Jobs: that checkpoint, the tombstone append (when `tombstoneOld`)
    * and the payload append. On a cluster, executor loss fails the
    * call instead of recomputing the batch; the CDC apply is replayed
    * at-least-once. */
  def upsertIvfFlatBatch(batch: DataFrame, path: String,
                         cId: String = "vec_id", cVec: String = "embedding",
                         cSeq: String = "seq",
                         payloadCols: Seq[String] = Nil,
                         tombstoneOld: Boolean = true): Unit =
    writeBatch(batch, path, col(cId).cast("string"), cVec,
      changeSeq(col(cSeq)), payloadCols, tombstoneOld)

  /** The one write body of [[appendIvfFlatBatch]] and
    * [[upsertIvfFlatBatch]]: assign the batch to the index's cells and
    * materialize it in one [[Checkpoint]] job that also counts its rows
    * per cell (one `count_if` per cell); append the old-version
    * tombstones (when `tombstoneOld`, tombstones first — see the upsert
    * ordering note) and the payload rows from that checkpoint; then
    * add the counts to the `cellstats` sidecar (a small-file rewrite,
    * no job). The counts keep the superseded versions an upsert's
    * tombstones mask until compaction restores the exact counts; while
    * they do, a numCandidates between the live and the counted total
    * maps to fewer cells than the live rows need (not exact). */
  private def writeBatch(batch: DataFrame, path: String, nid: Column,
                         cVec: String, version: Column,
                         payloadCols: Seq[String],
                         tombstoneOld: Boolean): Unit = {
    val spark = batch.sparkSession
    val cents = centroidsOf(spark, path)
    val old = cellCountsOf(spark, path)
    require(old.size == cents.size, s"IVF-Flat index at $path: " +
      s"cellstats lists ${old.size} cells, centroids ${cents.size}")
    val (assigned, added) = Checkpoint(ivfAssign(batch, cents, cVec)
      .select(Seq(nid.as("nid"), col(cVec).as("nvec"), col("cluster"),
        version.as("__useq")) ++ payloadCols.map(col): _*),
      cellCountCols(cents.size): _*)
    try {
      // skipped for batches the caller KNOWS are new keys (bootstrap):
      // an empty index has no older versions to mask, and a
      // corpus-sized bootstrap would otherwise leave one tombstone per
      // document for every later search to aggregate and broadcast
      if (tombstoneOld)
        assigned.select(col("nid"), (col("__useq") - 1L).as("seq"))
          .write.mode("append").parquet(s"$path/tombstones")
      payloadWriter(assigned).mode("append").partitionBy("cluster")
        .parquet(s"$path/payload")
      writeCellstats(spark, path, old.indices.map(c => old(c) + added.getLong(c)))
    } finally Checkpoint.release(assigned)
  }

  /** A change seq as the index versions it: a long, refused by name
    * when null or negative. A NULL seq would write a null-seq tombstone
    * and a null-version row, which the mask rule never orders — the key
    * would serve or vanish by accident. Loud beats that. */
  private[graft] def changeSeq(seq: Column): Column = {
    val s = seq.cast("long")
    when(s.isNotNull && s >= 0L, s).otherwise(raise_error(lit(
      "upsertIvfFlatBatch: change seq must be a non-negative long " +
        "(a null seq masks the key's own new version forever)")))
  }

  /** Append VERSIONED tombstones (nid, seq) — the delete half of the
    * CDC apply: a tombstone at `seq` masks every row of its nid with
    * `__useq <= seq`, so a later RE-INSERT at a higher seq resurrects
    * the key (unlike [[deleteFromIvfFlatIndex]]'s MaxValue seq, which
    * masks every version until compaction). Idempotent under replay. */
  def tombstoneIvfFlat(spark: org.apache.spark.sql.SparkSession,
                       path: String, tombs: DataFrame): Unit =
    tombs.select(col("nid").cast("string").as("nid"),
        col("seq").cast("long").as("seq"))
      .write.mode("append").parquet(s"$path/tombstones")

  /** Tombstone rows of a persisted index by nid: deletes append to a
    * `tombstones` sidecar (cheap, no partition rewrite);
    * [[searchIvfFlatIndex]] masks tombstoned rows with a broadcast
    * anti-join and [[compactIvfFlatIndex]] removes them physically.
    * Each tombstone carries seq Long.MaxValue, so it masks every
    * version of its nid. Idempotent: deleting an nid twice appends a
    * duplicate tombstone, which masks identically and compacts away. */
  def deleteFromIvfFlatIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, nids: Seq[String]): Unit = {
    import spark.implicits._
    nids.map((_, Long.MaxValue)).toDF("nid", "seq")
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** Compact a persisted IVF-Flat index: rewrite the payload as its
    * [[liveRows]] (replayed duplicates and superseded versions
    * dropped, tombstoned rows removed), one file per cluster
    * partition; refresh cellstats from the rewritten truth and clear
    * the tombstones. After compaction, searches find neither replays
    * to collapse nor rows to mask — the weekly maintenance
    * pass a real 100 TB index runs (small-file collapse + physical
    * delete). The rewrite goes through [[writeCompacted]], so a crash
    * mid-compact leaves the original payload intact. */
  def compactIvfFlatIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit =
    writeCompacted(spark, path,
      liveRows(spark, Seq(path -> readPayload(spark, path))),
      centroidsOf(spark, path))

  /** THE live-rows rule of the index, shared by compaction, merge,
    * migration and the health report: each index's own
    * tombstones mask its payload ([[maskTombstones]]), then the HIGHEST
    * surviving `__useq` per nid wins. Masking first matters: a nid can
    * carry several versions, and a dedup running first could keep one
    * the mask is about to hide. Post-mask ties are byte-identical
    * replays (content-keyed nids), so which one wins is immaterial.
    * Several indexes (a merge) mask separately — their seq spaces do
    * not compose — before the one cross-index pick. */
  private def liveRows(spark: org.apache.spark.sql.SparkSession,
                       payloads: Seq[(String, DataFrame)]): DataFrame = {
    val masked = payloads
      .map { case (path, df) => maskTombstones(spark, path, df) }
      .reduce(_ unionByName _)
    val w = Window.partitionBy(col("nid")).orderBy(col("__useq").desc)
    masked.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The rewrite step compaction, merge and migration share: stage
    * `payload` one file per cell at `payload.staged`, count its cells
    * from the STAGED dir (after the swap a lazy frame over the old
    * payload would re-read deleted files; a fully-deleted index stages
    * no parquet file and counts all zeros), swap it in with
    * [[swapDir]], clear the tombstones the rewrite applied, and write
    * the `cellstats` and `centroids` sidecars. */
  private def writeCompacted(spark: org.apache.spark.sql.SparkSession,
                             root: String, payload: DataFrame,
                             centroids: Seq[Seq[Float]]): Unit = {
    // repartition on the partition column: every cell's rows land in
    // one task, so each cluster directory collapses to ONE file (the
    // small-file fix micro-batch appends make necessary)
    payloadWriter(payload.repartition(col("cluster")))
      .mode("overwrite").partitionBy("cluster")
      .parquet(s"$root/payload.staged")
    val counts = cellCountsIn(spark, s"$root/payload.staged", centroids.size)
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def at(name: String) = new org.apache.hadoop.fs.Path(dir, name)
    swapDir(fs, at("payload.staged"), at("payload"))
    clearIndexPaths(spark, root, "tombstones")
    writeCellstats(spark, root, counts)
    writeSidecar(spark, root, "centroids", Seq(centroids))
  }

  /** Replace `live` (if present) with `staged`: retire the live dir to
    * `<live>.old`, move the staged one in, drop the retired one. Both
    * renames are CHECKED: Hadoop rename returns false instead of
    * throwing on object-store backends, and a silent false would strand
    * the index mid-swap with no error. */
  private[graft] def swapDir(fs: org.apache.hadoop.fs.FileSystem,
                             staged: org.apache.hadoop.fs.Path,
                             live: org.apache.hadoop.fs.Path): Unit = {
    def renamed(from: org.apache.hadoop.fs.Path,
                to: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(from, to)) throw new java.io.IOException(
        s"IVF-Flat index swap: rename $from -> $to failed")
    val retired = live.suffix(".old")
    if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(live)) renamed(live, retired)
    renamed(staged, live)
    fs.delete(retired, true)
  }

  /** The IVF-flat payload frame's schema for the zero-file fallback —
    * THE single definition of the payload layout every writer produces:
    * (nid, nvec, cluster, __useq, payload columns…). */
  private[graft] def rawPayloadSchema(payloadCols: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("nid", StringType),
      StructField("nvec", ArrayType(FloatType)),
      StructField("cluster", IntegerType),
      StructField("__useq", LongType)) ++
      payloadCols.map(c => StructField(c, StringType)))
  }

  /** THE payload read every index path shares (search, the serving
    * store's pin, report, compaction, merge, migration). An existing
    * payload dir with no parquet files reads as an empty frame of
    * [[rawPayloadSchema]] — an emptied-then-compacted index serves ZERO
    * hits (payload column types degrade to string in that zero-row
    * edge, harmless with no rows to carry them). Every writer gives
    * each row a non-null `__useq` version (a batch build -1, an upsert
    * its change seq), so a payload without the column was not written
    * by this library: it is refused here, where the schema is already
    * resolved, at no extra IO. */
  private[graft] def readPayload(spark: org.apache.spark.sql.SparkSession,
                                 path: String,
                                 payloadCols: Seq[String] = Nil): DataFrame = {
    val df = readParquetOrEmpty(spark, s"$path/payload",
      rawPayloadSchema(payloadCols))
    if (!df.columns.contains("__useq")) throw new IllegalStateException(
      s"unversioned IVF-Flat payload at $path: its files lack the " +
        "__useq version column every writer of this library produces. " +
        "Rebuild the index with writeIvfFlatIndex.")
    df
  }

  /** The tombstone sidecar schema (nid, seq), read explicitly so the
    * mask needs no footer inference. */
  private[graft] def tombstoneSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("nid", StringType),
      StructField("seq", LongType)))
  }

  /** THE single tombstone-masking rule, shared by search, report,
    * IndexSync's bootstrap guard and [[liveRows]]: a tombstone at seq s
    * hides rows of its nid with `__useq <= s` ([[deleteFromIvfFlatIndex]]
    * writes Long.MaxValue, hiding every version until compaction clears
    * it). The tombstone aggregate is bounded by the deleted/updated key
    * count and broadcasts. */
  private[graft] def maskTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      payload: DataFrame): DataFrame = {
    val tombDir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    if (!tombDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(tombDir)) payload
    else {
      val tombs = spark.read.schema(tombstoneSchema)
        .parquet(s"$path/tombstones")
        .groupBy(col("nid"))
        .agg(max(col("seq")).as("__tseq"))
      payload.join(broadcast(tombs), Seq("nid"), "left")
        .filter(col("__tseq").isNull || col("__useq") > col("__tseq"))
        .drop("__tseq")
    }
  }

  /** Read a parquet directory, or — ONLY when it exists but holds no
    * parquet files (a fully-emptied index after compaction; schema
    * inference has nothing to read) — synthesize an empty frame with
    * the given column layout. Any other AnalysisException (missing
    * path, unreadable files) propagates: a typo'd path must stay a
    * pointed error, never a confidently-empty result. */
  private def readParquetOrEmpty(
      spark: org.apache.spark.sql.SparkSession, path: String,
      emptySchema: org.apache.spark.sql.types.StructType): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    }

  /** Index-health report for a persisted IVF-Flat index — the numbers
    * every maintenance decision ([[compactIvfFlatIndex]] now?
    * [[migrateIvfFlatIndex]] after drift?) reads first: cell count and
    * row totals, replayed-duplicate rows (at-least-once appends), live
    * tombstones, small-file pressure (files per cell), and cell
    * imbalance (max/mean — the probe-cost skew a drifted centroid
    * geometry shows up as). ONE payload scan feeds both aggregates;
    * sidecar reads are metadata-sized. Returns a single row:
    * (cells, total_rows, live_rows, dup_rows, tombstones, files,
    * imbalance). */
  def ivfFlatIndexReport(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val tombDir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val tombstones =
      if (tombDir.getFileSystem(hconf).exists(tombDir))
        // distinct KEYS under tombstone (an nid upserted thrice holds
        // three versioned tombstones but is one masked key)
        spark.read.schema(tombstoneSchema).parquet(s"$path/tombstones")
          .select(col("nid")).distinct().count()
      else 0L
    // a fully-emptied index (every row deleted, then compacted) reads
    // as empty — the health report is exactly the diagnostic someone
    // runs against such an index (see readPayload)
    val payload = readPayload(spark, path)
      .select(col("cluster"), col("nid"), col("__useq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // coalesce every aggregate: an EMPTY payload (all rows deleted,
      // then compacted away) must report zeros, not NPE on a
      // null-valued non-nullable decode
      val byCell = payload.groupBy(col("cluster")).count()
        .agg(count(lit(1)).as("cells"),
          coalesce(sum(col("count")), lit(0L)).as("total_rows"),
          coalesce(max(col("count")).cast("double") /
            avg(col("count")), lit(0.0d)).as("imbalance"))
        .as[(Long, Long, Double)].head()
      // garbage rows: extra copies beyond the first of each content
      // nid — at-least-once replays AND superseded upsert versions
      // both await the same compaction
      val dupRows = payload.groupBy(col("nid")).count()
        .filter(col("count") > 1)
        .agg(coalesce(sum(col("count") - 1), lit(0L))).as[Long].head()
      // live = the rows compaction keeps; a search serves the same
      // set once every superseded version is tombstoned
      val live = liveRows(spark, Seq(path -> payload)).count()
      // small-file pressure via the Hadoop FS API (any filesystem)
      val payloadDir = new org.apache.hadoop.fs.Path(s"$path/payload")
      val fs = payloadDir.getFileSystem(hconf)
      val it = fs.listFiles(payloadDir, true)
      var files = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) files += 1
      Seq((byCell._1, byCell._2, live, dupRows, tombstones, files,
        byCell._3))
        .toDF("cells", "total_rows", "live_rows", "dup_rows", "tombstones",
          "files", "imbalance")
    } finally payload.unpersist()
  }

  /** Merge persisted IVF-Flat indexes that share one centroid set into
    * `target` — the multi-source index lifecycle op (regional builds,
    * backfill + live segments, A/B rebuilds folding into one serving
    * index). Cell geometry must match: the centroid sidecars are
    * asserted equal, because rows keep their cluster through the merge
    * (a merge across different centroid sets is a re-encode — build a
    * fresh index from the unioned raw vectors instead). The target
    * holds the sources' [[liveRows]]: every source's tombstones apply,
    * content-keyed rows (same nid) in several sources dedupe to the
    * highest version, and the target starts clean of tombstones.
    * Output is written compacted (one file per cell) via the same
    * [[writeCompacted]] as [[compactIvfFlatIndex]], so `target` may BE
    * one of the sources (fold-into-live) and a crash mid-merge leaves
    * it intact. */
  def mergeIvfFlatIndexes(spark: org.apache.spark.sql.SparkSession,
                          sources: Seq[String], target: String): Unit = {
    require(sources.nonEmpty, "mergeIvfFlatIndexes: no sources")
    val centSets = sources.map(centroidsOf(spark, _))
    require(centSets.forall(_ == centSets.head),
      "mergeIvfFlatIndexes: sources have different centroid sets — " +
        "merging across cell geometries requires a re-encode " +
        "(writeIvfFlatIndex over the unioned raw vectors)")
    val payloads = sources.map(s => s -> readPayload(spark, s))
    // column sets must MATCH: null-filling a payload column across half
    // a merged corpus would be silent — refuse loudly and let the
    // operator align the sources first
    locally {
      val colSets = payloads.map(_._2.columns.toSet)
      require(colSets.forall(_ == colSets.head),
        "mergeIvfFlatIndexes: sources carry different payload columns — " +
          sources.zip(colSets).map { case (s, c) =>
            s"$s: ${c.toSeq.sorted.mkString("[", ",", "]")}"
          }.mkString("; "))
    }
    writeCompacted(spark, target, liveRows(spark, payloads), centSets.head)
  }

  /** Re-encode an IVF-Flat index onto NEW centroids — the migration
    * path [[mergeIvfFlatIndexes]] rightly refuses (different centroid
    * geometries), and the weekly lifecycle op a 100 TB index needs when
    * cell balance drifts and centroids are re-trained: read the old
    * payload, re-assign every row to its nearest NEW cell, and write
    * the result as a fresh compacted index at `newPath`.
    *
    * Semantics: the migrated rows are the old index's [[liveRows]] —
    * replayed duplicates collapse and the OLD index's tombstones are
    * APPLIED (a deleted row must not resurrect through a migration) —
    * so the migrated index carries no tombstones sidecar and equals a
    * fresh [[writeIvfFlatIndex]] build over the old index's LIVE rows
    * (IvfPqIndexSpec pins the search-parity).
    *
    * Plan shape: ONE distributed pass — partition-pruned-free full scan
    * (a migration reads everything by definition), the nearest-centroid
    * projection (k×dim literal, no join), a cluster-keyed repartition
    * for the one-file-per-cell layout, and the partitioned write. The
    * old index stays live and untouched throughout; `newPath == path`
    * is refused (stage-then-swap inside one root is [[compactIvfFlatIndex]]'s
    * job for same-geometry rewrites; a re-encode should land beside the
    * live index and swap by pointer — the serving-store seam). */
  def migrateIvfFlatIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, newCentroids: Seq[Seq[Float]],
                          newPath: String): Unit = {
    require(newPath != path,
      "migrateIvfFlatIndex: newPath must differ from the live index " +
        "(re-encode lands beside it; swap by pointer after validation)")
    val live = liveRows(spark,
      Seq(path -> readPayload(spark, path).drop("cluster")))
    writeCompacted(spark, newPath, ivfAssign(live, newCentroids, "nvec"),
      newCentroids)
  }

  /** [[adaptiveTopK]]'s indexed sibling: corpora under the broadcast
    * budget take the exact broadcast path; past it, retrieval routes
    * through the PERSISTED IVF-Flat index (built on first use at
    * `indexPath`) — partition-pruned scan, no corpus broadcast. The
    * recall knob is `numCandidates`, Atlas-style: probe enough cells to
    * cover that many candidates; ≥ corpus means exact. */
  def adaptiveIndexedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                          centroids: Seq[Seq[Float]], indexPath: String,
                          numCandidates: Int = 150,
                          broadcastBytes: Long = BroadcastBudget,
                          qId: String = "vec_id", qVec: String = "embedding",
                          cId: String = "vec_id", cVec: String = "embedding")
      : DataFrame = {
    val spark = corpus.sparkSession
    val corpusBytes = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    val q = queries.select(col(qId).as("qid"), col(qVec).as("qvec"))
    if (corpusBytes <= broadcastBytes)
      VectorOps.bruteForceTopK(q,
          corpus.select(col(cId).as("nid"), col(cVec).as("nvec")),
          k, "qid", "qvec", "nid", "nvec")
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
    else {
      // Hadoop FS, not java.io — the index lives on shared storage
      // (HDFS/S3) on a real cluster
      val payloadPath = new org.apache.hadoop.fs.Path(s"$indexPath/payload")
      val fs = payloadPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(payloadPath))
        writeIvfFlatIndex(corpus, centroids, indexPath, cId, cVec)
      searchIvfFlatIndex(spark, indexPath, q, k, numCandidates,
          "qid", "qvec")
        .select(col("qid"), col("nid"), col("rank"))
    }
  }

  /** IVFADC + exact refine (the "IVFADC+R" serving shape, Jégou
    * TPAMI'11 §V): the compressed ADC scan produces a per-query
    * `shortlist` of candidates, which are re-ranked by EXACT squared L2
    * against the raw corpus vectors — the compressed index bounds the
    * candidate set, the refine step removes quantization error from the
    * final ordering. Provable property (AnnRecallSpec): recall@k of the
    * refined result is ≥ recall@k of the plain ADC top-k, because the
    * ADC top-k is a prefix of the shortlist and exact ordering keeps
    * every global winner that made the shortlist.
    *
    * Plan shape: the [[ivfPqAdcTopK]] stage keeps its pinned
    * cluster-equi-join plan; the refine adds TWO narrow equi-joins —
    * the bounded (queries × shortlist) candidate set broadcast against
    * the raw corpus on the id (a point-lookup join: the only full-width
    * corpus touch, |candidates| rows out of |corpus|), and the query
    * vectors broadcast back on qid — then one per-query window top-k.
    * Both broadcasts ride [[broadcastGuard]], like the ADC stage. */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame,
                      centroids: Seq[Seq[Float]],
                      codebooks: Seq[Seq[Seq[Float]]], k: Int,
                      shortlist: Int, nProbe: Int = 1,
                      qId: String = "vec_id", qVec: String = "embedding",
                      cId: String = "vec_id",
                      cVec: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val (m, dsub) = validateCodebooks(codebooks)
    val short = ivfPqAdcTopK(queries, corpus, centroids, codebooks,
        shortlist, nProbe, qId, qVec, cId, cVec)
      .select(col("qid"), col("nid"))
    val cv = corpus.select(col(cId).as("nid"), col(cVec).as("nvec"))
    val qv = queries.select(col(qId).as("qid"), col(qVec).as("qvec"))
    // the shortlist is queries × shortlist (qid, nid) pairs, the query
    // vectors queries × (id + d floats)
    val d = m * dsub
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("nid").asc)
    // rank by the 6-decimal-rounded exact distance (the pqAdcTopK
    // convention) so oracle summation-order noise cannot flip a rank
    cv.join(broadcastGuard(short, queries, d, shortlist, 16), "nid")
      .join(broadcastGuard(qv, queries, d, 1, d.toLong * 4 + 8), "qid")
      .withColumn("dist", round(sqDistD(col("qvec"), col("nvec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
  }
}
