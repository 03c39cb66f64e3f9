package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextAnalysis, VectorOps}

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape:
  *
  *  - exact: hash-groupBy — one shuffle on a 128-bit key, perfectly
  *    balanced (md5 keys don't skew).
  *  - fingerprint: exact on canonicalized text (formatting-invariant).
  *  - minhashLsh: shingle→minhash→band→equi-join — the classic
  *    sub-quadratic near-dup plan; candidate pairs only where a band
  *    collides.
  *  - simhash: bucket by signature; Hamming-adjacent buckets optional.
  *  - ngramJaccard: exact Jaccard verification via shingle equi-join —
  *    used to verify LSH candidates (or standalone on bounded groups).
  *  - embeddingNearDup: cosine threshold within blocking groups.
  *
  * All emit deterministic results (stable tie-breaks, ordered pairs
  * a < b) so every operator is oracle-checkable.
  */
object Dedup {

  /** Keep one representative row per exact-duplicate group (min id wins —
    * deterministic). Returns (keyCol groups collapsed). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup groups: content hash → group size + representative id.
    * Pure groupBy — map-side partial aggregation, one shuffle. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Fingerprint dedup groups (canonicalized text, TextAnalysis.fingerprint). */
  def fingerprintGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** MinHash+LSH candidate pairs: docs sharing at least one LSH band key.
    * Emits distinct (id_a < id_b) pairs.
    *
    * Plan notes (the 100 TB shape):
    *  - all 12 minhashes come from ONE fold over the shingle array
    *    (Hashing.minhashes) so the tokenize+shingle expression — which
    *    CollapseProject inlines through any intermediate projection —
    *    is evaluated once per row, not once per seed.
    *  - docs with no shingles produce an all-sentinel minhash array and
    *    are dropped: they have no content to collide on (the oracle's
    *    per-shingle join drops them implicitly).
    *  - pairs come from groupBy(band_key) → sorted id list → in-bucket
    *    pair expansion, NOT a self-join: one scan of the corpus, one
    *    shuffle on band key, and no double evaluation of the hashing
    *    pipeline (a self-join re-evaluates its un-persisted input on both
    *    sides).
    *  - band-key hot spots (boilerplate text) are the skew risk at scale:
    *    a hot bucket of b ids expands to b²/2 pairs map-side. Moderate
    *    skew is absorbed by AQE; `maxBucketSize` caps the pathological
    *    case: buckets above the cap are dropped BEFORE pair expansion
    *    (bounding any bucket's output at cap²/2) and the drop count is
    *    published as an observed metric ("minhash_lsh_skew" /
    *    dropped_hot_buckets — QueryExecutionListener-visible, the
    *    droppable-work ledger a 100 TB run must emit). A bucket that hot
    *    is boilerplate, not near-duplication signal; its pairs are noise
    *    that exact verification would reject anyway.
    *  - the cap bounds the ARRAYS too, not just the pair expansion: a
    *    capped run truncates each bucket to its first cap+1 rows (a
    *    sort-based `row_number` window over the band key — streams and
    *    spills, never materializes the bucket) BEFORE `collect_list`,
    *    so a 10⁸-doc boilerplate family costs cap+1 array slots per
    *    band key instead of a 100 MB–1 GB single aggregation row the
    *    size>cap filter would only discard after building (the
    *    executor-OOM exactly at the corpus the cap exists for). A
    *    truncated bucket's cap+1-sized array proves size>cap and drops
    *    under the same filter; buckets within the cap keep every row
    *    (row_number ≤ size ≤ cap < cap+1), so the emitted pairs are
    *    IDENTICAL to the filter-after-build form — the oracle-checked
    *    capped rows replay the same rule. The window's band-key hash
    *    partitioning is reused by the groupBy (one shuffle total, same
    *    as uncapped), and the hash pipeline still evaluates once.
    * @param maxBucketSize 0 (default) = uncapped — the oracle-checked
    *                      exact-recall form; > 0 = drop hotter buckets. */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      shingleN: Int = 3, bands: Int = 4,
                      rowsPerBand: Int = 3, maxBucketSize: Int = 0): DataFrame = {
    val bk = Hashing.bandKeysUdf(shingleN, bands, rowsPerBand)
    val keyed = df
      .select(col(idCol).as("id"), explode(bk(col(textCol))).as("band_key"))
    val buckets =
      if (maxBucketSize <= 0)
        keyed.groupBy(col("band_key"))
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(col("ids")) > 1)
      else cappedBuckets(keyed, "band_key", maxBucketSize,
        "minhash_lsh_skew")
    buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** The hot-array-safe capped bucket build shared by
    * [[minhashLshPairs]] and [[simhashNearDupPairs]] (see the former's
    * plan notes): truncate each key's rows at cap+1 with a streaming
    * `row_number` window BEFORE `collect_list`, drop the (provably
    * hot) cap+1-sized arrays, publish the drop count. Input: (id,
    * keyCol) exploded rows. Output: (keyCol, ids) with
    * 1 < size(ids) <= cap. */
  private def cappedBuckets(keyed: DataFrame, keyCol: String,
                            maxBucketSize: Int,
                            metricName: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("id"))
    keyed
      .withColumn("__rn", row_number().over(w))
      // long arithmetic: maxBucketSize = Int.MaxValue is a legal
      // "effectively uncapped" setting — the int form would wrap to
      // Int.MinValue and silently drop every row
      .filter(col("__rn") <= lit(maxBucketSize.toLong + 1L))
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      // a truncated bucket reads size == cap+1 == original-size > cap:
      // the observed drop count matches the filter-after-build form
      .observe(metricName,
        sum(when(size(col("ids")) > maxBucketSize, 1).otherwise(0))
          .as("dropped_hot_buckets"))
      .filter(size(col("ids")) <= maxBucketSize && size(col("ids")) > 1)
  }

  /** SimHash near-dup pairs within Hamming distance ≤ 1: bucket by
    * masked signatures (bit j wildcarded in key j) so a single-bit
    * difference still collides — the standard probing answer to "equal
    * signatures only" recall. `bits`× key blowup of a skinny projection,
    * one shuffle on the key, in-bucket pair expansion; a masked-key
    * collision PROVES Hamming ≤ 1, so no verification pass is needed.
    *
    * Skew is WORSE here than for minhash bands: b identical docs collide
    * in all `bits` masked keys, so one hot content hash emits
    * bits·b²/2 pairs. `maxBucketSize` caps it exactly as in
    * [[minhashLshPairs]] (see its plan notes): each bucket is truncated
    * to cap+1 rows by a streaming window BEFORE `collect_list` — the
    * array build itself is bounded, not just the pair expansion — then
    * the provably-hot cap+1-sized arrays are dropped and the count
    * published via `observe` ("simhash_skew" / dropped_hot_buckets),
    * the droppable-work ledger a 100 TB run must emit. A bucket that
    * hot is boilerplate (its pairs also surface from exact dedup), not
    * Hamming-adjacency signal.
    * @param maxBucketSize 0 (default) = uncapped — the oracle-checked
    *                      exact-recall form; > 0 = drop hotter buckets. */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          bits: Int = 16, maxBucketSize: Int = 0): DataFrame = {
    val keyed = df.select(col(idCol).as("id"),
      explode(Hashing.simhashMaskedKeysUdf(bits)(col(textCol))).as("mkey"))
    val buckets =
      if (maxBucketSize <= 0)
        keyed.groupBy(col("mkey"))
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(col("ids")) > 1)
      else cappedBuckets(keyed, "mkey", maxBucketSize, "simhash_skew")
    buckets
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** The production near-dup plan at corpus scale: LSH proposes candidate
    * pairs (sub-quadratic, minhashLshPairs), then exact n-gram Jaccard is
    * computed ONLY on those candidates — never all pairs — by joining the
    * candidate list back to per-doc shingle sets. Shuffles: the LSH band
    * groupBy, one shingle equi-join restricted by the candidate semi-join,
    * and the per-pair count — all on high-cardinality keys.
    *
    * Emits (id_a, id_b, jaccard) for candidates with jaccard >= threshold:
    * LSH recall bounds what can be found; the verifier removes false
    * positives. */
  /** Exact-Jaccard verification over candidate pairs — THE single copy
    * of the verify recipe, shared by [[minhashLshVerified]] (self-frame)
    * and [[antiJoinFuzzy]] (cross-frame). `aSh`/`bSh` are (id_a|id_b,
    * sh) DISTINCT-shingle frames. Emits (id_a, id_b, jaccard) for pairs
    * meeting `threshold`, jaccard unrounded (callers round for oracles).
    * The shingle frames are NOT pre-filtered to the candidate ids: the
    * equi-join already touches only matching ids, and the measured
    * full-book cost of broadcast semi-join pre-filters was 2.5x
    * (dedup_lsh_verified 1.02-1.32 band → 3.28) with no shuffle saved.
    *
    * `aCounts0`/`bCounts0` optionally supply the per-doc shingle
    * counts as (id_a, n_a) / (id_b, n_b) frames: the shingle UDF
    * returns DISTINCT shingles, so `size(shinglesUdf(text))` per row
    * equals the exploded frame's per-id count — callers that still
    * hold the doc frame pass the per-row form and the two shuffled
    * count aggregates here disappear (two exchanges less per run). */
  private def verifyJaccard(cand: DataFrame, aSh: DataFrame, bSh: DataFrame,
                            threshold: Double,
                            aCounts0: Option[DataFrame] = None,
                            bCounts0: Option[DataFrame] = None): DataFrame = {
    val aCounts = aCounts0.getOrElse(
      aSh.groupBy(col("id_a")).agg(count(lit(1)).as("n_a")))
    val bCounts = bCounts0.getOrElse(
      bSh.groupBy(col("id_b")).agg(count(lit(1)).as("n_b")))
    val bS2 = bSh.select(col("id_b").as("b_id"), col("sh").as("b_sh"))
    val inter = cand
      .join(aSh, "id_a")
      .join(bS2, col("id_b") === col("b_id") && col("sh") === col("b_sh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(aCounts, "id_a").join(bCounts, "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** `maxBucketSize` is [[minhashLshPairs]]'s hot-bucket skew guard,
    * threaded through the composition (r13's scale probe measured what
    * an uncapped band join does against boilerplate families —
    * exponent 1.38 over 10⁵→10⁶ rows; the within-frame form has the
    * same C(n,2)-per-hot-bucket expansion hazard): 0 (default) = the
    * uncapped oracle-exact form; > 0 = buckets hotter than the cap are
    * dropped BEFORE pair expansion, so the verify stage's candidate
    * set stays bounded. The dropped pairs are boilerplate the exact /
    * fingerprint gates own — the capped recall tradeoff is itself
    * oracle-checked (dedup_lsh_verified_capped replays the cap rule). */
  def minhashLshVerified(df: DataFrame, textCol: String, idCol: String,
                         shingleN: Int = 3, bands: Int = 4,
                         rowsPerBand: Int = 3,
                         threshold: Double = 0.6,
                         maxBucketSize: Int = 0): DataFrame = {
    val cand = minhashLshPairs(df, textCol, idCol, shingleN, bands,
      rowsPerBand, maxBucketSize)
    val shUdf = Hashing.shinglesUdf(shingleN)
    val sh = df.select(col(idCol).as("id"),
      explode(shUdf(col(textCol))).as("sh"))
    // per-doc shingle counts as a per-row map over the doc frame (the
    // UDF output is distinct, so size() == the exploded per-id count):
    // the verify stage then skips its two shuffled count aggregates
    val nSh = df.select(col(idCol).as("id"),
      size(shUdf(col(textCol))).cast("long").as("n"))
    verifyJaccard(cand,
        sh.select(col("id").as("id_a"), col("sh")),
        sh.select(col("id").as("id_b"), col("sh")), threshold,
        aCounts0 = Some(nSh.select(col("id").as("id_a"), col("n").as("n_a"))),
        bCounts0 = Some(nSh.select(col("id").as("id_b"), col("n").as("n_b"))))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Connected components over duplicate pairs — the step that turns
    * pairwise near-dup evidence (minhash/simhash/embedding pairs) into
    * dedup CLUSTERS with a canonical representative: component label =
    * the minimum member id, so "keep one per cluster" is
    * `filter(id === comp)`.
    *
    * Iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbours; converges in
    * O(graph diameter) rounds (duplicate clusters are near-cliques, so
    * typically 1-2; `maxIters` bounds pathological chains). Each round
    * is one join + one map-side-combinable min aggregate;
    * `localCheckpoint` truncates the growing lineage so the loop doesn't
    * re-plan from scratch (on a cluster, checkpoint to reliable storage
    * instead). Each round's convergence test rides its checkpoint job
    * ([[Checkpoint]]), and each superseded round — and, once converged,
    * the edge set — is released explicitly, so the result retains only
    * the final labels' checkpoint. Returns (id, comp) for every id that
    * appears in a pair. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b",
                          maxIters: Int = 50): DataFrame = {
    // materialize the pair projection ONCE before the both-directions
    // union: the union's two arms otherwise inline the caller's whole
    // pair lineage twice, and pairs are usually an LSH band expansion —
    // the most expensive subtree in the query (guide: don't compute
    // things twice). Released after the edge set materializes.
    val (p0, _) = Checkpoint(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val (edges, _) = Checkpoint(p0
      .union(p0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    Checkpoint.release(p0)
    var labels = Checkpoint(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))._1
    var converged = false
    var iters = 0
    while (!converged) {
      iters += 1
      require(iters <= maxIters,
        s"connectedComponents did not converge within $maxIters rounds " +
          "(graph diameter exceeds the bound; raise maxIters)")
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dst_comp")), "dst")
        .groupBy(col("src")).agg(min(col("dst_comp")).as("nbr_comp"))
        .select(col("src").as("id"), col("nbr_comp"))
      // convergence rides the SAME checkpoint job as an observed
      // changed-labels count (the pageRank mass recipe) — the former
      // next⋈labels isEmpty probe was one extra join job per round
      val (next, m) = Checkpoint(labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          col("comp").as("__cc_prev")),
        coalesce(sum(
          when(col("comp") =!= col("__cc_prev"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
      converged = m.getLong(0) == 0L
      Checkpoint.release(labels)
      labels = next
    }
    // the labels below never read the edge set again
    Checkpoint.release(edges)
    labels.select(col("id"), col("comp"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR — the
    * O(log n)-round MapReduce algorithm of Kiveris/Lattanzi/Mirrokni/
    * Rastogi/Vassilvitskii, "Connected Components in MapReduce and
    * Beyond" (SoCC 2014) — the scale path for duplicate graphs with long
    * chains, where [[connectedComponents]]'s min-label propagation needs
    * O(diameter) rounds.
    *
    * Each round:
    *  - large-star: every node links its strictly-LARGER neighbours to
    *    the minimum of its closed neighbourhood — long tails collapse
    *    toward small ids from both sides at once;
    *  - small-star: every node links its smaller neighbours (and itself)
    *    to that minimum — stars re-form around the smallest id.
    * The fixpoint of both operations is a forest of stars whose centers
    * are the component minima (the paper's Theorem 1), so labels read
    * straight off the final edges. Same join/agg primitives and the same
    * (pairs → (id, comp)) contract as min-label propagation: two
    * equi-shuffles per round on the node id, lineage truncated per round
    * with localCheckpoint, NEVER a cartesian. Rounds are O(log n) even
    * on a path graph (DedupSpec pins a 16-chain at ≤ log2(16)+3). */
  def connectedComponentsAltStar(pairs: DataFrame, aCol: String = "id_a",
                                 bCol: String = "id_b",
                                 maxIters: Int = 20): DataFrame =
    altStarWithRounds(pairs, aCol, bCol, maxIters)._1

  /** Canonical-representative selection — the production OUTPUT policy of
    * near-dup clustering: instead of min-id keep-one (which can keep the
    * mangled variant and drop the clean original), keep the HIGHEST-
    * QUALITY member of every duplicate cluster, ties to the smaller id.
    * Documents in no candidate pair are their own singleton cluster and
    * always kept. Emits (comp, keep_id, n_members, quality) with quality
    * rounded to 6 decimals BEFORE ranking (engine-portable order, the
    * curate_best_per_source convention).
    *
    * Plan: [[connectedComponents]] over the pairs (equi-joins only),
    * a left join of the per-row quality scores onto the labels — id-keyed
    * exchanges on both sides (the label set is the full duplicate-node
    * set, NOT broadcastable at scale) — then one comp-keyed
    * hash-partitioned window for the rank and member count, the q07
    * top-k shape. Beyond clustering that is one id-keyed exchange pair
    * plus one comp exchange, all equi-keyed; no cartesian, no window
    * wider than a component (pinned in PlanSpec). */
  def bestPerCluster(docs: DataFrame, textCol: String, idCol: String,
                     pairs: DataFrame, aCol: String = "id_a",
                     bCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val scored = docs.select(col(idCol).as("id"),
      round(TextAnalysis.qualityScore(col(textCol)), 6).as("q"))
    val labeled = scored.join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"), col("q"))
    val byComp = Window.partitionBy(col("comp"))
    labeled
      .withColumn("rn", row_number().over(
        byComp.orderBy(col("q").desc, col("id").asc)))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .filter(col("rn") === 1)
      .select(col("comp"), col("id").as("keep_id"),
        col("n_members"), col("q").as("quality"))
  }

  /** EXACT anti-join with a Bloom prefilter — the 100 TB shape of
    * incremental dedup: a broadcastable Bloom filter of the index hashes
    * screens the batch first, so rows the filter rejects (definitely new
    * — Bloom has no false negatives) skip the anti-join SHUFFLE entirely
    * and only the `fpp` false-positive sliver plus true duplicates pay
    * it. Results are exactly the plain anti-join's: the filter only
    * routes rows between the no-shuffle and exact paths.
    *
    * The filter is built with one distributed aggregate over the index
    * side (Spark's stat.bloomFilter treeAggregate) and broadcast; at
    * 1e9 index entries and 1% fpp that is ~1.2 GB — size `fpp` to the
    * executor memory budget. NULL batch hashes route to the exact path
    * (mightContain cannot answer for them; the anti-join keeps them,
    * matching NOT EXISTS semantics).
    *
    * The flagged batch is localCheckpoint'ed before the union split:
    * both branches would otherwise re-plan the batch lineage, and a
    * nondeterministic upstream (sample, unordered row_number) could emit
    * a row in both branches or neither. The checkpoint is bounded by the
    * BATCH (one increment, not the corpus); the win is the avoided
    * SHUFFLE, which dominates at the target scale. */
  def antiJoinWithBloomPrefilter(batch: DataFrame, seen: DataFrame,
                                 batchHashCol: String, seenHashCol: String,
                                 fpp: Double = 0.01): DataFrame = {
    val n = math.max(seen.count(), 1L)
    val bloom = seen.stat.bloomFilter(seenHashCol, n, fpp)
    val bc = batch.sparkSession.sparkContext.broadcast(bloom)
    val might = udf((h: String) =>
      if (h == null) true else bc.value.mightContain(h))
    val flagged = batch.withColumn("__maybe", might(col(batchHashCol)))
      .localCheckpoint()
    val definitelyNew = flagged.filter(!col("__maybe")).drop("__maybe")
    val exact = flagged.filter(col("__maybe")).drop("__maybe")
      .join(seen, col(batchHashCol) === col(seenHashCol), "left_anti")
    definitelyNew.union(exact)
  }

  /** [[antiJoinWithBloomPrefilter]] with the seen-hash index SHARDED by
    * hash prefix — the shape that survives SURVEY §2.11's sizing: at
    * 10¹¹ index hashes and 1% fpp a single filter is ~120 GB and cannot
    * be broadcast (or even held) anywhere. Sharding by
    * `pmod(murmur3(hash), shards)` cuts it into `shards` filters of
    * ~1/shards the size, each independently under the broadcast budget:
    *
    *  - BUILD: one filter per shard from `seen` restricted to that
    *    shard. At scale the index is STORED partitioned by this same
    *    key, so each build scans one partition's files (partition
    *    pruning), and no single aggregate ever materializes more than
    *    one shard's filter.
    *  - SCREEN: the batch row's shard is the same codegen'd
    *    `pmod(murmur3)` expression, so each screen branch dereferences
    *    exactly ONE shard's broadcast — per-executor working set is one
    *    shard filter, not the whole index, which is the entire point.
    *  - UNION: screened branches (plus the NULL-hash branch, which
    *    routes to the exact path like the monolithic form) reunite, and
    *    the surviving sliver pays the one exact anti-join.
    *
    * The batch is localCheckpoint'ed ONCE with its shard key before the
    * branch fan-out, so the `shards`+2 downstream readers hit
    * materialized blocks instead of re-planning the lineage (and a
    * nondeterministic upstream cannot desynchronize the branches).
    * Results are exactly the plain anti-join's for any `shards` ≥ 1 —
    * the shard routing only decides WHICH filter screens a row, and
    * Bloom false negatives remain impossible per shard.
    *
    * `materializeSeen` (default true) localCheckpoints the index
    * PROJECTED TO ITS HASH COLUMN before the `shards`+2 reads of it
    * (sizing count, per-shard builds, final anti-join) — essential when
    * `seen` is a computed lineage. Pass false when the index is already
    * a cheap stored scan (the 100 TB case: hash-partitioned index files,
    * where each per-shard build prunes to its own partition and a 3 TB
    * checkpoint copy would be pure waste). */
  def antiJoinWithShardedBloomPrefilter(batch: DataFrame, seen: DataFrame,
                                        batchHashCol: String, seenHashCol: String,
                                        shards: Int = 8, fpp: Double = 0.01,
                                        materializeSeen: Boolean = true): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val seenH =
      if (materializeSeen) seen.select(col(seenHashCol)).localCheckpoint()
      else seen.select(col(seenHashCol))
    val n = math.max(seenH.count(), 1L)
    val perShardN = math.max(n / shards, 1L)
    val shardOfSeen = pmod(hash(col(seenHashCol)), lit(shards))
    val filters =
      if (materializeSeen) {
        // ONE build job: hashes route to their shard's task (skinny
        // shuffle of the checkpointed blocks) and each task builds
        // exactly one shard's filter — per-task memory is one shard,
        // and there is no per-shard job-scheduling overhead. Shard i
        // lands in partition i: HashPartitioner of an Int key in
        // [0, shards) is the identity.
        val built = seenH
          .select(pmod(hash(col(seenHashCol)), lit(shards)).as("__shard"),
            col(seenHashCol).cast("string").as("__h"))
          .na.drop()
          .rdd.map(r => (r.getInt(0), r.getString(1)))
          .partitionBy(new org.apache.spark.HashPartitioner(shards))
          .mapPartitionsWithIndex { (pi, it) =>
            val f = org.apache.spark.util.sketch.BloomFilter
              .create(perShardN, fpp)
            it.foreach { case (_, h) => f.putString(h) }
            Iterator((pi, f))
          }
          .collect().sortBy(_._1).map(_._2)
        built.toIndexedSeq.map(f =>
          batch.sparkSession.sparkContext.broadcast(f))
      } else {
        // stored hash-partitioned index: per-shard builds prune to their
        // own partition's files — no shuffle, no full-index copy, and no
        // task ever holds more than one shard's filter
        (0 until shards).map { i =>
          val f = seenH.filter(shardOfSeen === i)
            .stat.bloomFilter(seenHashCol, perShardN, fpp)
          batch.sparkSession.sparkContext.broadcast(f)
        }
      }
    val withShard = batch.withColumn("__shard",
        when(col(batchHashCol).isNull, lit(-1))
          .otherwise(pmod(hash(col(batchHashCol)), lit(shards))))
      .localCheckpoint()
    val screened = (0 until shards).map { i =>
      val bc = filters(i)
      val might = udf((h: String) => bc.value.mightContain(h))
      withShard.filter(col("__shard") === i)
        .withColumn("__maybe", might(col(batchHashCol)))
    }.reduce(_ union _)
    val flagged = screened.union(
      withShard.filter(col("__shard") === -1)
        .withColumn("__maybe", lit(true)))
    val definitelyNew = flagged.filter(!col("__maybe")).drop("__maybe", "__shard")
    val exact = flagged.filter(col("__maybe")).drop("__maybe", "__shard")
      .join(seenH, col(batchHashCol) === col(seenHashCol), "left_anti")
    definitelyNew.union(exact)
  }

  /** One large-star + small-star round over (u, v) edges — exposed so
    * PlanSpec can pin the ROUND's physical plan (the loop checkpoints
    * each round, so planning the final labels would show only the last
    * scan, not the joins this guard exists for). */
  private[graft] def altStarRound(edges: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val bi = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    // min of the CLOSED neighbourhood as ONE u-keyed window over the
    // bidirectional list — the former per-node aggregate joined back
    // onto bi re-evaluated the bi subtree per reference and paid a
    // second u-shuffle for the join; the window is the same hash
    // partitioning once, per-row least() covers the "closed" part
    // large-star: (v, m(u)) for every neighbour v > u. Every output row
    // (v, m) already has v > u ≥ m, so the edge set is big→small
    // oriented as-is — exactly the orientation small-star needs.
    val large = bi
      .withColumn("m", least(col("u"), min(col("v")).over(w)))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // small-star: (v, m(u)) for every smaller neighbour v plus u itself
    // — same window form (large is u > v oriented, so the plain min
    // equals the closed-neighbourhood min), and the two output arms
    // ride one explode so the large-star subtree evaluates ONCE (the
    // former self-join + two-arm union re-ran it four times per round)
    val joined = large.withColumn("m", min(col("v")).over(w))
    joined.select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u").as("u"), col("m").as("v")))).as("__p"))
      .select(col("__p.u"), col("__p.v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  private[graft] def altStarWithRounds(pairs: DataFrame, aCol: String,
                                       bCol: String,
                                       maxIters: Int): (DataFrame, Int) = {
    // materialize the pair projection ONCE: allNodes and the edge set
    // below otherwise each inline the caller's whole pair lineage —
    // usually an LSH band expansion, the most expensive subtree in the
    // query — so it executed twice. Released after both deriveds land.
    val (p0, _) = Checkpoint(
      pairs.select(col(aCol).as("u"), col(bCol).as("v")))
    val (allNodes, _) = Checkpoint(p0.select(col("u").as("id"))
      .union(p0.select(col("v").as("id"))).distinct())
    // each edge set's size rides its own checkpoint job as an observed
    // count instead of a separate count() job
    val rows = count(lit(1)).as("n")
    val (e0, n0) = Checkpoint(
      p0.filter(col("u") =!= col("v")).distinct(), rows)
    Checkpoint.release(p0)
    var edges = e0
    var edgeCount = n0.getLong(0)
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      require(rounds <= maxIters,
        s"connectedComponentsAltStar did not converge within $maxIters " +
          "rounds (expected O(log n); check for label-type mismatches)")
      val (next, n) = Checkpoint(altStarRound(edges), rows)
      // set equality of two DISTINCT edge sets: equal counts + empty
      // one-way difference. left_anti is one equi-join over the already
      // materialized checkpoints — except() would re-distinct both sides
      // and was the dominant per-round cost at bench scale. The previous
      // round's count is carried in a var instead of re-scanned.
      val nextCount = n.getLong(0)
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edgeCount = nextCount
      // the convergence check was the last read of the previous round
      // (the final round's blocks stay: the labels below read them)
      Checkpoint.release(edges)
      edges = next
    }
    // fixpoint edges are stars center=component min: labels are the
    // leaves plus the centers labelling themselves. Nodes that appeared
    // ONLY in self-pairs have no surviving edge — they label themselves,
    // keeping the "every id that appears in a pair" contract shared with
    // [[connectedComponents]].
    val edgeLabels = edges.select(col("u").as("id"), col("v").as("comp"))
      .union(edges.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
    val isolated = allNodes
      .join(edgeLabels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    (edgeLabels.union(isolated), rounds)
  }

  /** Winnowing document fingerprints (the rolling-hash fingerprinting of
    * Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003 — the MOSS algorithm): hash every
    * k-gram of the canonical text, slide a w-position window over the
    * hash sequence, and select each window's minimum. Hash ties break
    * toward the EARLIER position (the paper's robust-winnowing variant
    * picks the rightmost; leftmost is chosen here because a plain
    * window-min over the (hash, pos) key expresses it, identically in
    * both engines — the density and shared-substring guarantees are
    * direction-independent). Guarantee: two documents sharing any
    * substring of length >= w + k - 1 share at least one fingerprint —
    * partial-overlap detection that whole-document hashing cannot do.
    *
    * Emits DISTINCT (doc_id, fp_pos, fp_hash) selections. Docs whose
    * canonical form is shorter than k + w - 1 have no full window and
    * yield no rows.
    *
    * Plan shape: scan → Generate — canonicalization AND the window
    * minimum need only the row's own text, so both run
    * partition-locally inside
    * [[org.apache.spark.sql.graft.WinnowGenerator]] (monotonic deque,
    * O(n) per document) and the plan carries ZERO exchanges (PlanSpec
    * pins this). The former relational form exploded every gram
    * position through one doc-keyed exchange to evaluate three window
    * functions; windows selecting the same key are a contiguous run, so
    * the generator's consecutive-dedup emission matches that form's
    * DISTINCT exactly (same (hash, zero-padded pos) selection order —
    * see the generator's scaladoc for the equivalence argument). */
  def winnowingFingerprints(df: DataFrame, textCol: String, idCol: String,
                            k: Int = 8, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"invalid k=$k w=$w")
    df.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.TextExpressions.winnowGen(col(textCol), k, w))
  }

  /** SimHash buckets: signature → members. Near-dups collide on the full
    * signature (or differ in few bits; Hamming-ball probing is a client
    * concern). */
  def simhashGroups(df: DataFrame, textCol: String, idCol: String,
                    bits: Int = 16): DataFrame =
    df.groupBy(Hashing.simhashUdf(bits)(col(textCol)).as("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Exact n-gram Jaccard similarity for all pairs within a blocking
    * column (e.g. same lang/source — bounds the quadratic): emits pairs
    * with jaccard >= threshold.
    *
    * Plan: explode distinct shingles, self-equi-join on (block, shingle)
    * → |A∩B| per pair via groupBy, then |A∪B| = |A|+|B|-|A∩B| from
    * per-doc shingle counts (broadcastable side agg). Shuffles: shingle
    * join + pair groupBy — both on high-cardinality keys.
    *
    * Contract: `idCol` is unique per row (one row per document); it is
    * not checked. An id on r rows fans out: each pair it is in is
    * emitted r times, each against one row's shingle count, while the
    * intersection sums the shingles of all r rows. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: String, shingleN: Int = 3,
                        threshold: Double = 0.8): DataFrame = {
    val sh = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        explode(Hashing.shinglesUdf(shingleN)(col(textCol))).as("sh"))
    // per-doc sizes as a per-row map instead of a shuffled aggregate
    // over the exploded frame: the shingle UDF returns DISTINCT
    // shingles, so size(shinglesUdf(text)) per row equals the exploded
    // frame's per-id count (ids are one-row-per-doc here) — one fewer
    // shingle-lineage execution and one fewer exchange (the
    // verifyJaccard count form). Zero-shingle docs contribute inert
    // (id, 0) rows the inner joins below never match.
    val counts = df.select(col(idCol).as("id"),
      size(Hashing.shinglesUdf(shingleN)(col(textCol))).cast("long")
        .as("n_sh"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b,
        col("a.blk") === col("b.blk") && col("a.sh") === col("b.sh") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Fuzzy record linkage (entity resolution, Fellegi–Sunter blocking
    * shape): candidate pairs from an equi-join on a cheap BLOCKING key
    * (here the text's first `blockLen` chars), decided by an exact
    * Levenshtein edit-distance gate over a capped `window`-char prefix.
    * Edit distance is the similarity family the shingle/minhash ops
    * cannot express (it is order-sensitive and counts substitutions);
    * the window cap keeps the O(window²) DP bounded per pair and is the
    * documented recall tradeoff, as is blocking itself (a mangling that
    * changes the first `blockLen` chars escapes the block — pair such
    * rows by a normalized key instead, the fingerprintGroups recipe).
    *
    * Plan shape: one blk-keyed aggregate sizes the blocks, blocks over
    * `maxBlock` rows are DROPPED (the hot-bucket skew guard of
    * [[minhashLshPairs]] — a degenerate shared prefix would otherwise
    * expand quadratically), then ONE self-equi-join on blk with pair
    * expansion bounded by maxBlock²/2 per block. No cross join, no
    * all-pairs. */
  def fuzzyLinkage(df: DataFrame, textCol: String, idCol: String,
                   blockLen: Int = 12, window: Int = 48,
                   maxDist: Int = 12, maxBlock: Int = 64): DataFrame = {
    require(blockLen >= 1 && window >= blockLen && maxDist >= 0 &&
      maxBlock >= 2, s"fuzzyLinkage: bad params ($blockLen, $window, " +
      s"$maxDist, $maxBlock)")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        substring(col(textCol), 1, blockLen).as("blk"),
        substring(col(textCol), 1, window).as("w"))
    val ok = base.groupBy(col("blk"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBlock)
      .select(col("blk"))
    val sized = base.join(ok, Seq("blk"))
    val a = sized.select(col("blk"), col("id").as("id_a"),
      col("w").as("w_a"))
    val b = sized.select(col("blk"), col("id").as("id_b"),
      col("w").as("w_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("w_a"), col("w_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  /** Segment-level dedup — the sub-document granularity of the CCNet /
    * Common Crawl "remove duplicated lines/paragraphs" pass: whole-doc
    * dedup misses boilerplate (headers, navigation, license blocks)
    * repeated across otherwise-distinct documents. Documents are cut
    * into fixed `segTokens`-token segments on the whitespace grid (the
    * corpus here has no line structure; with newlines, split on those
    * instead — same plan) and a segment is flagged when it appears in
    * ≥ `minDocs` DISTINCT documents. Emits one row per flagged
    * occurrence: (doc_id, seg_idx, seg_hash, n_docs) — callers drop or
    * keep-first by (seg_hash, doc_id, seg_idx). Grid-aligned by design:
    * catches copied documents and block boilerplate; offset-shifted
    * overlap detection is winnowing's job ([[winnowingFingerprints]]).
    *
    * Plan shape: per-row segment explode (narrow), ONE groupBy shuffle
    * on seg_hash for the distinct-doc counts (map-side partial
    * aggregation; md5 keys are uniform so no salting, ever), and one
    * equi-join of the exploded segments against the flagged hashes —
    * whose side shrinks to the duplicated sliver after the HAVING
    * filter, so AQE turns it into a broadcast join in the common case
    * where boilerplate is rare. */
  def duplicatedSegments(df: DataFrame, textCol: String, idCol: String,
                         segTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    require(minDocs >= 2, s"minDocs below 2 flags everything, got $minDocs")
    val toks = split(col(textCol), " ")
    val nSegs = ceil(size(toks).cast("double") / segTokens).cast("int")
    val segs = df.select(col(idCol).as("doc_id"),
        posexplode(transform(sequence(lit(0), nSegs - 1), i =>
          concat_ws(" ", slice(toks, i * segTokens + 1, lit(segTokens)))))
          .as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx").cast("int").as("seg_idx"),
        md5(col("seg")).as("seg_hash"))
    val hot = segs.groupBy(col("seg_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    segs.join(hot, "seg_hash")
      .select(col("doc_id"), col("seg_idx"), col("seg_hash"), col("n_docs"))
  }

  /** FUZZY incremental dedup — the near-dup analog of the exact
    * incremental gate ([[antiJoinWithBloomPrefilter]]): a batch document
    * is dropped when it shares an LSH band with ANY indexed document AND
    * its exact shingle Jaccard against such an index document reaches
    * `threshold`; all other batch rows survive. This is the "don't
    * re-ingest near-duplicates of the existing corpus" gate — the exact
    * gate misses a truncated or reformatted copy entirely. In-batch
    * near-dup collapse is [[minhashLshVerified]]'s job; compose the two.
    *
    * Plan shape: band keys per row on both sides (the [[minhashLshPairs]]
    * UDF), ONE equi-join batch×index on band_key (cross-frame — never a
    * self-join; at 100 TB the index side ships (id, band_key) pairs,
    * never text... except for the candidate sliver, whose shingles the
    * verification needs), DISTINCT candidate pairs, exact-Jaccard
    * verification restricted to candidates (the [[minhashLshVerified]]
    * recipe with sides drawn from different frames), and a LEFT ANTI of
    * the batch against verified duplicates.
    *
    * `maxBucketSize` is [[minhashLshPairs]]'s hot-bucket skew guard
    * ported to the cross-frame join: a band key with more than
    * `maxBucketSize` members on EITHER side (a boilerplate template
    * shared by a near-dup family) is dropped before the join — its
    * candidate expansion is batch-count × index-count PER KEY, so one
    * hot family otherwise grows the join output quadratically with the
    * corpus (the r13 scale probe measured exponent 1.38 uncapped,
    * 10⁵→10⁶ rows, from exactly this: planted boilerplate families of
    * n/50 docs). 0 (default) = uncapped — the oracle-checked form;
    * dropped keys are counted in the `incremental_fuzzy_skew` observe
    * metric. Recall degrades gracefully: a pair sharing any surviving
    * band of the 4 is still found, and a family hot enough to trip the
    * cap is boilerplate the exact/fingerprint gates own anyway. */
  def antiJoinFuzzy(batch: DataFrame, index: DataFrame, textCol: String,
                    idCol: String, shingleN: Int = 3, bands: Int = 4,
                    rowsPerBand: Int = 3, threshold: Double = 0.5,
                    maxBucketSize: Int = 0): DataFrame = {
    val (dup0, caches) = antiJoinFuzzyDup(batch, index, textCol, idCol,
      shingleN, bands, rowsPerBand, threshold, maxBucketSize)
    val dup =
      if (caches.isEmpty) dup0
      else {
        // the duplicate-id sliver is TINY (≤ batch rows, ids only):
        // materialize it eagerly so every corpus-sized cache above can
        // be released NOW rather than pinned behind the caller's lazy
        // consumption; the checkpoint blocks themselves are freed by
        // ContextCleaner once the caller drops the returned frame
        // (local checkpoints, unlike persists, have no CacheManager pin)
        val d = dup0.localCheckpoint()
        caches.foreach(_.unpersist(false))
        d
      }
    batch.join(dup, Seq(idCol), "left_anti")
  }

  /** The verified-duplicate sliver of [[antiJoinFuzzy]] plus the caches
    * its capped path registered (released by the public wrapper once
    * the sliver is checkpointed; exposed so the plan-shape spec can pin
    * the pre-checkpoint tree). */
  private[graft] def antiJoinFuzzyDup(
      batch: DataFrame, index: DataFrame, textCol: String,
      idCol: String, shingleN: Int, bands: Int,
      rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int): (DataFrame, Seq[DataFrame]) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val bk = Hashing.bandKeysUdf(shingleN, bands, rowsPerBand)
    val shUdf = Hashing.shinglesUdf(shingleN)
    val bKeys0 = batch.select(col(idCol).as("id_a"),
      explode(bk(col(textCol))).as("band_key"))
    val iKeys0 = index.select(col(idCol).as("id_b"),
      explode(bk(col(textCol))).as("band_key"))
    // every cache this call registers is handed back for the public
    // wrapper to RELEASE once the sliver is checkpointed: this gate
    // runs once per micro-batch in a standing pipeline, and
    // Dataset.persist pins its CacheManager entry until an explicit
    // unpersist — ContextCleaner only reclaims RDDs that become
    // unreachable, which cached plans never do — so leaking even one
    // corpus-sized entry per batch would exhaust executor storage on a
    // long-running stream
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (bKeys, iKeys) =
      if (maxBucketSize <= 0) (bKeys0, iKeys0)
      else {
        // the exploded key frames feed TWO consumers each (the hot-key
        // count aggregate AND the anti-join + band join below): persist
        // them so the tokenize→shingle→minhash pipeline runs ONCE per
        // side — unpersisted, the cap would cost a second full corpus
        // scan + hashing pass per side, at 100 TB the dominant term
        // (the dedup_cluster_best persist convention)
        val bK = bKeys0.persist(org.apache.spark.storage.StorageLevel
          .MEMORY_AND_DISK)
        val iK = iKeys0.persist(org.apache.spark.storage.StorageLevel
          .MEMORY_AND_DISK)
        caches += bK
        caches += iK
        // one aggregate per side (map-combinable counts), then drop hot
        // keys from BOTH sides — the per-key expansion is the PRODUCT
        // of the two memberships, so either side alone can blow it up.
        // `hot` feeds BOTH anti-joins: persisted too, or the corpus-
        // sized count aggregates would run once per consumer (the hot
        // SET itself is tiny — keys above the cap — so this cache is
        // bytes, and AQE broadcasts the anti-joins off it)
        val hot = bK.groupBy(col("band_key"))
          .agg(count(lit(1)).as("__nb"))
          .join(iK.groupBy(col("band_key"))
            .agg(count(lit(1)).as("__ni")), Seq("band_key"), "full_outer")
          .filter(coalesce(col("__nb"), lit(0L)) > maxBucketSize ||
            coalesce(col("__ni"), lit(0L)) > maxBucketSize)
          .observe("incremental_fuzzy_skew",
            count(lit(1)).as("dropped_hot_band_keys"))
          .select(col("band_key"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        caches += hot
        (bK.join(hot, Seq("band_key"), "left_anti"),
          iK.join(hot, Seq("band_key"), "left_anti"))
      }
    val cand = bKeys.join(iKeys, "band_key")
      .select(col("id_a"), col("id_b")).distinct()
    val dup0 = verifyJaccard(cand,
        batch.select(col(idCol).as("id_a"),
          explode(shUdf(col(textCol))).as("sh")),
        index.select(col(idCol).as("id_b"),
          explode(shUdf(col(textCol))).as("sh")), threshold,
        // per-row counts (distinct-shingle UDF ⇒ size == exploded
        // count): the verify stage skips both shuffled count aggregates
        aCounts0 = Some(batch.select(col(idCol).as("id_a"),
          size(shUdf(col(textCol))).cast("long").as("n_a"))),
        bCounts0 = Some(index.select(col(idCol).as("id_b"),
          size(shUdf(col(textCol))).cast("long").as("n_b"))))
      .select(col("id_a").as(idCol)).distinct()
    (dup0, caches.toSeq)
  }

  /** Boilerplate REMOVAL — the cleaning half of [[duplicatedSegments]]'s
    * detection: a line whose normalized form (lowercase, trimmed) occurs
    * in ≥ `minDocs` DISTINCT documents of the SAME source is site
    * boilerplate (navigation, headers, footers, cookie banners — the
    * CCNet / RefinedWeb per-shard repeated-paragraph rule), and the
    * operator emits each document REASSEMBLED without those lines:
    * (doc_id, n_lines, n_removed, text_clean), line order preserved,
    * empty lines kept verbatim (they carry no repeat evidence). Scoping
    * the count to the source matters: "all rights reserved" repeating
    * across a million pages of one site is boilerplate; the same words
    * quoted once on unrelated sites are content.
    *
    * Plan shape: per-row line posexplode (narrow), ONE groupBy shuffle
    * on (source, md5(line)) for the distinct-doc counts (hashing bounds
    * the shuffle-key width to 32 chars regardless of line length), a
    * left equi-join of the lines against the flagged sliver (shrinks
    * after HAVING → AQE broadcast in the common case), and one doc-keyed
    * aggregate to reassemble — collect_list is bounded by the document's
    * own line count, never corpus-sized. */
  def stripBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                            sourceCol: String, minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs below 2 strips every line, got $minDocs")
    // NULL text behaves as empty: split(NULL) would explode to zero rows
    // and silently DROP the document from the reassembled output
    val lines = df.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as(Seq("line_idx", "line")))
      .withColumn("lh", md5(trim(lower(col("line")))))
      .withColumn("blank", trim(col("line")) === "")
    val hot = lines.filter(!col("blank"))
      .groupBy(col("source"), col("lh"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("source"), col("lh"), lit(true).as("bp"))
    lines.join(hot, Seq("source", "lh"), "left")
      .withColumn("strip", col("bp").isNotNull && !col("blank"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("strip"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws("\n", transform(array_sort(collect_list(
            when(!col("strip"), struct(col("line_idx"), col("line"))))),
          kept => kept.getField("line"))).as("text_clean"))
  }

  /** Embedding near-dup at corpus scale: SRP-LSH signature bucketing
    * replaces the label-block quadratic — candidates are pairs sharing
    * the full hyperplane signature (one equi-join on the signature), then
    * the exact cosine filter verifies. Recall is tuned by the plane count
    * (fewer planes → bigger buckets → higher recall, more verification).
    * Identical vectors always share a signature, so exact dups have
    * recall 1. */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          planes: Seq[Seq[Float]],
                          threshold: Double): DataFrame = {
    val sig = graft.operators.SimilaritySearch.srpSignature(
      col(vecCol), planes.map(p => typedLit(p)))
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"), sig.as("sig"))
    val a = v.as("a"); val b = v.as("b")
    a.join(b, col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .withColumn("sim", VectorOps.cosine(col("a.vec"), col("b.vec")))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold within a blocking
    * column (label/shard). Blocking bounds the pair space; inside a block
    * the join is an equi-join on the block key then a cosine filter. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: String, threshold: Double): DataFrame = {
    val v = df.select(col(blockCol).as("blk"), col(idCol).as("id"), col(vecCol).as("vec"))
    val a = v.as("a"); val b = v.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("sim", VectorOps.cosine(col("a.vec"), col("b.vec")))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means clustering + within-cluster cosine
    * pruning. Each vector is coarse-assigned to its nearest centroid
    * (the IVF assignment — one codegen'd argmax per row, zero shuffle);
    * within a cluster, a vector is a semantic duplicate iff a
    * LOWER-ID vector of the same cluster sits within `threshold`
    * cosine — a deterministic keep rule (the paper keeps a random/
    * centroid-extremal member per ε-group; lowest-id is the
    * reproducible analog, matching the exact-dedup convention).
    *
    * Scale shape: the pair expansion is bounded by the CLUSTER, exactly
    * like the LSH buckets — one equi-shuffle on the cluster key, never
    * an all-pairs product. At 10⁹ docs the paper runs k≈10⁵ clusters so
    * the expected cluster is ~10⁴ vectors; the within-cluster join is
    * then ~10⁸ comparisons per cluster-partition, each a codegen'd
    * fused dot product, and hot clusters can be capped the same way
    * [[minHashLshPairs]] caps hot buckets.
    *
    * Returns one row per input vector: (id, cluster, kept) — `kept`
    * false iff pruned as a semantic dup. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Seq[Float]],
                    threshold: Double): DataFrame = {
    val assigned = graft.operators.SimilaritySearch
      .ivfAssign(df, centroids, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cluster"))
    val a = assigned.as("a"); val b = assigned.as("b")
    // ids with a closer (lower-id) semantic neighbour in their cluster
    val dups = a.join(b,
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(VectorOps.cosine(col("a.vec"), col("b.vec")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    assigned.join(dups.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("dup").isNull.as("kept"))
  }

  // ---- exact-substring (span-level) dedup ----------------------------------

  /** The rolling k-token gram table of a corpus: one row per gram start,
    * (id, pos, gh) with 0-based `pos` and `gh` = md5 of the
    * space-joined k tokens (engine-portable — the oracle replays it;
    * Hashing.gramHashesScala is byte-identical to the former Catalyst
    * md5(array_join(slice(...))) chain). Tokenization stays the
    * Catalyst split; the per-position hash loop runs as ONE
    * JIT-compiled UDF call per row — the interpreted HOF chain
    * (transform → slice → array_join → md5 per position) dominated the
    * span queries' per-task CPU (guide §4.2). Docs shorter than k
    * tokens emit no grams. */
  private def gramStarts(df: DataFrame, textCol: String, idCol: String,
                         k: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    df.filter(size(toks) >= k)
      .select(col(idCol).as("id"),
        posexplode(Hashing.gramHashesUdf(k)(toks)))
      .select(col("id"), col("pos"), col("col").as("gh"))
  }

  /** Exact-substring duplicate spans — the span-level pass of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499) re-expressed for a distributed engine.
    * Their single-machine suffix array finds substrings of ≥ L tokens
    * repeated anywhere in the corpus; the shuffle-friendly equivalent
    * is the k-token rolling gram table: a substring of ≥ k tokens
    * repeats iff each of its k-grams repeats, so duplicated-gram starts
    * are exactly the token positions inside corpus-repeated substrings.
    * Overlapping/adjacent duplicated coverage intervals [pos, pos+k-1]
    * are merged per doc into maximal spans (gaps-and-islands: with a
    * fixed k and ascending pos, a new island starts iff
    * pos − lag(pos) > k).
    *
    * Scale shape (the 100 TB story): the gram table is O(corpus
    * tokens) rows from ONE scan; duplicate marking is a gh-keyed
    * COUNT aggregate (map-side partial, md5 keys don't skew) joined
    * back on gh — never a window over gram occurrences, so a
    * boilerplate gram repeated 10⁶× costs one combiner row, not a 10⁶
    * row sort partition. The only window is the per-doc islands merge,
    * bounded by document length. This is the same O(tokens · log)
    * shuffle budget as the paper's distributed follow-ups
    * (deterministic-hash gram partitioning), with no suffix array to
    * build or hold.
    *
    * Returns (id, span_start, span_end, n_tokens) token-index spans,
    * inclusive, one row per maximal duplicated span. */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                      k: Int): DataFrame = {
    // the gram table feeds BOTH the duplicate-marking aggregate and the
    // join-back: persist it lazily so tokenize + k×md5 runs once per
    // row, not once per consumer (the dedup_cluster_best singleScan
    // idiom; ContextCleaner/Verify's clearCache reclaims it)
    val grams = gramStarts(df, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupGh = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(col("gh"))
    val dupStarts = grams.join(dupGh, Seq("gh"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    dupStarts
      .withColumn("new_island",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0)
          .otherwise(1))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - 1).as("span_end"))
      .select(col("id"), col("span_start").cast("int").as("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int").as("n_tokens"))
  }

  /** Span REMOVAL — the second half of Lee et al. 2022: drop every
    * token covered by a duplicated-substring occurrence, keeping the
    * corpus-canonical copy. Canonical occurrence of a gram = its
    * global minimum (id, pos) — an aggregate `min(struct(id, pos))`
    * per gh, skew-safe partial aggregation, never a window. A token
    * survives unless some NON-canonical duplicated-gram occurrence
    * covers it; tokens under only-canonical coverage keep the one
    * retained copy. Well-defined and deterministic for any overlap
    * pattern (document order never matters — ties broken by (id, pos)).
    *
    * Coverage expansion is bounded: k positions per non-canonical
    * duplicated occurrence only (the `sequence` explode), then ONE
    * distinct and ONE id-keyed rebuild group; clean text is the kept
    * tokens re-joined by single spaces in position order (both engines
    * rebuild identically — compare md5s, not originals: tokenization
    * already collapsed the original whitespace).
    *
    * Returns one row per input doc: (id, clean_md5, n_kept,
    * n_removed); docs shorter than k tokens pass through whole. */
  def removeDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                            k: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val tokens = df.select(col(idCol).as("id"),
        posexplode(toks).as(Seq("tokpos", "tok")))
    // persisted: consumed by the canonical-occurrence aggregate AND the
    // coverage join — without it the corpus is re-tokenized and
    // re-hashed once per consumer (see duplicatedSpans)
    val grams = gramStarts(df, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val canon = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("id"), col("pos"))).as("c"))
      .filter(col("cnt") >= 2)
      .select(col("gh"), col("c.id").as("cid"), col("c.pos").as("cpos"))
    val covered = grams.join(canon, Seq("gh"))
      .filter(!(col("id") === col("cid") && col("pos") === col("cpos")))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + k - 1))
        .as("tokpos"))
      .distinct()
    tokens
      .join(covered.withColumn("rm", lit(true)), Seq("id", "tokpos"), "left")
      .groupBy(col("id"))
      .agg(
        md5(array_join(transform(
          array_sort(collect_list(when(col("rm").isNull,
            struct(col("tokpos"), col("tok"))))),
          x => x.getField("tok")), " ")).as("clean_md5"),
        sum(when(col("rm").isNull, 1).otherwise(0)).cast("int").as("n_kept"),
        sum(when(col("rm").isNotNull, 1).otherwise(0)).cast("int")
          .as("n_removed"))
  }
}
