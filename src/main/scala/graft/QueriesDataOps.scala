package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{Hashing, TextAnalysis, VectorOps}
import graft.operators.{Dedup, HeavyHitters, Multimodal, Pca, SimilaritySearch}

/** Training-data pipeline operators (BASELINE.json north star: dedup,
  * similarity search, multimodal, text analysis) as driver-checkable
  * queries with DuckDB oracles. See Queries.scala for conventions.
  */
object QueriesDataOps {

  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The test `documents` parquet is one row group → one input partition,
    * which would serialize every CPU-heavy per-row map (tokenize, shingle,
    * md5) onto a single core. A cheap round-robin repartition of the skinny
    * text rows spreads the compute; at real scale the source is already
    * many-partitioned and callers skip this. */
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** Root for oracle SIDECAR artifacts (engine-trained inputs a DuckDB
    * oracle must replay — the OPQ rotations): PID-scoped so two
    * concurrent Verify processes (different sf dirs, worktrees) cannot
    * clobber each other's artifact between export and compare. The
    * oracle SQL embeds this path at string-construction time, and
    * oracle_sql.json is dumped by the SAME process that writes the
    * sidecar, so the compare always reads its own run's artifact. */
  private val oracleSidecarRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_oracle_sidecars_" +
      ProcessHandle.current().pid()

  /** documents ∪ deterministic duplicate variants — the test corpus has no
    * natural dups, so dedup operators run over: exact copies (+100000),
    * 10-char-truncated near-dups (+200000), case/whitespace-mangled
    * formatting dups (+300000).
    *
    * Single parquet scan: each row conditionally emits its variant through
    * one explode, instead of a 4-branch union that scans `documents` four
    * times (r2 bench showed the 4× scan dominating dedup_exact). */
  def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"), col("source"))
    def v(id: Column, text: Column) = struct(id.as("doc_id"), text.as("text"))
    val base = v(col("doc_id"), col("text"))
    val variants =
      when(col("doc_id") % 5 === 0,
        array(base, v(col("doc_id") + 100000, col("text"))))
      .when(col("doc_id") % 5 === 1,
        array(base, v(col("doc_id") + 200000,
          expr("substring(text, 1, length(text) - 10)"))))
      .when(col("doc_id") % 5 === 2,
        array(base, v(col("doc_id") + 300000, concat(upper(col("text")), lit("  ")))))
      .otherwise(array(base))
    spread(s, d)
      .select(explode(variants).as("v"), col("lang"), col("source"))
      .select(col("v.doc_id").as("doc_id"), col("v.text").as("text"),
        col("lang"), col("source"))
  }

  private val dwdSql: String = """
      dwd AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL SELECT doc_id + 100000, text, lang, source
          FROM documents WHERE doc_id % 5 = 0
        UNION ALL SELECT doc_id + 200000, substring(text, 1, length(text) - 10),
          lang, source FROM documents WHERE doc_id % 5 = 1
        UNION ALL SELECT doc_id + 300000, upper(text) || '  ', lang, source
          FROM documents WHERE doc_id % 5 = 2)"""

  /** ONE oracle for both incremental-dedup queries (plain anti-join and
    * Bloom-prefiltered): exact-equivalence is the bloom path's whole
    * claim, so they must be checked against the same text. */
  private lazy val incrementalOracleSql: String = s"""
      WITH $dwdSql,
      seen AS (SELECT DISTINCT md5(text) AS h FROM dwd WHERE doc_id < 250),
      batch AS (SELECT doc_id, text,
                       row_number() OVER (PARTITION BY md5(text)
                         ORDER BY doc_id) AS rn
                FROM dwd WHERE doc_id >= 250)
      SELECT doc_id FROM batch b
      WHERE rn = 1
        AND NOT EXISTS (SELECT 1 FROM seen s WHERE s.h = md5(b.text))
      ORDER BY doc_id"""

  /** ONE oracle for both clusters queries (min-label and alt-star): the
    * "both paths agree" claim is only provable if the contract they are
    * checked against is literally the same text. */
  private lazy val clustersOracleSql: String = s"""
      WITH RECURSIVE $minhashCandSql,
      $compChainSql
      SELECT id, comp FROM comp ORDER BY id"""

  /** Shared connected-components labeling contract over the `cand` pair
    * relation (undirected edges → transitive reach → min-member label in
    * `comp(id, comp)`). Spliced by BOTH clusters oracles and
    * dedup_cluster_best so the labeling contract stays one text. */
  private lazy val compChainSql: String = """
      edges AS (SELECT id_a AS a, id_b AS b FROM cand
                UNION SELECT id_b, id_a FROM cand),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT a AS id, least(a, min(b)) AS comp
               FROM reach GROUP BY a)"""

  /** Shared oracle SQL mirroring [[graft.functions.TextAnalysis.qualityScore]]:
    * the `f` CTE derives the padded-text/length features over `from`
    * (optionally carrying `extra` pass-through columns), and
    * [[qualityQSql]] is the 6-decimal-rounded composite score expression
    * over `f`'s columns. The quality-ranked oracles (dedup_cluster_best,
    * curate_best_per_source, curate_token_budget) splice these so a score
    * change lands in every oracle at once instead of four hand-kept
    * copies. */
  private def qualityFSql(from: String, extra: String = ""): String = s"""
      f AS (
        SELECT doc_id, ${extra}text, ' ' || lower(text) || ' ' AS p,
               length(text) * 1.0 AS n,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_words
        FROM $from)"""

  /** One stopword/marker hit in SQL — the oracle mirror of
    * TextAnalysis.wordHits: non-overlapping padded-word counting via the
    * length/replace trick, divisor = pattern length (word + 2 pads). */
  private def hitSql(w: String): String =
    s"(length(p) - length(replace(p, ' $w ', ''))) / ${w.length + 2}.0"

  /** The stopword-hit sum, derived from THE stopword list
    * (TextAnalysis.qualityStopwords) so engine and oracle cannot
    * diverge on membership or divisors. Requires a padded `p` column
    * (' ' || lower(text) || ' ') in scope. */
  private lazy val stopHitsSql: String =
    TextAnalysis.qualityStopwords.map(hitSql).mkString(" + ")

  private lazy val qualityQSql: String = {
    val stopHits = stopHitsSql
    s"""round((least(n / 500.0, 1.0) +
                      greatest(0.0, 1.0 - ((length(text) -
                        length(regexp_replace(text, '[.,;:!?]', '', 'g'))) /
                        greatest(n, 1.0)) * 10.0) +
                      least((($stopHits) / greatest(n_words * 1.0, 1.0)) * 4.0,
                        1.0)) / 3.0, 6)"""
  }

  /** Shared oracle CTE chain for the minhash band machinery, ending in
    * the `bands` relation of (doc_id, band_key); `sh` (DISTINCT doc
    * shingles) is also in scope for Jaccard verification. Spliced by
    * [[minhashCandSql]] (within-corpus pairs) and the cross-frame
    * incremental-fuzzy oracle. */
  private lazy val minhashBandsSql: String = s"""$dwdSql,
      toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
               FROM dwd),
      idx AS (SELECT doc_id, tk,
                     unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS s
              FROM toks),
      sh AS (SELECT DISTINCT doc_id, array_to_string(tk[s:s+2], ' ') AS sh
             FROM idx),
      mh AS (SELECT doc_id, sd.seed AS seed,
                    min(md5(CAST(sd.seed AS VARCHAR) || ':' || sh)) AS m
             FROM sh CROSS JOIN generate_series(0, 11, 1) AS sd(seed)
             GROUP BY doc_id, sd.seed),
      bands AS (SELECT doc_id,
                       CAST(seed // 3 AS VARCHAR) || ':' ||
                         string_agg(m || '|', '' ORDER BY seed) AS band_key
                FROM mh GROUP BY doc_id, seed // 3)"""

  /** [[minhashBandsSql]] plus the `cand` relation of DISTINCT
    * within-corpus candidate pairs (id_a < id_b). */
  private lazy val minhashCandSql: String = s"""$minhashBandsSql,
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band_key = b.band_key AND a.doc_id < b.doc_id)"""

  /** [[minhashCandSql]] with the HOT-BUCKET CAP replayed (the
    * within-frame mirror of the dedup_incremental_fuzzy_capped
    * convention): band keys held by more than `cap` documents are
    * dropped BEFORE pair expansion — exactly
    * Dedup.minhashLshPairs(maxBucketSize = cap) — so the capped recall
    * tradeoff of every composed entry point (verified dedup,
    * cluster-best, leakage-safe split) is hash-checked, never
    * hand-waved. */
  private def minhashCandCappedSql(cap: Int): String = s"""$minhashBandsSql,
      hot AS (SELECT band_key FROM bands GROUP BY band_key
              HAVING count(*) > $cap),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band_key = b.band_key AND a.doc_id < b.doc_id
               WHERE a.band_key NOT IN (SELECT band_key FROM hot))"""

  /** Exact-Jaccard verification over `cand` (id_a, id_b) and the `sh`
    * shingle relation, ending in `jac` (id_a, id_b, jaccard UNROUNDED) —
    * the oracle mirror of Dedup.verifyJaccard, spliced by BOTH
    * dedup_lsh_verified and dedup_incremental_fuzzy so the verify
    * contract stays one text. */
  private lazy val jaccardVerifySql: String = """
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
                FROM cand c
                  JOIN sh a ON a.doc_id = c.id_a
                  JOIN sh b ON b.doc_id = c.id_b AND a.sh = b.sh
                GROUP BY c.id_a, c.id_b),
      jac AS (SELECT id_a, id_b,
                     n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
              FROM inter
                JOIN counts ca ON ca.doc_id = id_a
                JOIN counts cb ON cb.doc_id = id_b)"""

  val dedup: Seq[Entry] = Seq(

    Entry("dedup_clusters", (s, dir) => {
      // pairs → CLUSTERS: connected components over the minhash LSH
      // candidate pairs via iterative min-label propagation; component
      // label = min member id, so keep-one-per-cluster is id == comp.
      val pairs = Dedup.minhashLshPairs(docsWithDups(s, dir), "text",
        "doc_id", shingleN = 3, bands = 4, rowsPerBand = 3)
      Dedup.connectedComponents(pairs)
        .orderBy(col("id"))
    }, Some(clustersOracleSql)),

    Entry("dedup_clusters_altstar", (s, dir) => {
      // same pairs → clusters contract on the ALTERNATING LARGE-STAR/
      // SMALL-STAR algorithm (SoCC'14): O(log n) rounds instead of
      // O(diameter) — the scale path when duplicate chains are long.
      // Hash-checked against the SAME recursive-SQL oracle as
      // dedup_clusters, so both paths provably agree.
      val pairs = Dedup.minhashLshPairs(docsWithDups(s, dir), "text",
        "doc_id", shingleN = 3, bands = 4, rowsPerBand = 3)
      Dedup.connectedComponentsAltStar(pairs)
        .orderBy(col("id"))
    }, Some(clustersOracleSql)),

    Entry("dedup_cluster_best", (s, dir) => {
      // clusters → the production KEEP decision: highest-quality member
      // of each duplicate cluster survives (not min-id, which can keep a
      // mangled variant over the clean original); singletons keep
      // themselves. One comp-keyed window beyond the clustering joins.
      // The skinny (id, text) projection feeds BOTH the minhash band
      // pipeline and the quality scoring — lazily persisted so the
      // variant-explode corpus is materialized once, not scanned twice
      // (the tokenBudgetSelect singleScan convention; ContextCleaner
      // unpersists when the frame is collected).
      val docs = docsWithDups(s, dir).select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
        shingleN = 3, bands = 4, rowsPerBand = 3)
      Dedup.bestPerCluster(docs, "text", "doc_id", pairs)
        .orderBy(col("comp"))
    }, Some {
      s"""
      WITH RECURSIVE $minhashCandSql,
      $compChainSql,
      ${qualityFSql("dwd")},
      sc AS (SELECT doc_id, $qualityQSql AS q FROM f),
      lab AS (SELECT sc.doc_id AS id, coalesce(comp.comp, sc.doc_id) AS comp, q
              FROM sc LEFT JOIN comp ON comp.id = sc.doc_id),
      ranked AS (SELECT comp, id, q,
                   row_number() OVER (PARTITION BY comp
                     ORDER BY q DESC, id ASC) AS rn,
                   count(*) OVER (PARTITION BY comp) AS n_members
                 FROM lab)
      SELECT comp, id AS keep_id, n_members, q AS quality
      FROM ranked WHERE rn = 1 ORDER BY comp"""
    }),

    Entry("dedup_cluster_best_capped", (s, dir) => {
      // the cluster-best KEEP decision over CAPPED pairs — the pair
      // stage runs with the hot-bucket guard (buckets > 3 docs drop
      // before expansion), so the 100 TB entry point composes the same
      // way the capped verified dedup does; members of a dropped
      // boilerplate family become their own singleton clusters (the
      // documented recall tradeoff), and the oracle replays the cap
      // rule through the same recursive-components labeling.
      val docs = docsWithDups(s, dir).select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
        shingleN = 3, bands = 4, rowsPerBand = 3, maxBucketSize = 3)
      Dedup.bestPerCluster(docs, "text", "doc_id", pairs)
        .orderBy(col("comp"))
    }, Some {
      s"""
      WITH RECURSIVE ${minhashCandCappedSql(3)},
      $compChainSql,
      ${qualityFSql("dwd")},
      sc AS (SELECT doc_id, $qualityQSql AS q FROM f),
      lab AS (SELECT sc.doc_id AS id, coalesce(comp.comp, sc.doc_id) AS comp, q
              FROM sc LEFT JOIN comp ON comp.id = sc.doc_id),
      ranked AS (SELECT comp, id, q,
                   row_number() OVER (PARTITION BY comp
                     ORDER BY q DESC, id ASC) AS rn,
                   count(*) OVER (PARTITION BY comp) AS n_members
                 FROM lab)
      SELECT comp, id AS keep_id, n_members, q AS quality
      FROM ranked WHERE rn = 1 ORDER BY comp"""
    }),

    Entry("dedup_exact", (s, dir) => {
      // hash-groupBy exact dedup: one shuffle on md5 (unskewed by
      // construction), map-side combinable.
      Dedup.exactGroups(docsWithDups(s, dir), "text", "doc_id")
        .orderBy(col("content_hash"))
    }, Some(s"""
      WITH $dwdSql
      SELECT md5(text) AS content_hash, count(*) AS n_dups,
             min(doc_id) AS keep_id
      FROM dwd GROUP BY md5(text) ORDER BY content_hash""")),

    Entry("dedup_fingerprint", (s, dir) => {
      // canonicalized (lower, strip punct, collapse ws) md5 — catches the
      // formatting-mangled variants exact md5 misses.
      Dedup.fingerprintGroups(docsWithDups(s, dir), "text", "doc_id")
        .orderBy(col("fingerprint"))
    }, Some(s"""
      WITH $dwdSql
      SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' ')) AS fingerprint,
             count(*) AS n_dups, min(doc_id) AS keep_id
      FROM dwd GROUP BY 1 ORDER BY fingerprint""")),

    Entry("dedup_minhash_lsh", (s, dir) => {
      // MinHash+LSH candidate pairs: 3-gram word shingles, 4 bands × 3
      // rows. Sub-quadratic: explode band keys, equi-join on band key.
      // MinHash = lexicographic min of md5(seed:shingle) — md5 hex is
      // engine-portable and fixed-width, so string MIN == numeric MIN.
      Dedup.minhashLshPairs(docsWithDups(s, dir), "text", "doc_id",
          shingleN = 3, bands = 4, rowsPerBand = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH $minhashCandSql
      SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""")),

    Entry("dedup_lsh_verified", (s, dir) => {
      // the composed production plan: LSH candidates → exact Jaccard on
      // candidates only (never all pairs) — Dedup.minhashLshVerified.
      Dedup.minhashLshVerified(docsWithDups(s, dir), "text", "doc_id",
          shingleN = 3, bands = 4, rowsPerBand = 3, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH $minhashCandSql,
      $jaccardVerifySql
      SELECT id_a, id_b, round(jaccard, 6) AS jaccard
      FROM jac WHERE jaccard >= 0.6
      ORDER BY id_a, id_b""")),

    Entry("dedup_lsh_verified_capped", (s, dir) => {
      // the CAPPED production shape of the within-frame composed plan:
      // band buckets hotter than 3 docs drop before pair expansion
      // (the r13 cross-frame probe measured exponent 1.38 uncapped on
      // boilerplate families; within-frame buckets expand C(n,2) each)
      // — maxBucketSize threaded through minhashLshVerified, and the
      // recall tradeoff oracle-replayed via the capped cand relation.
      Dedup.minhashLshVerified(docsWithDups(s, dir), "text", "doc_id",
          shingleN = 3, bands = 4, rowsPerBand = 3, threshold = 0.6,
          maxBucketSize = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH ${minhashCandCappedSql(3)},
      $jaccardVerifySql
      SELECT id_a, id_b, round(jaccard, 6) AS jaccard
      FROM jac WHERE jaccard >= 0.6
      ORDER BY id_a, id_b""")),

    Entry("dedup_incremental", (s, dir) => {
      // incremental ingestion dedup: a new batch is cleaned against the
      // ALREADY-INDEXED corpus (docs < 250 stand in for the historical
      // hash index) — in-batch exact dedup (min id wins) then an ANTI
      // join on the content hash; the index side ships only 128-bit
      // hashes, never text.
      val all = docsWithDups(s, dir)
      val seen = all.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("seen_hash")).distinct()
      Dedup.exact(all.filter(col("doc_id") >= 250), "text", "doc_id")
        .join(seen, md5(col("text")) === col("seen_hash"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, Some(incrementalOracleSql)),

    Entry("dedup_incremental_fuzzy", (s, dir) => {
      // NEAR-dup incremental gate: batch (>= 250) cleaned against the
      // indexed corpus (< 250) by LSH band join + exact-Jaccard verify
      // on candidates only — catches the truncated/reformatted copies
      // the exact hash gate admits. Emits surviving batch ids. The
      // variant-explode corpus feeds band keys, shingles, and the final
      // anti probe — persisted once (the dedup_cluster_best convention).
      val all = docsWithDups(s, dir).select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.antiJoinFuzzy(all.filter(col("doc_id") >= 250),
          all.filter(col("doc_id") < 250), "text", "doc_id",
          shingleN = 3, bands = 4, rowsPerBand = 3, threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $minhashBandsSql,
      cand AS (SELECT DISTINCT b.doc_id AS id_a, i.doc_id AS id_b
               FROM bands b JOIN bands i ON b.band_key = i.band_key
               WHERE b.doc_id >= 250 AND i.doc_id < 250),
      $jaccardVerifySql,
      dup AS (SELECT DISTINCT id_a FROM jac WHERE jaccard >= 0.5)
      SELECT doc_id FROM dwd
      WHERE doc_id >= 250 AND doc_id NOT IN (SELECT id_a FROM dup)
      ORDER BY doc_id""")),

    Entry("dedup_incremental_fuzzy_capped", (s, dir) => {
      // the CAPPED production shape of the incremental fuzzy gate: band
      // keys hot on either side (> 3 members here) drop before the
      // cross-frame join — the hot-bucket skew guard the r13 scale
      // probe forced (uncapped, a planted boilerplate family makes the
      // per-key expansion batch-count × index-count, exponent 1.38
      // over 10⁵→10⁶ rows; capped it is candidate-bounded). Oracle
      // replays the cap rule exactly, so the recall tradeoff is
      // hash-checked, not hand-waved.
      val all = docsWithDups(s, dir).select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.antiJoinFuzzy(all.filter(col("doc_id") >= 250),
          all.filter(col("doc_id") < 250), "text", "doc_id",
          shingleN = 3, bands = 4, rowsPerBand = 3, threshold = 0.5,
          maxBucketSize = 3)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $minhashBandsSql,
      bcnt AS (SELECT band_key,
                 sum(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS nb,
                 sum(CASE WHEN doc_id < 250 THEN 1 ELSE 0 END) AS ni
               FROM bands GROUP BY band_key),
      hot AS (SELECT band_key FROM bcnt WHERE nb > 3 OR ni > 3),
      cand AS (SELECT DISTINCT b.doc_id AS id_a, i.doc_id AS id_b
               FROM bands b JOIN bands i ON b.band_key = i.band_key
               WHERE b.doc_id >= 250 AND i.doc_id < 250
                 AND b.band_key NOT IN (SELECT band_key FROM hot)),
      $jaccardVerifySql,
      dup AS (SELECT DISTINCT id_a FROM jac WHERE jaccard >= 0.5)
      SELECT doc_id FROM dwd
      WHERE doc_id >= 250 AND doc_id NOT IN (SELECT id_a FROM dup)
      ORDER BY doc_id""")),

    Entry("dedup_incremental_bloom", (s, dir) => {
      // the 100 TB form of the same contract: the index hashes are
      // SHARDED by hash prefix into 8 Bloom filters (a single filter at
      // SURVEY §2.11's 10¹¹-hash sizing is ~120 GB — unbroadcastable);
      // each shard's filter screens only its slice of the batch, so
      // definitely-new rows skip the anti-join shuffle and only the fpp
      // sliver + true dups pay it. EXACT results — checked against the
      // SAME oracle as dedup_incremental (shared constant, agreement by
      // construction).
      val all = docsWithDups(s, dir)
      val seen = all.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("seen_hash")).distinct()
      val batch = Dedup.exact(all.filter(col("doc_id") >= 250), "text", "doc_id")
        .withColumn("h", md5(col("text")))
      Dedup.antiJoinWithShardedBloomPrefilter(batch, seen, "h", "seen_hash",
          shards = 8)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }, Some(incrementalOracleSql)),

    Entry("dedup_simhash", (s, dir) => {
      // SimHash bucket dedup: 12-bit signature from per-token md5 nibble
      // votes; near-dups collide on the signature. Per-row map + one
      // groupBy — linear, no pair explosion.
      Dedup.simhashGroups(spread(s, T(s, dir, "documents")), "text", "doc_id", bits = 12)
        .orderBy(col("simhash"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents),
      votes AS (
        SELECT doc_id, g.j AS j,
               sum(CASE WHEN substring(md5(tok), CAST(g.j AS INT), 1) >= '8'
                        THEN 1 ELSE -1 END) AS v
        FROM toks CROSS JOIN generate_series(1, 12, 1) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS (
        SELECT doc_id,
               string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j)
                 AS simhash
        FROM votes GROUP BY doc_id)
      SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_id
      FROM sig GROUP BY simhash ORDER BY simhash""")),

    Entry("dedup_simhash_hamming", (s, dir) => {
      // Hamming-≤1 simhash pairs via masked-signature bucketing — a
      // masked-key collision proves the distance bound, no verify pass.
      Dedup.simhashNearDupPairs(docsWithDups(s, dir), "text", "doc_id",
          bits = 20)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH $dwdSql,
      toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM dwd),
      votes AS (
        SELECT doc_id, g.j AS j,
               sum(CASE WHEN substring(md5(tok), CAST(g.j AS INT), 1) >= '8'
                        THEN 1 ELSE -1 END) AS v
        FROM toks CROSS JOIN generate_series(1, 20, 1) AS g(j)
        GROUP BY doc_id, g.j),
      sig AS (
        SELECT doc_id,
               string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j)
                 AS simhash
        FROM votes GROUP BY doc_id),
      keys AS (
        SELECT doc_id,
               CAST(m.j AS VARCHAR) || ':' ||
                 substring(simhash, 1, CAST(m.j AS INT) - 1) || '_' ||
                 substring(simhash, CAST(m.j AS INT) + 1) AS mkey
        FROM sig CROSS JOIN generate_series(1, 20, 1) AS m(j))
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keys a JOIN keys b ON a.mkey = b.mkey AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b""")),

    Entry("dedup_ngram_jaccard", (s, dir) => {
      // exact 3-gram Jaccard >= 0.6 within source blocks: shingle
      // equi-join for |A∩B|, per-doc counts for |A∪B|. Blocking bounds
      // the pair space; at scale this verifies LSH candidates instead of
      // running standalone.
      Dedup.ngramJaccardPairs(docsWithDups(s, dir), "text", "doc_id",
          blockCol = "source", shingleN = 3, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH $dwdSql,
      toks AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
               FROM dwd),
      idx AS (SELECT doc_id, source, tk,
                     unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS s
              FROM toks),
      sh AS (SELECT DISTINCT doc_id, source, array_to_string(tk[s:s+2], ' ') AS sh
             FROM idx),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM sh a JOIN sh b
                  ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b,
             round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
      FROM inter
        JOIN counts ca ON ca.doc_id = id_a
        JOIN counts cb ON cb.doc_id = id_b
      WHERE n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter) >= 0.6
      ORDER BY id_a, id_b""")),

    Entry("dedup_fuzzy_linkage", (s, dir) => {
      // fuzzy record linkage (Dedup.fuzzyLinkage): prefix-blocked
      // candidate pairs gated by EXACT Levenshtein distance over a
      // 48-char window — the order-sensitive edit-distance family
      // shingle/minhash ops can't express. On the dup fixture the
      // exact copies land at dist 0 and the 10-char-truncated variants
      // within the window edit budget; the upper-cased formatting dups
      // deliberately escape the block (documented blocking recall
      // tradeoff — fingerprint normalization owns that family). Hot
      // blocks (> 64 rows) drop — the LSH hot-bucket skew guard.
      Dedup.fuzzyLinkage(docsWithDups(s, dir), "text", "doc_id",
          blockLen = 12, window = 48, maxDist = 12, maxBlock = 64)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH $dwdSql,
      b0 AS (SELECT doc_id AS id, substr(text, 1, 12) AS blk,
                    substr(text, 1, 48) AS w
             FROM dwd WHERE text IS NOT NULL),
      ok AS (SELECT blk FROM b0 GROUP BY blk HAVING count(*) <= 64),
      b AS (SELECT b0.* FROM b0 JOIN ok USING (blk)),
      p AS (SELECT a.id AS id_a, bb.id AS id_b,
                   levenshtein(a.w, bb.w) AS dist
            FROM b a JOIN b bb ON a.blk = bb.blk AND a.id < bb.id)
      SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM p
      WHERE dist <= 12 ORDER BY id_a, id_b""")),

    Entry("dedup_segments", (s, dir) => {
      // sub-document dedup (the CCNet/Common Crawl duplicated-lines
      // pass): 8-token grid segments appearing in >= 2 DISTINCT docs —
      // whole-doc dedup misses boilerplate blocks shared across
      // otherwise-distinct documents. One uniform md5 shuffle + a join
      // against the flagged sliver; offset-shifted overlap stays
      // text_winnowing's job.
      Dedup.duplicatedSegments(T(s, dir, "documents"), "text", "doc_id",
          segTokens = 8, minDocs = 2)
        .orderBy(col("doc_id"), col("seg_idx"), col("seg_hash"))
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      segs AS (
        SELECT doc_id, CAST(i AS INT) AS seg_idx,
               md5(array_to_string(t[i*8+1 : i*8+8], ' ')) AS seg_hash
        FROM (SELECT doc_id, t,
                     unnest(range(0, CAST(ceil(len(t)/8.0) AS BIGINT))) AS i
              FROM toks)),
      hot AS (SELECT seg_hash, count(DISTINCT doc_id) AS n_docs
              FROM segs GROUP BY seg_hash HAVING count(DISTINCT doc_id) >= 2)
      SELECT s.doc_id, s.seg_idx, s.seg_hash, CAST(h.n_docs AS BIGINT) AS n_docs
      FROM segs s JOIN hot h USING (seg_hash)
      ORDER BY doc_id, seg_idx, seg_hash""")),

    Entry("dedup_embedding_lsh", (s, dir) => {
      // the scale path for embedding near-dup: SRP signature bucketing
      // (one equi-join) + exact cosine verification, no label blocking.
      val emb = T(s, dir, "embeddings")
      val planes = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", planes,
          threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }, Some("""
      WITH planes AS (SELECT vec_id AS pid, embedding AS pvec FROM embeddings
                      WHERE vec_id < 4),
      sigs AS (
        SELECT v.vec_id, v.embedding,
               string_agg(CASE WHEN list_dot_product(v.embedding::DOUBLE[],
                                     p.pvec::DOUBLE[]) > 0
                               THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS sig
        FROM embeddings v CROSS JOIN planes p GROUP BY v.vec_id, v.embedding),
      cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_cosine_similarity(a.embedding::DOUBLE[],
                 b.embedding::DOUBLE[]) AS sim
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id)
      SELECT id_a, id_b FROM cand WHERE sim >= 0.35
      ORDER BY id_a, id_b""")),

    Entry("dedup_embedding", (s, dir) => {
      // embedding near-dup pairs: cosine >= 0.35 within label blocks.
      Dedup.embeddingNearDupPairs(T(s, dir, "embeddings"), "vec_id",
          "embedding", "label", threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }, Some("""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
              >= 0.35
      ORDER BY id_a, id_b"""), bench = false),

    Entry("dedup_semantic", (s, dir) => {
      // SemDeDup: k-means cells (the seeded-centroid convention of the
      // IVF rows — vec_id < 4) bound the pair space, within-cell cosine
      // >= 0.35 prunes to the lowest-id representative. One row per
      // vector with its cell and keep verdict; the oracle replays the
      // identical argmax assignment and pruning rule in SQL.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 4 × 64 floats
      Dedup.semanticDedup(emb, "vec_id", "embedding", centroids,
          threshold = 0.35)
        .select(col("id"), col("cluster"), col("kept"))
        .orderBy(col("id"))
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      assigned AS (
        SELECT vec_id, embedding, cid AS cluster FROM (
          SELECT v.vec_id, v.embedding, c.cid,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                     c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
          FROM embeddings v CROSS JOIN cents c) WHERE r = 1),
      dups AS (SELECT DISTINCT b.vec_id
               FROM assigned a JOIN assigned b
                 ON a.cluster = b.cluster AND a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                       b.embedding::DOUBLE[]) >= 0.35)
      SELECT a.vec_id AS id, CAST(a.cluster AS INT) AS cluster,
             d.vec_id IS NULL AS kept
      FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id
      ORDER BY id""")),

    Entry("dedup_span_detect", (s, dir) => {
      // exact-substring duplicate SPANS (Lee et al. 2022,
      // arXiv:2107.06499 — suffix-array substring dedup re-expressed as
      // the shuffle-friendly k-gram equivalent): maximal per-doc token
      // ranges covered by corpus-repeated 8-grams. The duplicated
      // corpus's exact copies surface as whole-doc spans and its
      // truncated variants as long shared prefixes — both exercising
      // the islands merge. Dup marking is a gh-keyed aggregate (never a
      // window over gram occurrences — a boilerplate gram repeated 10⁶×
      // costs one combiner row); the only window is per-doc.
      Dedup.duplicatedSpans(docsWithDups(s, dir), "text", "doc_id", k = 8)
        .orderBy(col("id"), col("span_start"))
    }, Some(s"""
      WITH $dwdSql,
      t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM dwd),
      g AS (SELECT doc_id, i AS pos,
                   md5(array_to_string(toks[i+1 : i+8], ' ')) AS gh
            FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
            WHERE len(toks) >= 8),
      dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
      ds AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
      fl AS (SELECT doc_id, pos,
                    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                           ORDER BY pos) <= 8
                         THEN 0 ELSE 1 END AS ni
             FROM ds),
      isl AS (SELECT doc_id, pos,
                     sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM fl)
      SELECT doc_id AS id, CAST(min(pos) AS INT) AS span_start,
             CAST(max(pos) + 7 AS INT) AS span_end,
             CAST(max(pos) + 7 - min(pos) + 1 AS INT) AS n_tokens
      FROM isl GROUP BY doc_id, island
      ORDER BY id, span_start""")),

    Entry("dedup_span_removal", (s, dir) => {
      // the removal half of Lee et al. 2022: every token covered by a
      // NON-canonical duplicated-8-gram occurrence is dropped (canonical
      // = global min (id, pos) per gram — a skew-safe aggregate, so one
      // copy of each repeated substring survives). Compared by md5 of
      // the rebuilt text + kept/removed counts, so the whole
      // tokenize → mark → cover → rebuild path is hash-checked.
      Dedup.removeDuplicatedSpans(docsWithDups(s, dir), "text", "doc_id",
          k = 8)
        .orderBy(col("id"))
    }, Some(s"""
      WITH $dwdSql,
      t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM dwd),
      tok AS (SELECT doc_id, i - 1 AS tokpos, toks[i] AS tok
              FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
      g AS (SELECT doc_id, i AS pos,
                   md5(array_to_string(toks[i+1 : i+8], ' ')) AS gh
            FROM t, unnest(generate_series(0, len(toks) - 8)) AS u(i)
            WHERE len(toks) >= 8),
      canon AS (SELECT gh, doc_id AS cid, pos AS cpos FROM (
                  SELECT gh, doc_id, pos,
                         count(*) OVER (PARTITION BY gh) AS cnt,
                         row_number() OVER (PARTITION BY gh
                           ORDER BY doc_id, pos) AS rn
                  FROM g) WHERE cnt >= 2 AND rn = 1),
      cov AS (SELECT DISTINCT g.doc_id, g.pos + j.j AS tokpos
              FROM g JOIN canon USING (gh)
              CROSS JOIN unnest(generate_series(0, 7)) AS j(j)
              WHERE NOT (g.doc_id = canon.cid AND g.pos = canon.cpos))
      SELECT tok.doc_id AS id,
             md5(coalesce(array_to_string(
               list(tok.tok ORDER BY tok.tokpos)
                 FILTER (WHERE cov.doc_id IS NULL), ' '), '')) AS clean_md5,
             CAST(count(*) FILTER (WHERE cov.doc_id IS NULL) AS INT)
               AS n_kept,
             CAST(count(*) FILTER (WHERE cov.doc_id IS NOT NULL) AS INT)
               AS n_removed
      FROM tok LEFT JOIN cov
        ON cov.doc_id = tok.doc_id AND cov.tokpos = tok.tokpos
      GROUP BY tok.doc_id ORDER BY id"""))
  )

  /** One HITS iteration for the web_hits oracle (requires `nodes`,
    * `e(src,dst)` and `h{k-1}(id,hub)` CTEs): authority half-step then
    * hub half-step, each L2-normalized via a scalar subquery; a
    * normless half-step divides by 1 (keeps zeros), matching the
    * engine's guard. */
  private def hitsStepSql(k: Int): String = {
    val p = k - 1
    s"""a${k}0 AS (SELECT e.dst AS id, sum(h.hub) AS s
           FROM e JOIN h$p h ON e.src = h.id GROUP BY e.dst),
      a${k}f AS (SELECT nodes.id, coalesce(a${k}0.s, 0) AS v
           FROM nodes LEFT JOIN a${k}0 ON a${k}0.id = nodes.id),
      a${k}n AS (SELECT sqrt(sum(v * v)) AS nrm FROM a${k}f),
      a$k AS (SELECT id, v / (CASE WHEN (SELECT nrm FROM a${k}n) > 0
                THEN (SELECT nrm FROM a${k}n) ELSE 1.0 END) AS authority
           FROM a${k}f),
      hh${k}0 AS (SELECT e.src AS id, sum(a.authority) AS s
           FROM e JOIN a$k a ON e.dst = a.id GROUP BY e.src),
      hh${k}f AS (SELECT nodes.id, coalesce(hh${k}0.s, 0) AS v
           FROM nodes LEFT JOIN hh${k}0 ON hh${k}0.id = nodes.id),
      hh${k}n AS (SELECT sqrt(sum(v * v)) AS nrm FROM hh${k}f),
      h$k AS (SELECT id, v / (CASE WHEN (SELECT nrm FROM hh${k}n) > 0
                THEN (SELECT nrm FROM hh${k}n) ELSE 1.0 END) AS hub
           FROM hh${k}f)"""
  }

  /** One PageRank power iteration for the web_pagerank oracle
    * (requires `nodes`, `nn(n)`, `e(src,dst)`, `deg(src,deg)` and
    * `r{k-1}(id,pr)` CTEs): dangling mass d{k}, inflow c{k}, new
    * vector r{k}. Literals stay in the ENGINE's own IEEE order —
    * (1.0 - 0.85) / n, never a pre-folded 0.15 (the r2 float-literal
    * lesson). */
  private def prStepSql(k: Int): String = {
    val p = k - 1
    s"""d$k AS (SELECT coalesce(sum(r.pr), 0) AS dm
           FROM r$p r LEFT JOIN deg ON deg.src = r.id
           WHERE deg.src IS NULL),
      c$k AS (SELECT e.dst, sum(r.pr / deg.deg) AS inflow
           FROM e JOIN r$p r ON e.src = r.id
           JOIN deg ON deg.src = e.src
           GROUP BY e.dst),
      r$k AS (SELECT nodes.id,
             (1.0 - 0.85) / (SELECT n FROM nn) +
             0.85 * (coalesce(c$k.inflow, 0) +
                     (SELECT dm FROM d$k) / (SELECT n FROM nn)) AS pr
           FROM nodes LEFT JOIN c$k ON c$k.dst = nodes.id)"""
  }

  /** Shared oracle CTE chain replaying CurationPipeline.annotate over the
    * duplicated corpus: ends with a `v` relation of
    * (doc_id, verdict, quality, n_tokens) per post-dedup row. */
  private lazy val curationVerdictSql: String =
    s"""
      WITH $dwdSql,
      ${verdictChainSql("dwd")}"""

  /** The annotate-replay chain over an arbitrary base relation
    * (doc_id, text) — shared by the dup-corpus oracle above and the
    * incremental-curation oracle (which replays the FULL recompute
    * over the new snapshot while the engine runs the delta path). */
  private def verdictChainSql(base: String): String = {
    val scores = TextAnalysis.langMarkers.map { case (l, ms) =>
      s"(${ms.map(hitSql).mkString(" + ")}) AS s_$l"
    }.mkString(", ")
    val stopHits = stopHitsSql
    s"""
      dd AS (SELECT doc_id, text,
                    row_number() OVER (PARTITION BY md5(text)
                      ORDER BY doc_id) AS rn
             FROM $base),
      kept AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
                      length(text) * 1.0 AS n,
                      length(text) - length(replace(text, ' ', '')) + 1 AS n_words
               FROM dd WHERE rn = 1),
      sc AS (SELECT doc_id, n, n_words, text, $scores, ($stopHits) AS stop_hits
             FROM kept),
      feats AS (
        SELECT doc_id,
          CASE WHEN s_en > 0 AND s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
               WHEN s_fr > 0 AND s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
               WHEN s_es > 0 AND s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
               WHEN s_de > 0 AND s_de = greatest(s_en, s_fr, s_es, s_de) THEN 'de'
               ELSE 'und' END AS lang_pred,
          (least(n / 500.0, 1.0) +
           greatest(0.0, 1.0 - ((length(text) -
             length(regexp_replace(text, '[.,;:!?]', '', 'g'))) /
             greatest(n, 1.0)) * 10.0) +
           least((stop_hits / greatest(n_words * 1.0, 1.0)) * 4.0, 1.0)
          ) / 3.0 AS quality,
          len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens
        FROM sc),
      v AS (
        SELECT doc_id,
          CASE WHEN lang_pred NOT IN ('en') THEN 'lang'
               WHEN quality < 0.5 THEN 'quality'
               WHEN n_tokens < 10 OR n_tokens > 100000 THEN 'tokens'
               ELSE 'keep' END AS verdict,
          quality, n_tokens
        FROM feats)"""
  }

  val curation: Seq[Entry] = Seq(

    Entry("curate_web_e2e", (s, dir) => {
      // the COMPOSED crawl-ingest front half, hash-checked end to end:
      // pages (deterministic url + HTML around each document's text)
      // → WARC gzip shards → parse back (the real ingest hop: one gzip
      // member per record, one shard per partition) → HTML → text
      // extraction → Gopher-style word-count gate → URL canonicalize →
      // registered domain → per-domain cap (exact-k by md5 order). The
      // oracle replays every stage's law in SQL, with the WARC hop as
      // the identity text_warc_roundtrip pins (the ann_index_sync
      // replay convention: the engine DOES the hop, the oracle replays
      // its contract).
      import graft.functions.{TextExtraction, UrlOps}
      import graft.io.Warc
      val id = col("doc_id").cast("string")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://WWW.Example.COM/p/"), id))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://News.Example.CO.UK/a/"), id))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://blog.example.org/b/"), id))
        .otherwise(concat(lit("https://Shop.Example.com.au/s/"), id))
      val html = concat(
        lit("<html><head><title>T</title><script>var x = 1 < 2;" +
          "</script></head><body><h1>Doc "), id,
        lit("</h1><p>"), col("text"),
        lit("</p><div class=\"nav\"><a href=\"/home\">home page</a>" +
          "</div></body></html>"))
      val pages = T(s, dir, "documents")
        .select(url.as("url"), html.as("text")) // Warc.toShards contract
        .repartition(4)
      val fetched = Warc.fromShards(Warc.toShards(pages))
      val clean = TextExtraction.stripHtml(col("body_text"))
      val gated = fetched
        .select(col("target_uri"), clean.as("clean"))
        // non-empty tokens only (the webIngestStream law): an empty
        // extraction is 0 words, not 1
        .withColumn("n_words",
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.filter(
              split(col("clean"), "[ \n]"), t => length(t) > 0)))
        .filter(col("n_words") >= 40)
        .withColumn("domain", UrlOps.registeredDomain(
          UrlOps.hostOf(UrlOps.normalizeUrl(col("target_uri")))))
      graft.pipeline.CurationPipeline
        .sampleKPerStratum(gated, "domain", "target_uri", k = 30)
        .select(col("target_uri"), col("domain"),
          col("n_words").cast("int").as("n_words"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("target_uri"))
    }, Some(s"""
      WITH pg AS (
        SELECT doc_id,
          CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'HTTP://WWW.Example.COM/p/' || doc_id
            WHEN 1 THEN 'https://News.Example.CO.UK/a/' || doc_id
            WHEN 2 THEN 'https://blog.example.org/b/' || doc_id
            ELSE 'https://Shop.Example.com.au/s/' || doc_id END AS uri,
          '<html><head><title>T</title><script>var x = 1 < 2;' ||
          '</script></head><body><h1>Doc ' || doc_id || '</h1><p>' ||
          text || '</p><div class="nav"><a href="/home">home page</a>' ||
          '</div></body></html>' AS html
        FROM documents),
      d AS (SELECT uri, regexp_replace(regexp_replace(
              html, '(?is)<script[^>]*>.*?</script>', '', 'g'),
              '(?s)<!--.*?-->', '', 'g') AS t
            FROM pg),
      b AS (SELECT uri, regexp_replace(t,
              '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|table|section|article|header|footer|blockquote)\\b[^>]*>',
              chr(10), 'g') AS t FROM d),
      nt AS (SELECT uri, regexp_replace(t, '<[^>]*>', '', 'g') AS t FROM b),
      e AS (SELECT uri,
              replace(replace(replace(replace(replace(replace(t,
                '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''),
                '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS t
            FROM nt),
      c AS (SELECT uri, trim(regexp_replace(regexp_replace(
              regexp_replace(t,
                '[ \\t\\r]+', ' ', 'g'), ' ?\\n[ \\n]*', chr(10), 'g'),
              '^\\n+|\\n+$$', '', 'g')) AS clean
            FROM e),
      g AS (SELECT uri, clean,
                   len(list_filter(string_split_regex(clean, '[ \\n]'),
                     t -> len(t) > 0)) AS n_words
            FROM c
            WHERE len(list_filter(string_split_regex(clean, '[ \\n]'),
                    t -> len(t) > 0)) >= 40),
      hn AS (SELECT uri, clean, n_words,
               regexp_extract(lower(regexp_replace(uri, '#.*$$', '')),
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)', 1) AS host
             FROM g),
      dm AS (SELECT uri, clean, n_words, host,
                    string_split(host, '.') AS ls,
                    len(string_split(host, '.')) AS n
             FROM hn),
      dom AS (SELECT uri, clean, n_words,
                CASE WHEN n >= 3 AND (ls[-2] || '.' || ls[-1]) IN
                       (${graft.functions.UrlOps.secondLevelSuffixes
                        .map("'" + _ + "'").mkString(",")})
                     THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                     WHEN n >= 2 THEN ls[-2] || '.' || ls[-1]
                     ELSE host END AS domain
              FROM dm),
      r AS (SELECT uri, domain, n_words, clean,
              row_number() OVER (PARTITION BY domain
                ORDER BY md5(uri) ASC, uri ASC) AS rn
            FROM dom)
      SELECT uri AS target_uri, domain, CAST(n_words AS INT) AS n_words,
             md5(clean) AS clean_md5
      FROM r WHERE rn <= 30 ORDER BY target_uri""")),

    Entry("web_robots", (s, dir) => {
      // robots.txt compliance — the crawl-ethics gate (RFC 9309):
      // parse per-domain robots text into rule groups (consecutive
      // User-agent lines share a group, comments/blank/empty-value
      // lines vanish, rules before any UA line drop), select the
      // crawler's MOST SPECIFIC group (exact agent else '*'; an EMPTY
      // exact group allows everything rather than falling through),
      // then most-octets precedence with allow winning ties, with
      // §2.2.3 `*`/`$` patterns translated to anchored RE2-safe
      // regexes at parse time. Five synthesized robots flavors
      // exercise every branch: exact+star (exact wins), star-only
      // with the empty-Disallow allow-all idiom, a shared
      // consecutive-UA group, a wildcard domain (wildcard-vs-longer-
      // literal precedence, end anchor), and a trailing empty exact
      // group. The oracle replays the parse, the regex translation,
      // and the precedence law.
      import graft.functions.Robots
      val id = col("doc_id").cast("string")
      val domain = concat(lit("d"), (col("doc_id") % 5).cast("string"),
        lit(".example"))
      val urls = T(s, dir, "documents")
        .select(col("doc_id"), domain.as("domain"),
          when(col("doc_id") % 9 === 0, concat(lit("/private/x"), id))
            .when(col("doc_id") % 9 === 1, concat(lit("/private/ok/"), id))
            .when(col("doc_id") % 9 === 2, concat(lit("/tmp/"), id))
            .when(col("doc_id") % 9 === 3, concat(lit("/both/"), id))
            .when(col("doc_id") % 9 === 4, concat(lit("/pub/"), id))
            .when(col("doc_id") % 9 === 5,
              concat(lit("/pub/p?sessionid="), id))
            .when(col("doc_id") % 9 === 6,
              concat(lit("/x?sessionid="), id))
            .when(col("doc_id") % 9 === 7, lit("/ads/"))
            .otherwise(concat(lit("/ads/x"), id)).as("path"))
      val robots = urls.select(col("domain")).distinct()
        .withColumn("robots_txt",
          when(col("domain") === "d0.example",
            lit("User-agent: ccbot\nDisallow: /private\n" +
              "Allow: /private/ok\n\nUser-agent: *\nDisallow: /"))
          .when(col("domain") === "d1.example",
            lit("# robots\nUser-agent: *\nDisallow: /tmp\nDisallow:\n"))
          .when(col("domain") === "d3.example",
            lit("User-agent: *\nDisallow: /*?sessionid=\n" +
              "Allow: /pub/p?sessionid=\nAllow: /pub\nDisallow: /ads/$"))
          .when(col("domain") === "d4.example",
            lit("User-agent: *\nDisallow: /\nUser-agent: ccbot"))
          .otherwise(
            lit("User-agent: ccbot\nUser-agent: googlebot\n" +
              "Disallow: /both\nUser-agent: *\nAllow: /")))
      Robots.filterAllowed(urls, Robots.parseRules(robots), "ccbot")
        .select(col("doc_id"), col("domain"), col("path"), col("allowed"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH u AS (
        SELECT doc_id, 'd' || (doc_id % 5) || '.example' AS domain,
          CASE CAST(doc_id % 9 AS INT)
            WHEN 0 THEN '/private/x' || doc_id
            WHEN 1 THEN '/private/ok/' || doc_id
            WHEN 2 THEN '/tmp/' || doc_id
            WHEN 3 THEN '/both/' || doc_id
            WHEN 4 THEN '/pub/' || doc_id
            WHEN 5 THEN '/pub/p?sessionid=' || doc_id
            WHEN 6 THEN '/x?sessionid=' || doc_id
            WHEN 7 THEN '/ads/'
            ELSE '/ads/x' || doc_id END AS path
        FROM documents),
      rb AS (
        SELECT domain,
          CASE domain
            WHEN 'd0.example' THEN 'User-agent: ccbot' || chr(10) ||
              'Disallow: /private' || chr(10) || 'Allow: /private/ok' ||
              chr(10) || chr(10) || 'User-agent: *' || chr(10) ||
              'Disallow: /'
            WHEN 'd1.example' THEN '# robots' || chr(10) ||
              'User-agent: *' || chr(10) || 'Disallow: /tmp' || chr(10) ||
              'Disallow:' || chr(10)
            WHEN 'd3.example' THEN 'User-agent: *' || chr(10) ||
              'Disallow: /*?sessionid=' || chr(10) ||
              'Allow: /pub/p?sessionid=' || chr(10) ||
              'Allow: /pub' || chr(10) || 'Disallow: /ads/$'
            WHEN 'd4.example' THEN 'User-agent: *' || chr(10) ||
              'Disallow: /' || chr(10) || 'User-agent: ccbot'
            ELSE 'User-agent: ccbot' || chr(10) ||
              'User-agent: googlebot' || chr(10) || 'Disallow: /both' ||
              chr(10) || 'User-agent: *' || chr(10) || 'Allow: /' END
            AS txt
        FROM (SELECT DISTINCT domain FROM u)),
      ln0 AS (SELECT domain, string_split_regex(txt, '\r?\n') AS ls FROM rb),
      ln AS (SELECT domain, unnest(generate_series(1, len(ls))) AS pos, ls
             FROM ln0),
      cl AS (SELECT domain, pos,
                    trim(regexp_replace(ls[pos], '#.*$', '')) AS l
             FROM ln),
      kv AS (SELECT domain, pos,
                    lower(regexp_extract(l, '^([A-Za-z-]+)\s*:', 1)) AS key,
                    trim(regexp_extract(l, '^[A-Za-z-]+\s*:(.*)$', 1))
                      AS value
             FROM cl WHERE length(l) > 0),
      kept AS (SELECT * FROM kv
               WHERE key IN ('user-agent', 'allow', 'disallow')),
      gs AS (SELECT domain, pos, key, value,
                    CASE WHEN key = 'user-agent' AND
                         coalesce(lag(key) OVER (PARTITION BY domain
                           ORDER BY pos), 'x') <> 'user-agent'
                         THEN 1 ELSE 0 END AS starts_group
             FROM kept),
      gr AS (SELECT domain, pos, key, value,
                    sum(starts_group) OVER (PARTITION BY domain
                      ORDER BY pos) AS grp
             FROM gs),
      ag AS (SELECT domain, grp, lower(value) AS agent FROM gr
             WHERE key = 'user-agent' AND grp > 0),
      ru AS (SELECT domain, grp, key AS rule, value AS path FROM gr
             WHERE key <> 'user-agent' AND grp > 0
               AND length(value) > 0),
      rules AS (SELECT ag.domain, ag.agent, ru.rule, ru.path
                FROM ag LEFT JOIN ru ON ru.domain = ag.domain
                  AND ru.grp = ag.grp),
      sc0 AS (SELECT * FROM rules WHERE agent IN ('ccbot', '*')),
      hx AS (SELECT domain,
                    max(CASE WHEN agent = 'ccbot' THEN 1 ELSE 0 END)
                      AS has_exact
             FROM sc0 GROUP BY domain),
      sc1 AS (SELECT sc0.domain, sc0.rule, sc0.path AS rule_path
              FROM sc0 JOIN hx ON hx.domain = sc0.domain
              WHERE ((hx.has_exact = 1 AND sc0.agent = 'ccbot')
                 OR (hx.has_exact = 0 AND sc0.agent = '*'))
                AND sc0.path IS NOT NULL),
      sc AS (SELECT domain, rule, rule_path,
               (rule_path LIKE '%*%' OR rule_path LIKE '%$') AS is_pattern,
               '^' || replace(regexp_replace(
                   CASE WHEN rule_path LIKE '%$'
                        THEN substr(rule_path, 1, length(rule_path) - 1)
                        ELSE rule_path END,
                   '([.^$+?(){}\[\]|\\])', '\\\1', 'g'), '*', '.*')
                 || CASE WHEN rule_path LIKE '%$' THEN '$' ELSE '' END
                 AS rule_regex
             FROM sc1),
      cand AS (SELECT u.doc_id, u.domain, u.path, sc.rule, sc.rule_path
               FROM u LEFT JOIN sc ON sc.domain = u.domain
                 AND (CASE WHEN sc.is_pattern
                           THEN regexp_matches(u.path, sc.rule_regex)
                           ELSE starts_with(u.path, sc.rule_path) END)),
      win AS (SELECT doc_id, domain, path, rule,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY length(rule_path) DESC,
                         CASE WHEN rule = 'allow' THEN 0 ELSE 1 END ASC)
                       AS rn
              FROM cand)
      SELECT doc_id, domain, path,
             (rule IS NULL OR rule = 'allow') AS allowed
      FROM win WHERE rn = 1 ORDER BY doc_id""")),

    Entry("web_outlinks", (s, dir) => {
      // outlink extraction + resolution — the link-graph builder: href
      // targets of <a> anchors resolved against the page's own URL
      // (absolute pass through, protocol-relative take the scheme,
      // root-relative the origin, relative the base directory;
      // fragment-only links drop). Double-quoted, single-quoted, and
      // unquoted href values all extract (one pattern, one capture).
      // Links and bases are synthesized deterministically; the oracle
      // replays the identical RE2-safe chain, with link_idx = position
      // among the KEPT links.
      import graft.operators.WebGraph
      val id = col("doc_id").cast("string")
      val base = concat(lit("https://site"), (col("doc_id") % 5).cast("string"),
        lit(".example.com/a/b/page"), id)
      val html = concat(
        lit("<p><a href=\"https://other.example/abs/"), id,
        lit("\">x</a> <a href=\"//cdn.example.net/lib/"), id,
        lit("\">y</a> <a class=\"n\" href=\"/root/"), id,
        lit("\">z</a> <a href=\"rel/"), id,
        lit("\">w</a> <a href='/squote/"), id,
        lit("'>s</a> <a href=unq/"), id,
        lit(">u</a> <a href=\"/oq/o'brien-"), id,
        lit("\">q</a> <a href=\"#top\">t</a></p>"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(WebGraph.outlinks(html, base)))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("link_idx"),
          col("col").as("link"))
        .orderBy(col("doc_id"), col("link_idx"))
    }, Some("""
      WITH h AS (
        SELECT doc_id,
          'https://site' || (doc_id % 5) || '.example.com/a/b/page' ||
            doc_id AS base,
          '<p><a href="https://other.example/abs/' || doc_id ||
          '">x</a> <a href="//cdn.example.net/lib/' || doc_id ||
          '">y</a> <a class="n" href="/root/' || doc_id ||
          '">z</a> <a href="rel/' || doc_id ||
          '">w</a> <a href=''/squote/' || doc_id ||
          '''>s</a> <a href=unq/' || doc_id ||
          '>u</a> <a href="/oq/o''brien-' || doc_id ||
          '">q</a> <a href="#top">t</a></p>' AS html
        FROM documents),
      l AS (SELECT doc_id, base,
              regexp_extract_all(html,
                '(?is)<a\b[^>]*?\shref\s*=\s*("[^"#]*|''[^''#]*|[^"''\s>#]+)',
                1) AS hs
            FROM h),
      p AS (SELECT doc_id, hs,
              regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)
                AS scheme,
              regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)
                AS origin,
              regexp_replace(regexp_replace(base, '[?#].*$', ''),
                '/[^/]*$', '/') AS dir
            FROM l),
      ex AS (SELECT doc_id, unnest(generate_series(1, len(hs))) AS i,
                    hs, scheme, origin, dir
             FROM p),
      st AS (SELECT doc_id, i,
                    regexp_replace(hs[i], '^["'']', '') AS h,
                    scheme, origin, dir
             FROM ex),
      r AS (SELECT doc_id, i,
              CASE WHEN regexp_matches(h, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
                     THEN h
                   WHEN starts_with(h, '//') THEN scheme || ':' || h
                   WHEN starts_with(h, '/') THEN origin || h
                   WHEN length(h) > 0 THEN dir || h
                   ELSE '' END AS link
            FROM st),
      k AS (SELECT doc_id,
                   row_number() OVER (PARTITION BY doc_id ORDER BY i)
                     AS link_idx, link
            FROM r WHERE link <> '')
      SELECT doc_id, CAST(link_idx AS INT) AS link_idx, link
      FROM k ORDER BY doc_id, link_idx""")),

    Entry("web_anchor_text", (s, dir) => {
      // inlink anchor-text aggregation — anchor text describes the
      // TARGET page better than the target's own boilerplate (the
      // classic ranking feature, and a retrieval-training pair
      // augmentation): extract (resolved link, stripped anchor text)
      // pairs from every page, group by target, emit inlink count +
      // the sorted distinct anchor vocabulary. One extraction pattern
      // matched twice keeps hrefs and texts positionally zipped.
      import graft.operators.WebGraph
      val id = col("doc_id").cast("string")
      val base = concat(lit("https://s"), (col("doc_id") % 5).cast("string"),
        lit(".example/p/"), id)
      val html = concat(
        lit("<p><a href=\"/t/"), ((col("doc_id") * 3) % 40).cast("string"),
        lit("\">topic <b>"), (col("doc_id") % 7).cast("string"),
        lit("</b></a> and <a href=\"/t/"),
        ((col("doc_id") * 5 + 1) % 40).cast("string"),
        lit("\">guide &amp; notes</a> <a href='/t/"),
        ((col("doc_id") * 11 + 2) % 40).cast("string"),
        lit("'>deep dive</a> <a href=/t/"),
        ((col("doc_id") * 13 + 3) % 40).cast("string"),
        lit(">plain link</a></p>"))
      T(s, dir, "documents")
        .select(col("doc_id"), base.as("base"),
          explode(WebGraph.anchorTexts(html, base)).as("a"))
        .select(col("a.link").as("target"), col("a.text").as("anchor"))
        .groupBy(col("target"))
        .agg(count(lit(1)).as("n_inlinks"),
          array_join(array_sort(collect_set(col("anchor"))), "|")
            .as("anchors"))
        .orderBy(col("target"))
    }, Some("""
      WITH pg AS (
        SELECT doc_id,
          'https://s' || (doc_id % 5) || '.example' AS origin,
          '/t/' || ((doc_id * 3) % 40) AS l1,
          'topic ' || (doc_id % 7) AS t1,
          '/t/' || ((doc_id * 5 + 1) % 40) AS l2,
          'guide & notes' AS t2,
          '/t/' || ((doc_id * 11 + 2) % 40) AS l3,
          'deep dive' AS t3,
          '/t/' || ((doc_id * 13 + 3) % 40) AS l4,
          'plain link' AS t4
        FROM documents),
      pairs AS (
        SELECT origin || l1 AS target, t1 AS anchor FROM pg
        UNION ALL
        SELECT origin || l2 AS target, t2 AS anchor FROM pg
        UNION ALL
        SELECT origin || l3 AS target, t3 AS anchor FROM pg
        UNION ALL
        SELECT origin || l4 AS target, t4 AS anchor FROM pg)
      SELECT target, count(*) AS n_inlinks,
             array_to_string(list_sort(list_distinct(list(anchor))), '|')
               AS anchors
      FROM pairs GROUP BY target ORDER BY target""")),

    Entry("web_pagerank", (s, dir) => {
      // PageRank over a deterministic synthetic link graph (3 pseudo-
      // random outlinks per node, every 7th node dangling): 3 power
      // iterations at d = 0.85 with the standard uniform dangling-mass
      // redistribution — per iteration one src-keyed join, one
      // dst-keyed sum, ONE driver scalar. The oracle unrolls the three
      // iterations mechanically (the quality_lr convention); literals
      // evaluate in the same IEEE order on both engines ((1.0-0.85)/n,
      // never a pre-folded 0.15), ranks emit n-scaled and rounded.
      import graft.operators.WebGraph
      val docs = T(s, dir, "documents")
      // node count as a broadcast one-row frame instead of a driver
      // count() job (ReuseExchange collapses its two uses into one
      // broadcast); pmod/multiply against the column are the same
      // long/double ops the old literal performed — identical output
      val nrow = docs.agg(count(lit(1)).as("__nl"))
      val nodes = docs.select(col("doc_id").as("id"))
      val dsts = array(
        pmod(col("doc_id") * 3, col("__nl")),
        pmod(col("doc_id") * 5 + 1, col("__nl")),
        pmod(col("doc_id") * 7 + 2, col("__nl")))
      val edges = docs.filter(col("doc_id") % 7 =!= 0)
        .crossJoin(broadcast(nrow))
        .select(col("doc_id").as("src"), explode(dsts).as("dst"))
      WebGraph.pageRank(nodes, edges, iters = 3, d = 0.85)
        .crossJoin(broadcast(nrow))
        .select(col("id"),
          round(col("pagerank") * col("__nl").cast("double"), 6)
            .as("pr_scaled"))
        .orderBy(col("id"))
    }, Some(s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      e0 AS (SELECT doc_id AS src,
                    unnest([(doc_id * 3) % (SELECT count(*) FROM documents),
                            (doc_id * 5 + 1) % (SELECT count(*) FROM documents),
                            (doc_id * 7 + 2) % (SELECT count(*) FROM documents)])
                      AS dst
             FROM documents WHERE doc_id % 7 <> 0),
      e AS (SELECT DISTINCT src, dst FROM e0),
      deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src),
      r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
      ${Seq(1, 2, 3).map(prStepSql).mkString(",\n      ")}
      SELECT nodes.id, round(r3.pr * (SELECT n FROM nn), 6) AS pr_scaled
      FROM nodes JOIN r3 ON r3.id = nodes.id
      ORDER BY nodes.id""")),

    Entry("web_hits", (s, dir) => {
      // HITS hubs & authorities (Kleinberg 1999) over the same
      // synthetic graph as web_pagerank: 2 iterations of a ← Aᵀh,
      // h ← Aa with L2 normalization per half-step (one driver scalar
      // each — the Lloyd-transfer bound). The oracle unrolls both
      // iterations with the norms as scalar subqueries and the same
      // divide-by-1 guard for a normless half-step.
      import graft.operators.WebGraph
      val docs = T(s, dir, "documents")
      // node count folded in as a broadcast one-row frame — no driver
      // count() job (same convention as web_pagerank)
      val nrow = docs.agg(count(lit(1)).as("__nl"))
      val nodes = docs.select(col("doc_id").as("id"))
      val dsts = array(
        pmod(col("doc_id") * 3, col("__nl")),
        pmod(col("doc_id") * 5 + 1, col("__nl")),
        pmod(col("doc_id") * 7 + 2, col("__nl")))
      val edges = docs.filter(col("doc_id") % 7 =!= 0)
        .crossJoin(broadcast(nrow))
        .select(col("doc_id").as("src"), explode(dsts).as("dst"))
      WebGraph.hits(nodes, edges, iters = 2)
        .select(col("id"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy(col("id"))
    }, Some(s"""
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      e0 AS (SELECT doc_id AS src,
                    unnest([(doc_id * 3) % (SELECT count(*) FROM documents),
                            (doc_id * 5 + 1) % (SELECT count(*) FROM documents),
                            (doc_id * 7 + 2) % (SELECT count(*) FROM documents)])
                      AS dst
             FROM documents WHERE doc_id % 7 <> 0),
      e AS (SELECT DISTINCT src, dst FROM e0),
      h0 AS (SELECT id, 1.0 AS hub FROM nodes),
      ${Seq(1, 2).map(hitsStepSql).mkString(",\n      ")}
      SELECT h2.id, round(h2.hub, 6) AS hub,
             round(a2.authority, 6) AS authority
      FROM h2 JOIN a2 ON a2.id = h2.id
      ORDER BY h2.id""")),

    Entry("curate_prep_e2e", (s, dir) => {
      // the COMPOSED ingest-prep path, hash-checked end to end:
      // Unicode-hygiene normalize (NFC + control strip + whitespace
      // collapse; combining marks/controls injected by the
      // text_normalize convention so NFC is load-bearing in the output
      // md5) → canonical-fingerprint dedup over the duplicated corpus
      // (exact copies AND case/whitespace variants collapse, min
      // doc_id survives) → token-budget chunk stats (the 40/30
      // token-window chunker's count formula). One md5-keyed dedup
      // shuffle; everything else per-row.
      val dirty0 = docsWithDups(s, dir).select(col("doc_id"), col("text"))
      // explicit \u escapes: the marks MUST be decomposed (e + U+0301)
      // and the BEL literal present, or NFC and the control strip stop
      // being load-bearing (a precomposed literal would pass even with
      // a broken normalizer — the source-encoding trap a review caught)
      val dirty = dirty0.withColumn("t", concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" cafe\u0301"))
          .when(col("doc_id") % 4 === 1, lit("  na\u0308ive  x"))
          .when(col("doc_id") % 4 === 2, lit(" x\u0007y\tz"))
          .otherwise(lit(""))))
      val normed = dirty.select(col("doc_id"),
        TextAnalysis.normalizeText(col("t")).as("norm"))
      val w = Window.partitionBy(TextAnalysis.fingerprint(col("norm")))
        .orderBy(col("doc_id").asc)
      val toks = split(trim(col("norm")), "\\s+")
      normed.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
          size(toks).cast("int").as("n_tokens"),
          greatest(lit(1), ceil((size(toks) - 40).cast("double") / 30.0d)
            .cast("int") + 1).as("n_chunks"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $dwdSql,
      dirty AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769)
               WHEN doc_id % 4 = 1 THEN '  na' || chr(776) || 'ive  x'
               WHEN doc_id % 4 = 2 THEN ' x' || chr(7) || 'y' || chr(9) || 'z'
               ELSE '' END AS t
        FROM dwd),
      normed AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(nfc_normalize(t),
                 '[\\x00-\\x08\\x0B\\x0E-\\x1F]', '', 'g'),
                 '\\s+', ' ', 'g')) AS norm
        FROM dirty),
      fp AS (SELECT doc_id, norm,
                    row_number() OVER (PARTITION BY
                      md5(trim(regexp_replace(regexp_replace(lower(norm),
                        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' '))
                      ORDER BY doc_id) AS rn
             FROM normed),
      kept AS (SELECT doc_id, norm,
                      string_split_regex(trim(norm), '\\s+') AS toks
               FROM fp WHERE rn = 1)
      SELECT doc_id, md5(norm) AS norm_md5,
             CAST(len(toks) AS INT) AS n_tokens,
             greatest(1, CAST(ceil((len(toks) - 40) / 30.0) AS INT) + 1)
               AS n_chunks
      FROM kept ORDER BY doc_id""")),

    Entry("curate_corpus", (s, dir) => {
      // the composed training-data flow: exact dedup → language
      // allowlist → quality floor → token band, every surviving row
      // annotated with its verdict (pipeline.CurationPipeline).
      graft.pipeline.CurationPipeline.annotate(docsWithDups(s, dir))
        .select(col("doc_id"), col("verdict"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      $curationVerdictSql
      SELECT doc_id, verdict FROM v ORDER BY doc_id""")),

    Entry("curate_decontaminate", (s, dir) => {
      // train/eval-overlap gate: docs < 20 stand in for the benchmark
      // set; candidates sharing any 5-gram word shingle are flagged.
      val docs = T(s, dir, "documents")
      graft.pipeline.CurationPipeline.decontaminate(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "text", "doc_id", shingleN = 5)
        .orderBy(col("doc_id"))
    }, Some("""
      WITH b AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
                 FROM documents),
      idx AS (SELECT doc_id, tk,
                     unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS s
              FROM b),
      sh AS (SELECT DISTINCT doc_id, array_to_string(tk[s:s+4], ' ') AS sh
             FROM idx),
      bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20)
      SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (sh)
      WHERE s.doc_id >= 20 ORDER BY doc_id""")),

    Entry("curate_decontaminate_fuzzy", (s, dir) => {
      // fuzzy train/eval-overlap gate: winnowing-fingerprint CONTAINMENT
      // against the benchmark set (docs < 20, as curate_decontaminate)
      // catches lightly edited eval copies the exact-shingle gate misses.
      // Emits every candidate's score card; flagged = containment >= 0.8.
      val docs = T(s, dir, "documents")
      graft.pipeline.CurationPipeline.decontaminateFuzzy(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "text", "doc_id", k = 8, w = 4, tau = 0.8)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $winnowChainSql,
      fp AS (SELECT DISTINCT doc_id, split_part(sel, ':', 1) AS fp_hash
             FROM s WHERE pos <= n_pos - 3),
      bench AS (SELECT DISTINCT fp_hash FROM fp WHERE doc_id < 20),
      sc AS (SELECT fp.doc_id, count(DISTINCT fp.fp_hash) AS n_fps,
                    count(DISTINCT CASE WHEN b.fp_hash IS NOT NULL
                      THEN fp.fp_hash END) AS n_hits
             FROM fp LEFT JOIN bench b ON b.fp_hash = fp.fp_hash
             WHERE fp.doc_id >= 20 GROUP BY fp.doc_id)
      SELECT doc_id, n_fps, n_hits,
             round(n_hits * 1.0 / n_fps, 6) AS containment,
             round(n_hits * 1.0 / n_fps, 6) >= 0.8 AS flagged
      FROM sc ORDER BY doc_id""")),

    Entry("curate_contamination_report", (s, dir) => {
      // provenance for the fuzzy gate: per overlapping candidate, the
      // benchmark doc explaining most of the shared fingerprints
      // (ties to the smaller bench id) — "which eval set leaked here".
      val docs = T(s, dir, "documents")
      graft.pipeline.CurationPipeline.contaminationReport(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "text", "doc_id", k = 8, w = 4)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $winnowChainSql,
      fp AS (SELECT DISTINCT doc_id, split_part(sel, ':', 1) AS fp_hash
             FROM s WHERE pos <= n_pos - 3),
      bench AS (SELECT doc_id AS bench_id, fp_hash FROM fp WHERE doc_id < 20),
      pairs AS (SELECT f.doc_id, b.bench_id,
                       count(DISTINCT f.fp_hash) AS n_shared
                FROM fp f JOIN bench b USING (fp_hash)
                WHERE f.doc_id >= 20 GROUP BY f.doc_id, b.bench_id),
      r AS (SELECT doc_id, bench_id, n_shared,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY n_shared DESC, bench_id ASC) AS rn
            FROM pairs)
      SELECT doc_id, bench_id, n_shared FROM r WHERE rn = 1
      ORDER BY doc_id""")),

    Entry("curate_boilerplate", (s, dir) => {
      // site-boilerplate removal: the corpus has no line structure, so
      // wrap every 8 words into a line (deterministic, mirrored in the
      // oracle), then strip lines whose normalized form appears in >= 3
      // distinct docs of the same source and emit the REASSEMBLED text.
      // Run over the dup-variant corpus: exact/case copies give repeated
      // lines real multiplicity.
      val wrapped = docsWithDups(s, dir).select(col("doc_id"), col("source"),
        regexp_replace(col("text"), lit("((?:\\S+ ){7}\\S+) "), lit("$1\n"))
          .as("text"))
      Dedup.stripBoilerplateLines(wrapped, "text", "doc_id", "source",
          minDocs = 3)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH $dwdSql,
      w AS (SELECT doc_id, source,
              regexp_replace(text, '((?:\\S+ ){7}\\S+) ', '\\1' || chr(10), 'g')
                AS t FROM dwd),
      ls AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM w),
      ix AS (SELECT doc_id, source, ls, unnest(generate_series(1, len(ls))) AS i
             FROM ls),
      ln AS (SELECT doc_id, source, i, ls[i] AS line,
                    trim(lower(ls[i])) AS nrm FROM ix),
      hot AS (SELECT source, nrm FROM ln WHERE nrm != ''
              GROUP BY source, nrm HAVING count(DISTINCT doc_id) >= 3)
      SELECT ln.doc_id, count(*) AS n_lines,
             count(*) FILTER (WHERE h.nrm IS NOT NULL AND ln.nrm != '')
               AS n_removed,
             coalesce(string_agg(CASE WHEN h.nrm IS NULL OR ln.nrm = ''
                 THEN ln.line END, chr(10) ORDER BY ln.i), '') AS text_clean
      FROM ln LEFT JOIN hot h ON h.source = ln.source AND h.nrm = ln.nrm
      GROUP BY ln.doc_id ORDER BY ln.doc_id""")),

    Entry("curate_sample", (s, dir) => {
      // deterministic stratified sampling (data mixing): per-source keep
      // fractions decided by md5(id) against a hex threshold — same rows
      // kept on every run/engine/partitioning, so the oracle is exact.
      // Sources outside the mix are dropped (allowlist semantics).
      graft.pipeline.CurationPipeline.stratifiedSample(
          T(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, source FROM documents
      WHERE md5(CAST(doc_id AS VARCHAR)) <
        CASE source
          WHEN 'src0' THEN 'g'
          WHEN 'src1' THEN '80000000000000000000000000000000'
          WHEN 'src2' THEN '40000000000000000000000000000000'
          WHEN 'src3' THEN '19999999000000000000000000000000'
          ELSE '00000000000000000000000000000000' END
      ORDER BY doc_id""")),

    Entry("curate_sample_k", (s, dir) => {
      // EXACT-k per-stratum sample: the fixed-size eval-subset draw a
      // fraction sampler cannot give — exactly min(k, |stratum|) rows
      // per source, chosen by md5(id) order (deterministic across
      // runs/engines/partitionings, uniform for hash-random ids). One
      // stratum-keyed window shuffle, top-k state per stratum.
      graft.pipeline.CurationPipeline.sampleKPerStratum(
          T(s, dir, "documents"), "source", "doc_id", k = 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source, row_number() OVER (PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        FROM documents)
      WHERE rn <= 5 ORDER BY doc_id""")),

    Entry("curate_best_per_source", (s, dir) => {
      // per-domain selection: top-5 documents by quality within each
      // source — hash-partitioned window on the group key (the q07
      // shape applied to curation); quality rounded before ranking so
      // the order is engine-portable.
      val q = round(TextAnalysis.qualityScore(col("text")), 6)
      val w = Window.partitionBy(col("source"))
        .orderBy(col("q").desc, col("doc_id").asc)
      T(s, dir, "documents")
        .select(col("doc_id"), col("source"), q.as("q"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank").cast("int").as("rank"),
          col("doc_id"), col("q").as("quality"))
        .orderBy(col("source"), col("rank"))
    }, Some {
      s"""
      WITH ${qualityFSql("documents", "source, ")},
      sc AS (SELECT doc_id, source, $qualityQSql AS q FROM f),
      ranked AS (
        SELECT source, doc_id, q,
               row_number() OVER (PARTITION BY source
                 ORDER BY q DESC, doc_id ASC) AS rank
        FROM sc)
      SELECT source, CAST(rank AS INT) AS rank, doc_id, q AS quality
      FROM ranked WHERE rank <= 5 ORDER BY source, rank"""
    }, bench = false),

    Entry("curate_weighted_sample", (s, dir) => {
      // weight-proportional subset draw (Efraimidis–Spirakis A-ES):
      // k=100 docs with inclusion probability ∝ length(text)+1 — the
      // length-weighted draw a uniform sampler cannot give (token-
      // weighted corpus subsets sample long docs at their token mass).
      // Deterministic: u = 52-bit dyadic from md5(seed:id), exact on
      // both engines; ln differs ≤1 ulp across libms, key gaps dwarf
      // it, ids tie-break. Plans as TakeOrderedAndProject — no global
      // sort; the rank window touches k rows only. The FLOAT key stays
      // internal: the hashable surface is (rank, doc_id, w) — integers.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      graft.pipeline.CurationPipeline.weightedSample(
          docs, k = 100, weightCol = length(col("text")) + lit(1),
          seed = "7")
        .select(col("rank"), col("doc_id"),
          (length(col("text")) + lit(1)).cast("long").as("w"))
        .orderBy(col("rank"))
    }, Some("""
      WITH d AS (SELECT doc_id, length(text) + 1 AS w,
             (CAST(concat('0x',
                substr(md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 13))
                AS BIGINT) + 1) / 4503599627370496.0 AS u
           FROM documents WHERE text IS NOT NULL),
      s AS (SELECT doc_id, w, ln(u) / w AS key FROM d
            ORDER BY key DESC, doc_id LIMIT 100)
      SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT)
               AS rank,
             doc_id, CAST(w AS BIGINT) AS w
      FROM s ORDER BY rank""")),

    Entry("curate_quality_deciles", (s, dir) => {
      // curriculum/difficulty bucketing: per-SOURCE quality deciles via
      // ntile(10) — the "train on easy first / mix by difficulty band"
      // assignment, WITHOUT a global sort (the window partitions on
      // source; a corpus-wide ntile would funnel through one
      // partition). Quality rounded before ordering, ties to doc_id —
      // the curate_best_per_source conventions.
      val q = round(TextAnalysis.qualityScore(col("text")), 6)
      val w = Window.partitionBy(col("source"))
        .orderBy(col("q").desc, col("doc_id").asc)
      T(s, dir, "documents")
        .select(col("doc_id"), col("source"), q.as("q"))
        .withColumn("decile", ntile(10).over(w).cast("int"))
        .select(col("doc_id"), col("source"), col("q").as("quality"),
          col("decile"))
        .orderBy(col("doc_id"))
    }, Some {
      s"""
      WITH ${qualityFSql("documents", "source, ")},
      sc AS (SELECT doc_id, source, $qualityQSql AS q FROM f)
      SELECT doc_id, source, q AS quality,
             CAST(ntile(10) OVER (PARTITION BY source
               ORDER BY q DESC, doc_id ASC) AS INT) AS decile
      FROM sc ORDER BY doc_id"""
    }),

    Entry("curate_pack", (s, dir) => {
      // sequence packing into 512-token bins, per source — running-sum
      // window in (source, doc_id) order; docs bin where they start.
      graft.pipeline.CurationPipeline.packSequences(
          T(s, dir, "documents"), capacity = 512)
        .orderBy(col("source"), col("doc_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, source,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
                 AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tokens,
               coalesce(CAST(sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS cum_before
        FROM t)
      SELECT doc_id, source, n_tokens,
             cum_before // 512 AS bin, cum_before % 512 AS offset
      FROM c ORDER BY source, doc_id""")),

    Entry("curate_length_buckets", (s, dir) => {
      // fixed-shape batch planning: docs binned to the smallest
      // power-of-two capacity ≥ token count, with per-bucket padding
      // waste — the report a bucketed-batching strategy minimizes. The
      // ladder is explicit integer CASE logic on BOTH engines (float
      // log2 at an exact power of two is libm-dependent in the last
      // ulp); waste_frac is one long/long double division, IEEE-exact.
      graft.pipeline.CurationPipeline.lengthBucketReport(
        T(s, dir, "documents"))
    }, Some("""
      WITH t AS (
        SELECT CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
                 AS n
        FROM documents),
      b AS (
        SELECT n,
               CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                    WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                    WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
                    WHEN n <= 1024 THEN 1024 WHEN n <= 2048 THEN 2048
                    WHEN n <= 4096 THEN 4096 WHEN n <= 8192 THEN 8192
                    ELSE 16384 END AS bucket
        FROM t)
      SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
             CAST(sum(n) AS BIGINT) AS tokens,
             CAST(sum(bucket - n) AS BIGINT) AS padding_waste,
             CAST(sum(bucket - n) AS DOUBLE) /
               CAST(count(*) * bucket AS DOUBLE) AS waste_frac
      FROM b GROUP BY bucket ORDER BY bucket""")),

    Entry("curate_epoch_mix", (s, dir) => {
      // domain reweighting with UPSAMPLING: weight 2.5 = ~2.5 epochs of
      // that stratum (floor copies for all + md5-selected extra for the
      // fraction), the standard recipe for boosting small high-quality
      // domains. Deterministic copy index → exact SQL oracle.
      graft.pipeline.CurationPipeline.epochMix(
          T(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 1.0, "fr" -> 0.5, "de" -> 1.25, "zh" -> 2.5))
        .select(col("doc_id"), col("lang"), col("copy").cast("int").as("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }, Some("""
      WITH c AS (
        SELECT doc_id, lang,
               CASE lang WHEN 'en' THEN 1 WHEN 'fr' THEN 0
                         WHEN 'de' THEN 1 WHEN 'zh' THEN 2 ELSE 0 END
               + CASE WHEN md5(CAST(doc_id AS VARCHAR)) <
                   CASE lang
                     WHEN 'fr' THEN '80000000000000000000000000000000'
                     WHEN 'de' THEN '40000000000000000000000000000000'
                     WHEN 'zh' THEN '80000000000000000000000000000000'
                     ELSE '00000000000000000000000000000000' END
                 THEN 1 ELSE 0 END AS n
        FROM documents
        WHERE lang IN ('en', 'fr', 'de', 'zh'))
      SELECT doc_id, lang, CAST(unnest(generate_series(0, n - 1)) AS INT) AS copy
      FROM c WHERE n > 0
      ORDER BY doc_id, copy""")),

    Entry("curate_temperature_mix", (s, dir) => {
      // temperature-scaled language rebalancing, the multilingual-
      // pretraining mix: weights DERIVED from corpus counts
      // (w_i = N·√n_i / (Σ√n_j · n_i), α = 0.5), capped at 10 epochs,
      // then applied through a broadcast-join expansion. The oracle
      // re-derives the weights in SQL — bit-reproducible because every
      // op (sqrt, stratum-ordered sum, mul/div, floor, ×2³²) is
      // deterministic IEEE, with the sum folded through a RECURSIVE CTE:
      // a windowed cumulative sum drifts in the last ulp beyond 16
      // strata (segment-tree evaluation) — see
      // CurationPipeline.temperatureMix.
      graft.pipeline.CurationPipeline.temperatureMix(
          T(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, maxWeight = 10.0)
        .select(col("doc_id"), col("lang"), col("copy").cast("int").as("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }, Some("""
      WITH RECURSIVE counts AS (
        SELECT lang, CAST(count(*) AS DOUBLE) AS n_i
        FROM documents WHERE lang IS NOT NULL GROUP BY lang),
      tot AS (SELECT CAST(sum(CAST(n_i AS BIGINT)) AS DOUBLE) AS n FROM counts),
      o AS (SELECT lang, n_i, row_number() OVER (ORDER BY lang) AS rn
            FROM counts),
      fold AS (
        SELECT rn, sqrt(n_i) AS acc FROM o WHERE rn = 1
        UNION ALL
        SELECT o.rn, f.acc + sqrt(o.n_i) FROM fold f JOIN o ON o.rn = f.rn + 1),
      s AS (SELECT acc AS s FROM fold ORDER BY rn DESC LIMIT 1),
      w AS (SELECT lang, n_i, least((n * sqrt(n_i)) / (s * n_i), 10.0) AS w
            FROM counts, tot, s),
      thr AS (SELECT lang, CAST(floor(w) AS INT) AS fl,
                CASE WHEN w - floor(w) <= 0 THEN repeat('0', 32)
                     ELSE printf('%08x', CAST(floor((w - floor(w)) * 4294967296.0)
                       AS BIGINT)) || repeat('0', 24) END AS t
              FROM w),
      c AS (SELECT d.doc_id, d.lang,
              fl + CASE WHEN md5(CAST(d.doc_id AS VARCHAR)) < t
                   THEN 1 ELSE 0 END AS n
            FROM documents d JOIN thr USING (lang))
      SELECT doc_id, lang, CAST(unnest(generate_series(0, n - 1)) AS INT) AS copy
      FROM c WHERE n > 0
      ORDER BY doc_id, copy""")),

    Entry("curate_token_budget", (s, dir) => {
      // data selection under a fixed token budget: highest-quality docs
      // first, in global (quality desc, id asc) order, until half the
      // corpus' tokens are spent. The oracle states the semantics as ONE
      // global running-sum window; the engine computes it in the
      // two-phase bucket-rollup shape that survives 100 TB (the only
      // single-partition window runs over the ≤10⁶-row quality-bucket
      // rollup, never the corpus) — see CurationPipeline.tokenBudgetSelect.
      // singleScan is the production-at-scale form: the scoring regexes
      // run once over a lazily persisted skinny projection.
      graft.pipeline.CurationPipeline.tokenBudgetSelect(
          T(s, dir, "documents"), fraction = 0.5, singleScan = true)
        .orderBy(col("doc_id"))
    }, Some {
      s"""
      WITH ${qualityFSql("documents")},
      sc AS (SELECT doc_id, $qualityQSql AS q,
                    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
                      AS n_tokens
             FROM f),
      tot AS (SELECT CAST(floor(sum(n_tokens) * 0.5) AS BIGINT) AS budget
              FROM sc),
      c AS (SELECT doc_id, q, n_tokens,
                   coalesce(CAST(sum(n_tokens) OVER (ORDER BY q DESC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS cum_before
            FROM sc)
      SELECT doc_id, q AS quality, n_tokens, cum_before
      FROM c, tot WHERE cum_before < budget ORDER BY doc_id"""
    }),

    Entry("curate_snapshot_diff", (s, dir) => {
      // incremental-corpus reconciliation: added/removed/changed between
      // two snapshots (old drops ids ≡3 mod 11 and carries a stale
      // revision for ≡5; new drops ≡7) via ONE co-partitioned
      // full-outer join on the id — the inventory report before an
      // incremental run reprocesses only the changed slice. The oracle
      // runs the same diff, not the fixture arithmetic.
      val docs = T(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 11 === 5, concat(col("text"), lit(" [rev1]")))
            .otherwise(col("text")))
      val nw = docs.filter(col("doc_id") % 11 =!= 7)
      graft.pipeline.CurationPipeline.snapshotDiff(old, nw)
        .filter(col("status") =!= "unchanged")
        .orderBy(col("doc_id"))
    }, Some("""
      WITH old AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 11 = 5 THEN text || ' [rev1]'
                        ELSE text END) AS old_h,
               TRUE AS in_old
        FROM documents WHERE doc_id % 11 <> 3),
      nw AS (SELECT doc_id, md5(text) AS new_h, TRUE AS in_new
             FROM documents WHERE doc_id % 11 <> 7),
      d AS (SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
                   -- presence via explicit flags and a null-safe hash
                   -- compare, mirroring the engine: a NULL-text row
                   -- (md5 NULL) present in both snapshots is
                   -- 'unchanged', not misread as added/removed
                   CASE WHEN in_old IS NULL THEN 'added'
                        WHEN in_new IS NULL THEN 'removed'
                        WHEN old_h IS DISTINCT FROM new_h THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM old FULL JOIN nw ON old.doc_id = nw.doc_id)
      SELECT doc_id, status FROM d WHERE status <> 'unchanged'
      ORDER BY doc_id""")),

    Entry("curate_apply_changelog", (s, dir) => {
      // CDC/MERGE apply (CurationPipeline.applyChangelog): fold an
      // ordered upsert/delete changelog into the documents snapshot —
      // highest seq per key wins. The fixture exercises every path:
      // plain upsert (≡3 mod 13), plain delete (≡2), a LATER delete
      // overriding an upsert (≡3 ∧ odd), a resurrection upsert after a
      // delete (≡2 ∧ ≡0 mod 3), and brand-new keys (+900000 for ≡5).
      // One changelog key-window + one co-partitioned full-outer join.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val nullS = lit(null).cast("string")
      val chg = docs.filter(col("doc_id") % 13 === 3)
          .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
            concat(col("text"), lit(" [v2]")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 13 === 2)
          .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
            nullS.as("text")))
        .unionByName(docs
          .filter(col("doc_id") % 13 === 3 && col("doc_id") % 2 === 1)
          .select(col("doc_id"), lit(2L).as("seq"), lit("delete").as("op"),
            nullS.as("text")))
        .unionByName(docs
          .filter(col("doc_id") % 13 === 2 && col("doc_id") % 3 === 0)
          .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
            lit("resurrected").as("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 5)
          .select((col("doc_id") + 900000L).as("doc_id"),
            lit(1L).as("seq"), lit("upsert").as("op"),
            lit("inserted doc").as("text")))
      graft.pipeline.CurationPipeline.applyChangelog(docs, chg)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH chg AS (
        SELECT doc_id, 1 AS seq, 'upsert' AS op, text || ' [v2]' AS text
        FROM documents WHERE doc_id % 13 = 3
        UNION ALL
        SELECT doc_id, 1, 'delete', NULL FROM documents
        WHERE doc_id % 13 = 2
        UNION ALL
        SELECT doc_id, 2, 'delete', NULL FROM documents
        WHERE doc_id % 13 = 3 AND doc_id % 2 = 1
        UNION ALL
        SELECT doc_id, 2, 'upsert', 'resurrected' FROM documents
        WHERE doc_id % 13 = 2 AND doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 900000, 1, 'upsert', 'inserted doc'
        FROM documents WHERE doc_id % 13 = 5),
      latest AS (SELECT doc_id, op, text FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY seq DESC, op DESC) AS rn FROM chg)
        WHERE rn = 1),
      m AS (SELECT coalesce(b.doc_id, l.doc_id) AS doc_id, l.op,
              CASE WHEN l.op = 'upsert' THEN l.text ELSE b.text END AS t
            FROM (SELECT doc_id, text FROM documents) b
            FULL JOIN latest l ON b.doc_id = l.doc_id)
      SELECT doc_id, md5(t) AS h FROM m
      WHERE op IS NULL OR op <> 'delete'
      ORDER BY doc_id""")),

    Entry("curate_cardinality_sketch", (s, dir) => {
      // corpus cardinality report: distinct-content count per source.
      // The production plan is the HLL sketch (approx_count_distinct:
      // fixed ~KB buffer per group, map-side combinable) — exact
      // countDistinct expands a (source, hash) dedup shuffle that
      // buffers every distinct value. Sketch estimates are
      // engine-specific, so the hashable surface is a bounded-error
      // VERDICT next to the oracle-checked exact count (the
      // q16_percentiles_approx pattern): the estimate must land within
      // 5×rsd (= 10%) of exact; DuckDB states TRUE. At 100 TB only the
      // sketch half survives — Bench times it alone
      // (graft.hll.sketchOnly), Verify runs the adjudication form.
      val docs = docsWithDups(s, dir)
        .select(col("source"), md5(col("text")).as("h"))
      if (s.conf.getOption("graft.hll.sketchOnly").contains("true"))
        docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            approx_count_distinct(col("h"), 0.02).as("distinct_est"))
          .orderBy(col("source"))
      else docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("distinct_exact"),
          approx_count_distinct(col("h"), 0.02).as("est"))
        .select(col("source"), col("n_docs"), col("distinct_exact"),
          (abs(col("est") - col("distinct_exact")) <=
            col("distinct_exact") * lit(0.1)).as("est_in_band"))
        .orderBy(col("source"))
    }, Some(s"""
      WITH $dwdSql
      SELECT source, count(*) AS n_docs,
             count(DISTINCT md5(text)) AS distinct_exact,
             TRUE AS est_in_band
      FROM dwd GROUP BY source ORDER BY source""")),

    Entry("curate_split", (s, dir) => {
      // deterministic train/val/test split: every doc in exactly one
      // named band of md5('v1:'||id) — disjoint, exhaustive, stable
      // under corpus growth, zero shuffle (pure per-row map; the orderBy
      // is only the driver-compare convention). Thresholds are the
      // stratifiedSample hex encoding: 0.8 → cccccccc…, 0.9 → e6666666….
      graft.pipeline.CurationPipeline.hashSplit(
          T(s, dir, "documents"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "v1")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             CASE WHEN md5('v1:' || CAST(doc_id AS VARCHAR)) <
                       'cccccccc000000000000000000000000' THEN 'train'
                  WHEN md5('v1:' || CAST(doc_id AS VARCHAR)) <
                       'e6666666000000000000000000000000' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""")),

    Entry("curate_split_leakage_safe", (s, dir) => {
      // LEAKAGE-SAFE train/val/test split: the well-known eval hazard
      // is a near-duplicate pair straddling train and test (Lee et al.
      // 2022 §6 measure it inflating benchmark scores) — a per-doc hash
      // split cannot prevent it. Here the split KEY is the near-dup
      // CLUSTER label (minhash LSH pairs → connected components; min
      // member id), so every member of a cluster lands in the same
      // band by construction; singletons key on themselves, keeping
      // the curate_split distribution. Same md5 band encoding as
      // curate_split ('v1:' seed, 0.8/0.1/0.1).
      val docs = docsWithDups(s, dir).select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.pipeline.CurationPipeline.leakageSafeSplit(docs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "v1")
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE $minhashCandSql,
      $compChainSql,
      lab AS (SELECT d.doc_id,
                     coalesce(c.comp, d.doc_id) AS split_key
              FROM dwd d LEFT JOIN comp c ON c.id = d.doc_id)
      SELECT doc_id, split_key,
             CASE WHEN md5('v1:' || CAST(split_key AS VARCHAR)) <
                       'cccccccc000000000000000000000000' THEN 'train'
                  WHEN md5('v1:' || CAST(split_key AS VARCHAR)) <
                       'e6666666000000000000000000000000' THEN 'val'
                  ELSE 'test' END AS split
      FROM lab ORDER BY doc_id""")),

    Entry("curate_split_leakage_safe_capped", (s, dir) => {
      // the CAPPED leakage-safe split — the 100 TB-facing entry point
      // runs with the hot-bucket guard threaded all the way through
      // (CurationPipeline.leakageSafeSplit → minhashLshPairs
      // maxBucketSize): band buckets > 3 docs drop before pair
      // expansion, members of a dropped boilerplate family split
      // independently (the documented recall tradeoff, replayed by the
      // oracle's capped cand relation).
      val docs = docsWithDups(s, dir).select(col("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.pipeline.CurationPipeline.leakageSafeSplit(docs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = "v1",
          maxBucketSize = 3)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH RECURSIVE ${minhashCandCappedSql(3)},
      $compChainSql,
      lab AS (SELECT d.doc_id,
                     coalesce(c.comp, d.doc_id) AS split_key
              FROM dwd d LEFT JOIN comp c ON c.id = d.doc_id)
      SELECT doc_id, split_key,
             CASE WHEN md5('v1:' || CAST(split_key AS VARCHAR)) <
                       'cccccccc000000000000000000000000' THEN 'train'
                  WHEN md5('v1:' || CAST(split_key AS VARCHAR)) <
                       'e6666666000000000000000000000000' THEN 'val'
                  ELSE 'test' END AS split
      FROM lab ORDER BY doc_id""")),

    Entry("curate_incremental", (s, dir) => {
      // incremental curation: annotate the OLD snapshot once, then
      // process only the delta of the NEW one (added/changed groups
      // recomputed, removals resurrect their surviving duplicates,
      // everything else carried forward). The fixture reuses the
      // snapshot-diff old/new shapes; the ORACLE replays the FULL
      // recompute over the new snapshot — so this row proves
      // incremental ≡ full, cross-engine, down to every verdict.
      val docs = T(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 11 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 11 === 5, concat(col("text"), lit(" [rev1]")))
            .otherwise(col("text")))
      val nw = docs.filter(col("doc_id") % 11 =!= 7)
      val oldAnn = graft.pipeline.CurationPipeline.annotate(old)
      graft.pipeline.CurationPipeline.incrementalAnnotate(old, nw, oldAnn)
        .select(col("doc_id"), col("verdict"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH nwfix AS (SELECT doc_id, text FROM documents
                     WHERE doc_id % 11 <> 7),
      ${verdictChainSql("nwfix")}
      SELECT doc_id, verdict FROM v ORDER BY doc_id""")),

    Entry("curate_quality_lr", (s, dir) => {
      // learned quality gate: hashed-feature logistic regression
      // trained IN the engine (3 full-batch GD steps from w=0, 256
      // DSIR buckets, tf values, target = lang='en'), then per-doc
      // sigmoid quality under the trained weights. Each step moves
      // exactly 256 doubles across the driver (the Lloyd transfer
      // shape); the oracle replays all 3 steps mechanically in SQL.
      val (_, scored) = graft.pipeline.CurationPipeline.qualityLrTrain(
        T(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", steps = 3)
      scored.select(col("doc_id"), round(col("quality"), 6).as("quality"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH w AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                        unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS wd
                 FROM documents),
      fb AS (SELECT doc_id, y, b, cnt / sum(cnt) OVER (PARTITION BY doc_id) AS x
             FROM (SELECT doc_id, y, substring(md5(wd), 1, 2) AS b,
                          CAST(count(*) AS DOUBLE) AS cnt
                   FROM w GROUP BY doc_id, y, substring(md5(wd), 1, 2))),
      nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM fb),
      g1 AS (SELECT b, sum((0.5 - y) * x) / any_value(nd.n) AS g
             FROM fb CROSS JOIN nd GROUP BY b),
      w1 AS (SELECT b, -g AS wt FROM g1),
      ${lrStepSql(2)}
      ${lrStepSql(3)}
      zf AS (SELECT fb.doc_id, sum(fb.x * w3.wt) AS z
             FROM fb JOIN w3 USING (b) GROUP BY fb.doc_id),
      q AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) AS quality FROM zf)
      SELECT d.doc_id, round(COALESCE(q.quality, 0.5), 6) AS quality
      FROM documents d LEFT JOIN q ON q.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    Entry("curate_dsir_score", (s, dir) => {
      // DSIR importance scoring toward the lang='en' target domain:
      // hashed-unigram log-likelihood ratio per doc (256 md5-prefix
      // buckets, add-one smoothing). Two 256-row aggregates + one
      // broadcast log-ratio join + a doc-keyed sum; the oracle replays
      // the identical estimate in SQL. round(6) for float parity, the
      // repo convention.
      graft.pipeline.CurationPipeline.dsirScores(T(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en")
        .select(col("doc_id"), col("n_feats"),
          round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH w AS (SELECT doc_id, lang = 'en' AS tgt,
                        unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS wd
                 FROM documents),
      wb AS (SELECT doc_id, tgt, substring(md5(wd), 1, 2) AS b FROM w),
      c AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t,
                   count(*) AS r
            FROM wb GROUP BY b),
      tot AS (SELECT sum(t) AS tt, sum(r) AS rr FROM c),
      lr AS (SELECT b, ln((t + 1.0) / (tt + 256)) - ln((r + 1.0) / (rr + 256)) AS lr
             FROM c CROSS JOIN tot),
      sc AS (SELECT doc_id, count(*) AS n_feats, sum(lr) AS score
             FROM wb JOIN lr USING (b) GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(sc.n_feats, 0) AS BIGINT) AS n_feats,
             round(COALESCE(sc.score, 0), 6) AS score
      FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    Entry("curate_shuffle_shard", (s, dir) => {
      // seeded global shuffle + fixed-64-row output shards: the oracle
      // states the semantics as ONE global row_number window over
      // md5('42:'||id); the engine computes it in the two-phase
      // bucket-rollup shape (single-partition window only over the
      // ≤16⁴-row bucket rollup, corpus side hash-partitioned by the
      // key prefix) — see CurationPipeline.seededShuffleShard.
      graft.pipeline.CurationPipeline.seededShuffleShard(
          T(s, dir, "documents"), shardSize = 64, seed = "42")
        .orderBy(col("doc_id"))
    }, Some("""
      WITH k AS (SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS skey
                 FROM documents),
      r AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY skey, doc_id) - 1
                     AS BIGINT) AS pos
            FROM k)
      SELECT doc_id, pos, pos // 64 AS shard FROM r ORDER BY doc_id""")),

    Entry("curate_profile", (s, dir) => {
      // single-pass column profile of the orders drop — nulls,
      // distincts, min/max per column from ONE aggregate (exact
      // multi-distinct = the oracle/audit form; approx_count_distinct
      // is the 100 TB default). Portability prep: money as DECIMAL
      // pennies, timestamps as epoch seconds — long/string stringify
      // identically across engines, raw double/timestamp strings
      // do not.
      val o = T(s, dir, "orders")
      val prepared = o.select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        Queries.tsSec(o, "o_orderdate").as("date_sec"),
        col("o_orderstatus"), col("o_orderpriority"))
      graft.pipeline.CurationPipeline.profileColumns(prepared,
          Seq("o_orderkey", "o_custkey", "price_cents", "date_sec",
            "o_orderstatus", "o_orderpriority"))
        .orderBy(col("column"))
    }, Some("""
      WITH p AS (SELECT o_orderkey, o_custkey,
                        CAST(round(o_totalprice * 100) AS BIGINT)
                          AS price_cents,
                        CAST(floor(date_part('epoch', o_orderdate))
                          AS BIGINT) AS date_sec,
                        o_orderstatus, o_orderpriority
                 FROM orders),
      u AS (
        SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
               CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_val,
               CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM p
        UNION ALL
        SELECT 'o_custkey', count(*),
               CAST(count(*) - count(o_custkey) AS BIGINT),
               CAST(count(DISTINCT o_custkey) AS BIGINT),
               CAST(min(o_custkey) AS VARCHAR),
               CAST(max(o_custkey) AS VARCHAR) FROM p
        UNION ALL
        SELECT 'price_cents', count(*),
               CAST(count(*) - count(price_cents) AS BIGINT),
               CAST(count(DISTINCT price_cents) AS BIGINT),
               CAST(min(price_cents) AS VARCHAR),
               CAST(max(price_cents) AS VARCHAR) FROM p
        UNION ALL
        SELECT 'date_sec', count(*),
               CAST(count(*) - count(date_sec) AS BIGINT),
               CAST(count(DISTINCT date_sec) AS BIGINT),
               CAST(min(date_sec) AS VARCHAR),
               CAST(max(date_sec) AS VARCHAR) FROM p
        UNION ALL
        SELECT 'o_orderstatus', count(*),
               CAST(count(*) - count(o_orderstatus) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               min(o_orderstatus), max(o_orderstatus) FROM p
        UNION ALL
        SELECT 'o_orderpriority', count(*),
               CAST(count(*) - count(o_orderpriority) AS BIGINT),
               CAST(count(DISTINCT o_orderpriority) AS BIGINT),
               min(o_orderpriority), max(o_orderpriority) FROM p)
      SELECT * FROM u ORDER BY "column" """)),

    Entry("curate_shard_manifest", (s, dir) => {
      // reproducibility audit: per-shard doc count, token total and
      // position-ordered content digest over the seeded-shuffle shards
      // — equal manifests ⇒ byte-equal training input. Groups bounded
      // by shardSize (64), so the digest concat is bounded too.
      graft.pipeline.CurationPipeline.shardManifest(
          T(s, dir, "documents"), shardSize = 64, seed = "42")
        .orderBy(col("shard"))
    }, Some("""
      WITH k AS (SELECT doc_id, text,
                        md5('42:' || CAST(doc_id AS VARCHAR)) AS skey
                 FROM documents),
      r AS (SELECT doc_id, text,
                   CAST(row_number() OVER (ORDER BY skey, doc_id) - 1
                     AS BIGINT) AS pos
            FROM k)
      SELECT pos // 64 AS shard, count(*) AS n_docs,
             CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+')))
               AS BIGINT) AS total_tokens,
             md5(string_agg(md5(text), '' ORDER BY pos)) AS content_md5
      FROM r GROUP BY pos // 64 ORDER BY shard""")),

    Entry("curate_jsonl_roundtrip", (s, dir) => {
      // JSONL export/import — the training-data interchange format: docs
      // serialized one JSON object per line (to_json over a struct),
      // written GZIP-COMPRESSED (how 100 TB corpora actually ship; the
      // codec is part of the round-trip under test), read back with an
      // explicit schema. The oracle is the identity query: any escaping,
      // type-fidelity, or codec loss hash-mismatches.
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val out = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      docs.select(to_json(struct(docs.columns.map(col).toSeq: _*)).as("value"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("compression", "gzip").text(out)
      val files = new java.io.File(out).listFiles()
      require(files.exists(_.getName.endsWith(".txt.gz")),
        s"expected gzip part files in $out")
      s.read.schema(docs.schema).json(out).orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, source, text FROM documents ORDER BY doc_id""")),

    Entry("avro_ocf_roundtrip", (s, dir) => {
      // Avro Object Container Files — the at-rest half of the Avro
      // surface (wire half: rag_avro_roundtrip): one deflate-compressed
      // container per partition out, one decode task per file back.
      // Identity oracle: schema mapping, union nullability, and the
      // deflate codec all sit inside the hash.
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val out = java.nio.file.Files.createTempDirectory("graft-ocf").toString
      graft.io.AvroFiles.write(docs, out, "document")
      graft.io.AvroFiles.read(s, out, docs.schema, "document")
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, lang, source, text FROM documents ORDER BY doc_id""")),

    Entry("curate_report", (s, dir) => {
      // the corpus-level audit a curation run publishes: per-verdict doc
      // counts, token mass, mean quality — one map-side-combinable
      // rollup over the annotated rows (5 output rows regardless of
      // corpus size; the shuffle carries only partial aggregates).
      graft.pipeline.CurationPipeline.annotate(docsWithDups(s, dir))
        .groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("total_tokens"),
          round(avg(TextAnalysis.qualityScore(col("text"))), 4)
            .as("mean_quality"))
        .orderBy(col("verdict"))
    }, Some(s"""
      $curationVerdictSql
      SELECT verdict, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             round(avg(quality), 4) AS mean_quality
      FROM v GROUP BY verdict ORDER BY verdict"""), bench = false)
  )

  /** Shared oracle CTE chain replaying [[SimilaritySearch.sliceNormalize]]
    * over the maxsim query/corpus split (8 tokens × 8 dims): ends with
    * an `nm(vec_id, t, nsub)` relation of unit-normalized token slices.
    * Spliced by BOTH MaxSim oracles so the normalization contract stays
    * one text (the dwdSql/compChainSql convention). */
  private lazy val maxsimSliceNormSql: String = """
      ts AS (SELECT unnest(generate_series(0, 7)) AS t),
      sl AS (SELECT vec_id, t, embedding[t*8+1 : t*8+8] AS sub
             FROM embeddings CROSS JOIN ts
             WHERE vec_id < 8 OR vec_id >= 32),
      nr AS (SELECT vec_id, t, sub,
                    sqrt(list_sum(list_transform(sub, x ->
                      CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
             FROM sl),
      nm AS (SELECT vec_id, t,
                    CASE WHEN n = 0 THEN sub
                         ELSE list_transform(sub, x ->
                           CAST(CAST(x AS DOUBLE) / n AS REAL)) END AS nsub
             FROM nr)"""

  val similarity: Seq[Entry] = Seq(

    Entry("ann_topk_bruteforce", (s, dir) => {
      // exact top-5 over a disjoint corpus — the ANN baseline/oracle.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      VectorOps.bruteForceTopK(queries, corpus, 5, "qid", "qvec", "nid", "nvec")
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 20 AND c.vec_id >= 20),
      ranked AS (SELECT qid, nid,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY sim DESC, nid ASC) AS rank
                 FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_lsh_bucketed", (s, dir) => {
      // sign-random-projection LSH: 8 data-derived hyperplanes (vec_id<8)
      // → bit signature; candidates = same bucket; exact re-rank inside.
      // One equi-join on the signature instead of a cross join.
      val emb = T(s, dir, "embeddings")
      val planes = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("nid"), col("embedding"))
      SimilaritySearch.lshTopK(queries, corpus, planes, 3,
          "qid", "embedding", "nid", "embedding")
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH planes AS (SELECT vec_id AS pid, embedding AS pvec FROM embeddings
                      WHERE vec_id < 8),
      sigs AS (
        SELECT v.vec_id, v.embedding,
               string_agg(CASE WHEN list_dot_product(v.embedding::DOUBLE[],
                                     p.pvec::DOUBLE[]) > 0
                               THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS sig
        FROM embeddings v CROSS JOIN planes p GROUP BY v.vec_id, v.embedding),
      cand AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM sigs q JOIN sigs c ON q.sig = c.sig
        WHERE q.vec_id < 20 AND c.vec_id >= 20),
      ranked AS (SELECT qid, nid,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY sim DESC, nid ASC) AS rank
                 FROM cand)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank""")),

    Entry("ann_lsh_multitable", (s, dir) => {
      // banded multi-table SRP-LSH (2 tables × 4 bits): candidates from
      // ANY colliding table, dedup, ONE exact re-rank — the recall
      // amplifier (1-(1-p^b)^L) production stores run; AnnRecallSpec
      // quantifies the recall win over one long signature.
      val emb = T(s, dir, "embeddings")
      val planes = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("nid"), col("embedding"))
      SimilaritySearch.lshTopKMultiTable(queries, corpus, planes,
          bitsPerTable = 4, k = 3, "qid", "embedding", "nid", "embedding")
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH planes AS (SELECT vec_id AS pid, embedding AS pvec FROM embeddings
                      WHERE vec_id < 8),
      sigs AS (
        SELECT v.vec_id, v.embedding,
               CAST(p.pid // 4 AS VARCHAR) || ':' ||
                 string_agg(CASE WHEN list_dot_product(v.embedding::DOUBLE[],
                                       p.pvec::DOUBLE[]) > 0
                                 THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS sig
        FROM embeddings v CROSS JOIN planes p
        GROUP BY v.vec_id, v.embedding, p.pid // 4),
      cand AS (
        SELECT DISTINCT q.vec_id AS qid, q.embedding AS qe,
                        c.vec_id AS nid, c.embedding AS ne
        FROM sigs q JOIN sigs c ON q.sig = c.sig
        WHERE q.vec_id < 20 AND c.vec_id >= 20),
      ranked AS (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                 ORDER BY list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]) DESC,
                          nid ASC) AS rank
        FROM cand)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank""")),

    Entry("ann_ivf_topk", (s, dir) => {
      // full IVF search: corpus bucketed by nearest centroid, queries
      // probe their 2 nearest clusters, exact cosine top-3 within.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding"))
      SimilaritySearch.ivfTopK(queries, corpus, centroids, k = 3, nProbe = 2)
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      scored AS (SELECT v.vec_id, v.embedding, c.cid,
                        list_cosine_similarity(v.embedding::DOUBLE[],
                          c.cvec::DOUBLE[]) AS sim,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                            c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
                 FROM embeddings v CROSS JOIN cents c),
      corpus AS (SELECT vec_id AS nid, embedding AS nvec, cid AS cluster
                 FROM scored WHERE r = 1 AND vec_id >= 20),
      probes AS (SELECT vec_id AS qid, embedding AS qvec, cid AS cluster
                 FROM scored WHERE r <= 2 AND vec_id < 20),
      cand AS (SELECT q.qid, c.nid,
                      list_cosine_similarity(q.qvec::DOUBLE[],
                        c.nvec::DOUBLE[]) AS sim
               FROM probes q JOIN corpus c ON q.cluster = c.cluster),
      ranked AS (SELECT qid, nid,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY sim DESC, nid ASC) AS rank
                 FROM cand)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank""")),

    Entry("ann_recall_report", (s, dir) => {
      // retrieval evaluation as a query: recall@3 of the IVF(nProbe=2)
      // path vs exact brute force, per query — the in-engine grading
      // loop an ANN deployment tunes nProbe against. Queries the ANN
      // path dropped still appear at recall 0 (exact-side left join).
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val queries = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val approx = SimilaritySearch.ivfTopK(
        queries.select(col("vec_id"), col("embedding")),
        corpus.select(col("vec_id"), col("embedding")),
        centroids, k = 3, nProbe = 2)
      val exact = VectorOps.bruteForceTopK(
        queries.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        corpus.select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        3, "qid", "qvec", "nid", "nvec")
      SimilaritySearch.recallAtK(exact, approx, k = 3)
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      scored AS (SELECT v.vec_id, v.embedding, c.cid,
                        list_cosine_similarity(v.embedding::DOUBLE[],
                          c.cvec::DOUBLE[]) AS sim,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                            c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
                 FROM embeddings v CROSS JOIN cents c),
      corpus AS (SELECT vec_id AS nid, embedding AS nvec, cid AS cluster
                 FROM scored WHERE r = 1 AND vec_id >= 20),
      probes AS (SELECT vec_id AS qid, embedding AS qvec, cid AS cluster
                 FROM scored WHERE r <= 2 AND vec_id < 20),
      cand AS (SELECT q.qid, c.nid,
                      list_cosine_similarity(q.qvec::DOUBLE[],
                        c.nvec::DOUBLE[]) AS sim
               FROM probes q JOIN corpus c ON q.cluster = c.cluster),
      ivf AS (SELECT qid, nid FROM (
                SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY sim DESC, nid ASC) AS rank
                FROM cand) WHERE rank <= 3),
      ex0 AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                     list_cosine_similarity(q.embedding::DOUBLE[],
                       c.embedding::DOUBLE[]) AS sim
              FROM embeddings q CROSS JOIN embeddings c
              WHERE q.vec_id < 20 AND c.vec_id >= 20),
      exact AS (SELECT qid, nid FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, nid ASC) AS rank
                  FROM ex0) WHERE rank <= 3),
      hits AS (SELECT e.qid, count(*) AS h
               FROM exact e JOIN ivf i ON e.qid = i.qid AND e.nid = i.nid
               GROUP BY e.qid)
      SELECT q.qid, CAST(coalesce(h, 0) AS INT) AS hits,
             CAST(coalesce(h, 0) AS DOUBLE) / CAST(3 AS DOUBLE) AS recall
      FROM (SELECT DISTINCT qid FROM exact) q
      LEFT JOIN hits ON q.qid = hits.qid
      ORDER BY q.qid""")),

    Entry("ann_radius", (s, dir) => {
      // threshold (radius) search: ALL neighbors with cosine ≥ τ — the
      // all-near-duplicates retrieval form. Broadcast corpus, queries
      // never shuffle, no window (nothing is ranked); similarity rounded
      // to 6 before the threshold so keep/drop is engine-portable.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      VectorOps.radiusSearch(queries, corpus, 0.25, "qid", "qvec", "nid", "nvec")
        .orderBy(col("qid"), col("nid"))
    }, Some("""
      WITH sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                 c.embedding::DOUBLE[]), 6) AS sim
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 20 AND c.vec_id >= 20)
      SELECT qid, nid, sim FROM sims
      WHERE sim >= 0.25 ORDER BY qid, nid""")),

    Entry("ann_hard_negatives", (s, dir) => {
      // contrastive-training mining: per query the top-5 most-similar
      // OTHER-label vectors (the near-miss negatives a triplet loss
      // needs). Label inequality fused into the broadcast join, exact
      // ranking, deterministic tie-break — the verification form any
      // ANN-candidate miner is recall-checked against.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val corpus = emb.select(col("vec_id").as("nid"),
        col("embedding").as("nvec"), col("label").as("nlabel"))
      SimilaritySearch.hardNegativesTopK(queries, corpus, 5,
          "qid", "qvec", "qlabel", "nid", "nvec", "nlabel")
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(q.embedding::DOUBLE[],
                 c.embedding::DOUBLE[]) AS sim
        FROM embeddings q JOIN embeddings c ON q.label <> c.label
        WHERE q.vec_id < 8),
      ranked AS (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, nid ASC) AS rank
        FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_mmr_topk", (s, dir) => {
      // MMR-diversified retrieval (Carbonell & Goldstein '98): cosine
      // top-8 candidates per query, then a greedy λ=0.7 re-rank that
      // penalizes similarity to already-picked results — the
      // redundancy-suppressing re-rank RAG serving runs so one document's
      // near-identical chunks don't fill all k prompt slots. Oracle =
      // the k greedy steps unrolled as chained CTEs (argmax per step,
      // ties to the smaller nid), bit-matching the operator's
      // double-precision scores.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      SimilaritySearch.mmrTopK(queries, corpus, k = 3, lambda = 0.7,
          candN = 8, "vec_id", "embedding", "vec_id", "embedding")
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH cand0 AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid, c.embedding AS ne,
               list_cosine_similarity(q.embedding::DOUBLE[],
                 c.embedding::DOUBLE[]) AS rel,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                            c.embedding::DOUBLE[]) DESC,
                          c.vec_id ASC) AS rn
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 20 AND c.vec_id >= 20),
      cand AS (SELECT qid, nid, ne, rel FROM cand0 WHERE rn <= 8),
      pair AS (
        SELECT a.qid, a.nid AS an, b.nid AS bn,
               list_cosine_similarity(a.ne::DOUBLE[], b.ne::DOUBLE[]) AS s
        FROM cand a JOIN cand b ON a.qid = b.qid),
      p1 AS (SELECT qid, nid FROM cand
             QUALIFY row_number() OVER (PARTITION BY qid
               ORDER BY rel DESC, nid ASC) = 1),
      s2 AS (SELECT c.qid, c.nid, 0.7*c.rel - (1-0.7)*p.s AS score
             FROM cand c
             JOIN p1 ON p1.qid = c.qid AND c.nid <> p1.nid
             JOIN pair p ON p.qid = c.qid AND p.an = c.nid AND p.bn = p1.nid),
      p2 AS (SELECT qid, nid FROM s2
             QUALIFY row_number() OVER (PARTITION BY qid
               ORDER BY score DESC, nid ASC) = 1),
      s3 AS (SELECT c.qid, c.nid,
                    0.7*c.rel - (1-0.7)*greatest(pa.s, pb.s) AS score
             FROM cand c
             JOIN p1 ON p1.qid = c.qid
             JOIN p2 ON p2.qid = c.qid
             JOIN pair pa ON pa.qid = c.qid AND pa.an = c.nid
                         AND pa.bn = p1.nid
             JOIN pair pb ON pb.qid = c.qid AND pb.an = c.nid
                         AND pb.bn = p2.nid
             WHERE c.nid <> p1.nid AND c.nid <> p2.nid),
      p3 AS (SELECT qid, nid FROM s3
             QUALIFY row_number() OVER (PARTITION BY qid
               ORDER BY score DESC, nid ASC) = 1)
      SELECT qid, nid, CAST(1 AS INT) AS rank FROM p1
      UNION ALL SELECT qid, nid, CAST(2 AS INT) FROM p2
      UNION ALL SELECT qid, nid, CAST(3 AS INT) FROM p3
      ORDER BY qid, rank""")),

    Entry("ann_quantized_topk", (s, dir) => {
      // exact top-3 over the int8-QUANTIZED corpus (quantize → dequant →
      // codegen'd cosine): the 4×-compressed storage path; quantization
      // error vs the float32 ranks is pinned in VectorSearchSpec.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("nid"),
          VectorOps.dequantInt8(VectorOps.quantizeInt8(col("embedding")))
            .as("nvec"))
      VectorOps.bruteForceTopK(queries, corpus, 3, "qid", "qvec", "nid", "nvec")
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH c AS (
        SELECT vec_id AS nid, embedding,
               greatest(list_aggregate(list_transform(embedding::DOUBLE[],
                 x -> abs(x)), 'max'), 1e-12) / 127.0 AS sc
        FROM embeddings WHERE vec_id >= 20),
      deq AS (
        SELECT nid,
               list_transform(embedding::DOUBLE[],
                 x -> CAST(CAST(CAST(round(x / sc) AS TINYINT) AS DOUBLE) * sc
                      AS REAL)) AS nvec
        FROM c),
      sims AS (
        SELECT q.vec_id AS qid, d.nid,
               list_cosine_similarity(q.embedding::DOUBLE[],
                 d.nvec::DOUBLE[]) AS sim
        FROM embeddings q CROSS JOIN deq d WHERE q.vec_id < 8),
      ranked AS (SELECT qid, nid,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY sim DESC, nid ASC) AS rank
                 FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank""")),

    Entry("ann_ivf_train", (s, dir) => {
      // one Lloyd iteration (the IVF training step): assign to nearest of
      // 4 seed centroids, recompute element-wise means — emitted flat
      // (cluster, dim, mu, n_members) for engine-portable comparison.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      SimilaritySearch.ivfTrainStep(emb, centroids)
        .withColumn("mu", round(col("mu"), 6)) // oracle-portability round
        .orderBy(col("cluster"), col("dim"))
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      sims AS (SELECT v.vec_id, v.embedding, c.cid,
                      list_cosine_similarity(v.embedding::DOUBLE[],
                        c.cvec::DOUBLE[]) AS sim
               FROM embeddings v CROSS JOIN cents c),
      ranked AS (SELECT vec_id, embedding, cid,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, cid DESC) AS r
                 FROM sims),
      assigned AS (SELECT vec_id, embedding, cid AS cluster
                   FROM ranked WHERE r = 1),
      counts AS (SELECT cluster, count(*) AS n_members
                 FROM assigned GROUP BY cluster),
      d AS (SELECT cluster, embedding,
                   unnest(generate_series(1, len(embedding))) AS s
            FROM assigned),
      m AS (SELECT cluster, s - 1 AS dim,
                   round(avg(CAST(embedding[s] AS DOUBLE)), 6) AS mu
            FROM d GROUP BY cluster, s)
      SELECT CAST(m.cluster AS INT) AS cluster, CAST(m.dim AS INT) AS dim,
             m.mu, c.n_members
      FROM m JOIN counts c ON c.cluster = m.cluster
      ORDER BY cluster, dim""")),

    Entry("ann_pq_adc", (s, dir) => {
      // product quantization + asymmetric-distance search: 16 subspaces
      // x 32 centroids (codebooks = sub-vectors of a deterministic
      // corpus sample, the ivf_sampled seeding recipe; recall@5 = 0.42
      // vs exact L2 on this weakly-clustered corpus, floor-tested in
      // AnnRecallSpec), corpus encoded to 16 small ints, queries scan
      // codes with per-subspace lookup tables — the 10^11-vector scan
      // shape. Exact-SQL oracle: encode and ADC are deterministic given
      // the codebooks.
      val emb = T(s, dir, "embeddings")
      val cbRows = emb.filter(col("vec_id") < 32).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 32 x 64 floats
      val codebooks = (0 until 16).map(j => cbRows.map(_.slice(j * 4, j * 4 + 4)))
      SimilaritySearch.pqAdcTopK(
          emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 32),
          codebooks, k = 5)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH js AS (SELECT unnest(generate_series(0, 15)) AS j),
      cb AS (SELECT j, vec_id AS c,
                    embedding[j*4+1 : j*4+4] AS cvec
             FROM embeddings CROSS JOIN js WHERE vec_id < 32),
      csub AS (SELECT vec_id AS nid, j, embedding[j*4+1 : j*4+4] AS sub
               FROM embeddings CROSS JOIN js WHERE vec_id >= 32),
      cdist AS (SELECT nid, csub.j, cb.c,
                       list_sum(list_transform(generate_series(1, 4), i ->
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                         AS d
                FROM csub JOIN cb ON cb.j = csub.j),
      codes AS (SELECT nid, j, c FROM (
                  SELECT nid, j, c, row_number() OVER (PARTITION BY nid, j
                    ORDER BY d ASC, c ASC) AS r FROM cdist)
                WHERE r = 1),
      qd AS (SELECT q.vec_id AS qid, cb.j, cb.c,
                    list_sum(list_transform(generate_series(1, 4), i ->
                      (CAST(q.embedding[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)) *
                      (CAST(q.embedding[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)))) AS d
             FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 5),
      score AS (SELECT qd.qid, codes.nid, round(sum(qd.d), 6) AS s
                FROM codes JOIN qd ON qd.j = codes.j AND qd.c = codes.c
                GROUP BY qd.qid, codes.nid),
      ranked AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY s ASC, nid ASC) AS rank
                 FROM score)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_pq_train", (s, dir) => {
      // one per-subspace Lloyd step (PQ codebook training): sub-vectors
      // assign by squared L2 within their subspace (4 subspaces x 4
      // seed centroids), cells recompute element-wise means — the
      // ann_ivf_train convention, per subspace and in the encode
      // metric. pqTrain iterates this with dead-cell keep.
      val emb = T(s, dir, "embeddings")
      val cbRows = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 4 x 64 floats
      val codebooks = (0 until 4).map(j => cbRows.map(_.slice(j * 16, j * 16 + 16)))
      SimilaritySearch.pqTrainStep(emb, codebooks)
        .withColumn("mu", round(col("mu"), 6)) // oracle-portability round
        .orderBy(col("j"), col("cluster"), col("dim"))
    }, Some("""
      WITH js AS (SELECT unnest(generate_series(0, 3)) AS j),
      cb AS (SELECT j, vec_id AS c, embedding[j*16+1 : j*16+16] AS cvec
             FROM embeddings CROSS JOIN js WHERE vec_id < 4),
      sub AS (SELECT vec_id, j, embedding[j*16+1 : j*16+16] AS sub
              FROM embeddings CROSS JOIN js),
      d AS (SELECT vec_id, sub.j, cb.c,
                   list_sum(list_transform(generate_series(1, 16), i ->
                     (CAST(sub.sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                     (CAST(sub.sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                     AS d
            FROM sub JOIN cb ON cb.j = sub.j),
      a AS (SELECT vec_id, j, c AS cluster FROM (
              SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j
                ORDER BY d ASC, c ASC) AS r FROM d) WHERE r = 1),
      e AS (SELECT a.j, a.cluster, sub.sub FROM a
            JOIN sub ON sub.vec_id = a.vec_id AND sub.j = a.j),
      g AS (SELECT j, cluster, sub, unnest(generate_series(1, 16)) AS s
            FROM e),
      mres AS (SELECT j, cluster, s - 1 AS dim,
                      round(avg(CAST(sub[s] AS DOUBLE)), 6) AS mu,
                      count(*) AS n_members
               FROM g GROUP BY j, cluster, s)
      SELECT CAST(j AS INT) AS j, CAST(cluster AS INT) AS cluster,
             CAST(dim AS INT) AS dim, mu, n_members
      FROM mres ORDER BY j, cluster, dim""")),

    Entry("ann_adaptive_topk", (s, dir) => {
      // the planner seam as a checked query: adaptiveTopK reads
      // Catalyst's own size estimate of the corpus plan (the broadcast-
      // join statistic) and picks exact broadcast brute force under the
      // budget, SRP-LSH above it. The test corpus sits under the default
      // 64 MB budget, so the oracle is EXACT brute-force top-5 — and the
      // chooser degrading to the LSH path (different recall) would
      // hash-mismatch, pinning both the decision and the result.
      // AnnRecallSpec covers the over-budget branch.
      val emb = T(s, dir, "embeddings")
      val planes = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding"))
      SimilaritySearch.adaptiveTopK(queries, corpus, k = 5, planes)
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 20 AND c.vec_id >= 20),
      ranked AS (SELECT qid, nid,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY sim DESC, nid ASC) AS rank
                 FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""), bench = false),

    Entry("ann_ivf_sampled", (s, dir) => {
      // SURVEY's documented 100 TB training recipe, end-to-end: Lloyd
      // never scans the full corpus — it trains on a deterministic
      // sample (vec_id % 3 = 0 here; ≤10⁸ vectors at scale), then the
      // trained centroids assign and search the FULL corpus. One
      // distributed ivfTrainStep (sample-sized shuffle), k×dim floats
      // through the driver, then the standard ivfTopK plan: equi-join
      // on cluster id, per-query window top-k, probe fan-out on the
      // query side only. roundAt=6 pins the trained means for the
      // engine-portable oracle (distributed avg is ULP-deterministic
      // only); production training keeps full precision. Recall vs
      // brute force is floored in AnnRecallSpec.
      val emb = T(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val sample = emb.filter(col("vec_id") >= 20 && col("vec_id") % 3 === 0)
      val trained = SimilaritySearch.ivfTrain(sample, seeds, iters = 1,
        roundAt = 6)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding"))
      SimilaritySearch.ivfTopK(queries, corpus, trained, k = 3, nProbe = 2)
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH seeds AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      samp AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id >= 20 AND vec_id % 3 = 0),
      s1 AS (SELECT v.vec_id, v.embedding, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                        c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
             FROM samp v CROSS JOIN seeds c),
      asg AS (SELECT vec_id, embedding, cid AS cluster FROM s1 WHERE r = 1),
      d AS (SELECT cluster, embedding,
                   unnest(generate_series(1, len(embedding))) AS s
            FROM asg),
      m AS (SELECT cluster, s,
                   CAST(round(avg(CAST(embedding[s] AS DOUBLE)), 6) AS REAL) AS mu
            FROM d GROUP BY cluster, s),
      tr AS (SELECT cluster, list(mu ORDER BY s) AS tvec FROM m GROUP BY cluster),
      cents AS (SELECT sd.cid, coalesce(t.tvec, sd.cvec) AS cvec
                FROM seeds sd LEFT JOIN tr t ON t.cluster = sd.cid),
      s2 AS (SELECT v.vec_id, v.embedding, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                        c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
             FROM embeddings v CROSS JOIN cents c),
      corpus AS (SELECT vec_id AS nid, embedding AS nvec, cid AS cluster
                 FROM s2 WHERE r = 1 AND vec_id >= 20),
      probes AS (SELECT vec_id AS qid, embedding AS qvec, cid AS cluster
                 FROM s2 WHERE r <= 2 AND vec_id < 20),
      cand AS (SELECT q.qid, c.nid,
                      list_cosine_similarity(q.qvec::DOUBLE[],
                        c.nvec::DOUBLE[]) AS sim
               FROM probes q JOIN corpus c ON q.cluster = c.cluster),
      ranked AS (SELECT qid, nid,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY sim DESC, nid ASC) AS rank
                 FROM cand)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank""")),

    Entry("ann_ivf_assign", (s, dir) => {
      // IVF coarse quantization: nearest of 4 data-derived centroids →
      // cluster column for partition pruning at search time.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      SimilaritySearch.ivfAssign(emb, centroids, "embedding")
        .select(col("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      sims AS (SELECT v.vec_id, c.cid,
                      list_cosine_similarity(v.embedding::DOUBLE[],
                        c.cvec::DOUBLE[]) AS sim
               FROM embeddings v CROSS JOIN cents c),
      ranked AS (SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, cid DESC) AS r
                 FROM sims)
      SELECT vec_id, CAST(cid AS INT) AS cluster FROM ranked WHERE r = 1
      ORDER BY vec_id"""), bench = false),

    Entry("ann_ivf_imbalance", (s, dir) => {
      // IVF cell-balance health report: per-cluster population, corpus
      // fraction, and balance factor (n·cells/total; 1.0 = perfectly
      // even). THE maintenance metric for a partitioned vector index —
      // a hot cell is a hot partition: probe latency, file skew and
      // upsert pressure all concentrate there, and a drifting balance
      // factor is the signal to re-train centroids. One shuffle (the
      // cluster count); the only window is single-partition over the
      // ≤ #cells-row rollup — the bounded-rollup convention.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val rep = SimilaritySearch.ivfAssign(emb, centroids, "embedding")
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      rep.withColumn("total", sum(col("n_vecs")).over(w))
        .select(col("cluster").cast("int").as("cluster"), col("n_vecs"),
          (col("n_vecs").cast("double") / col("total").cast("double"))
            .as("frac"),
          ((col("n_vecs") * lit(4)).cast("double") /
            col("total").cast("double")).as("balance"))
        .orderBy(col("cluster"))
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      sims AS (SELECT v.vec_id, c.cid,
                      list_cosine_similarity(v.embedding::DOUBLE[],
                        c.cvec::DOUBLE[]) AS sim
               FROM embeddings v CROSS JOIN cents c),
      ranked AS (SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, cid DESC) AS r
                 FROM sims),
      assigned AS (SELECT vec_id, cid FROM ranked WHERE r = 1),
      rep AS (SELECT cid, count(*) AS n FROM assigned GROUP BY cid)
      SELECT CAST(cid AS INT) AS cluster, CAST(n AS BIGINT) AS n_vecs,
             CAST(n AS DOUBLE) /
               CAST((SELECT count(*) FROM assigned) AS DOUBLE) AS frac,
             CAST(n * 4 AS DOUBLE) /
               CAST((SELECT count(*) FROM assigned) AS DOUBLE) AS balance
      FROM rep ORDER BY cluster""")),

    Entry("ann_opq_adc", (s, dir) => {
      // OPQ-lite ADC (Ge et al. CVPR'13 parametric solution): PCA +
      // eigenvalue-balanced allocation rotation trained in one
      // moment-partials pass, then the UNCHANGED PQ sample-codebook
      // encode/ADC recipe (the ann_pq_adc convention) over the ROTATED
      // space — raw sample codebooks, engine-replayable in SQL, which
      // is what makes the full-path oracle below possible (OpqSpec pins
      // the rotation's recall A/B separately, on Lloyd-refined
      // codebooks). FULL SQL oracle: the trained rotation is
      // EXPORTED as a parquet sidecar (the PID-scoped
      // oracleSidecarRoot, written only under
      // Verify — see Verify.main's graft.oracle.sidecars gate) and the
      // DuckDB oracle replays rotate → encode → ADC from it, so the
      // whole rotation-applied search path is hash-checked; only the
      // Jacobi eigensolver itself stays ScalaTest-pinned (OpqSpec —
      // eigendecomposition has no DuckDB form). Rotation arithmetic is
      // engine-portable by construction: double products accumulated in
      // index order on both sides, result cast to float.
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.filter(col("vec_id") >= 32)
        .select(col("vec_id"), col("embedding"))
      val r = SimilaritySearch.opqTrainRotation(corpus, "embedding", m = 16)
      if (sys.props.get("graft.oracle.sidecars").contains("1")) {
        import s.implicits._
        // column c of R as (c, w[64]): rotated[c] = Σ_i w[i]·vec[i]
        r.head.indices.map(c => (c, r.indices.map(i => r(i)(c))))
          .toDF("c", "w")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$oracleSidecarRoot/opq_rotation")
      }
      def rot(df: org.apache.spark.sql.DataFrame) =
        SimilaritySearch.rotateVectors(df, "embedding", r, "rvec")
          .select(col("vec_id"), col("rvec").as("embedding"))
      // rc feeds two actions (codebook collect, ADC encode): persist so
      // the rotation UDF runs once per row (Verify clears the cache per
      // query; the repo's persist idiom)
      val (rq, rc) = (rot(queries), rot(corpus).persist())
      val cbRows = rc.filter(col("vec_id") < 64).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 32 × 64 floats
      val books = (0 until 16).map(j => cbRows.map(_.slice(j * 4, j * 4 + 4)))
      SimilaritySearch.pqAdcTopK(rq, rc, books, 5)
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some(s"""
      WITH rot AS (SELECT c, w FROM
             read_parquet('$oracleSidecarRoot/opq_rotation/*.parquet')),
      base AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < 20 OR vec_id >= 32),
      rveci AS (SELECT b.vec_id, r.c,
                       CAST(list_sum(list_transform(
                         generate_series(1, len(b.embedding)),
                         i -> r.w[i] * CAST(b.embedding[i] AS DOUBLE)))
                         AS REAL) AS x
                FROM base b CROSS JOIN rot r),
      rvec AS (SELECT vec_id, list(x ORDER BY c) AS embedding
               FROM rveci GROUP BY vec_id),
      js AS (SELECT unnest(generate_series(0, 15)) AS j),
      cb AS (SELECT j, vec_id AS c, embedding[j*4+1 : j*4+4] AS cvec
             FROM rvec CROSS JOIN js WHERE vec_id >= 32 AND vec_id < 64),
      csub AS (SELECT vec_id AS nid, j, embedding[j*4+1 : j*4+4] AS sub
               FROM rvec CROSS JOIN js WHERE vec_id >= 32),
      cdist AS (SELECT nid, csub.j, cb.c,
                       list_sum(list_transform(generate_series(1, 4), i ->
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                         AS d
                FROM csub JOIN cb ON cb.j = csub.j),
      codes AS (SELECT nid, j, c FROM (
                  SELECT nid, j, c, row_number() OVER (PARTITION BY nid, j
                    ORDER BY d ASC, c ASC) AS r FROM cdist)
                WHERE r = 1),
      qd AS (SELECT q.vec_id AS qid, cb.j, cb.c,
                    list_sum(list_transform(generate_series(1, 4), i ->
                      (CAST(q.embedding[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)) *
                      (CAST(q.embedding[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)))) AS d
             FROM rvec q CROSS JOIN cb WHERE q.vec_id < 20),
      score AS (SELECT qd.qid, codes.nid, round(sum(qd.d), 6) AS s
                FROM codes JOIN qd ON qd.j = codes.j AND qd.c = codes.c
                GROUP BY qd.qid, codes.nid),
      ranked AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY s ASC, nid ASC) AS rank
                 FROM score)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_ivfpq_adc", (s, dir) => {
      // IVFADC (Jégou TPAMI'11 §IV): IVF probe pruning composed with
      // residual-PQ compressed scan — the canonical 10¹¹-vector index
      // shape. 4 coarse centroids (first rows, the ivf convention);
      // PQ codebooks = RESIDUALS of a deterministic corpus sample vs
      // their assigned centroid (16 subspaces × 32 entries), derived
      // engine-side via ivfResiduals so the oracle reproduces them with
      // the identical assign+subtract recipe in SQL. Queries probe their
      // 2 nearest cells, build per-cell LUTs from their own residual,
      // and only probed cells' members are scored (one equi-join on
      // cluster — see the PlanSpec pin). Exact-SQL oracle: assignment,
      // residuals, encode and ADC are all deterministic given the data.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 4 × 64 floats
      val cbRows = SimilaritySearch.ivfResiduals(
          emb.filter(col("vec_id") >= 4 && col("vec_id") < 36), centroids)
        .orderBy(col("vec_id")).select(col("rvec")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 32 × 64 floats
      val codebooks = (0 until 16).map(j => cbRows.map(_.slice(j * 4, j * 4 + 4)))
      SimilaritySearch.ivfPqAdcTopK(
          emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 36),
          centroids, codebooks, k = 5, nProbe = 2)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      scored AS (SELECT v.vec_id, v.embedding, c.cid,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                            c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
                 FROM embeddings v CROSS JOIN cents c),
      resid AS (SELECT s.vec_id, s.cid AS cluster,
                       list_transform(generate_series(1, len(s.embedding)),
                         i -> CAST(CAST(s.embedding[i] AS DOUBLE) -
                              CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rvec
                FROM scored s JOIN cents c ON c.cid = s.cid WHERE s.r = 1),
      js AS (SELECT unnest(generate_series(0, 15)) AS j),
      cb AS (SELECT j, vec_id - 4 AS c, rvec[j*4+1 : j*4+4] AS cvec
             FROM resid CROSS JOIN js WHERE vec_id >= 4 AND vec_id < 36),
      csub AS (SELECT vec_id AS nid, cluster, j, rvec[j*4+1 : j*4+4] AS sub
               FROM resid CROSS JOIN js WHERE vec_id >= 36),
      cdist AS (SELECT nid, cluster, csub.j, cb.c,
                       list_sum(list_transform(generate_series(1, 4), i ->
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                         AS d
                FROM csub JOIN cb ON cb.j = csub.j),
      codes AS (SELECT nid, cluster, j, c FROM (
                  SELECT nid, cluster, j, c, row_number() OVER (
                    PARTITION BY nid, j ORDER BY d ASC, c ASC) AS r
                  FROM cdist) WHERE r = 1),
      probes AS (SELECT s.vec_id AS qid, s.embedding AS qvec,
                        s.cid AS cluster
                 FROM scored s WHERE s.r <= 2 AND s.vec_id < 5),
      qres AS (SELECT p.qid, p.cluster,
                      list_transform(generate_series(1, len(p.qvec)), i ->
                        CAST(CAST(p.qvec[i] AS DOUBLE) -
                             CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rq
               FROM probes p JOIN cents c ON c.cid = p.cluster),
      qd AS (SELECT qid, qres.cluster, cb.j, cb.c,
                    list_sum(list_transform(generate_series(1, 4), i ->
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)) *
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)))) AS d
             FROM qres CROSS JOIN cb),
      score AS (SELECT qd.qid, codes.nid, round(sum(qd.d), 6) AS s
                FROM codes JOIN qd ON qd.cluster = codes.cluster
                  AND qd.j = codes.j AND qd.c = codes.c
                GROUP BY qd.qid, codes.nid),
      ranked AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY s ASC, nid ASC) AS rank
                 FROM score)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_ivfpq_index", (s, dir) => {
      // the PERSISTED index path: build (cluster-partitioned parquet
      // codes + sidecar artifacts), then search through the stored
      // index — probe pruning runs as the optimizer's dynamic
      // partition pruning on the codes scan (IvfPqIndexSpec pins the
      // partitions read and in-memory parity). Same recipe as ann_ivfpq_adc, so the oracle is
      // identical: a divergence between the stored and in-memory paths
      // hash-mismatches here.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val cbRows = SimilaritySearch.ivfResiduals(
          emb.filter(col("vec_id") >= 4 && col("vec_id") < 36), centroids)
        .orderBy(col("vec_id")).select(col("rvec")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val codebooks = (0 until 16).map(j => cbRows.map(_.slice(j * 4, j * 4 + 4)))
      // per-(pid, dir) scratch root, deleted at JVM exit (TempRoots);
      // built ONCE per process — bench repetitions then time the
      // production regime (pruned search against a standing index),
      // not a rebuild per rep
      val path = graft.core.TempRoots.buildOnce(
        s"ivfpq-${dir.replaceAll("[^0-9a-zA-Z]", "")}") { p =>
        SimilaritySearch.writeIvfPqIndex(
          emb.filter(col("vec_id") >= 36), centroids, codebooks, p)
      }
      SimilaritySearch.searchIvfPqIndex(s, path,
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      scored AS (SELECT v.vec_id, v.embedding, c.cid,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                            c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
                 FROM embeddings v CROSS JOIN cents c),
      resid AS (SELECT s.vec_id, s.cid AS cluster,
                       list_transform(generate_series(1, len(s.embedding)),
                         i -> CAST(CAST(s.embedding[i] AS DOUBLE) -
                              CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rvec
                FROM scored s JOIN cents c ON c.cid = s.cid WHERE s.r = 1),
      js AS (SELECT unnest(generate_series(0, 15)) AS j),
      cb AS (SELECT j, vec_id - 4 AS c, rvec[j*4+1 : j*4+4] AS cvec
             FROM resid CROSS JOIN js WHERE vec_id >= 4 AND vec_id < 36),
      csub AS (SELECT vec_id AS nid, cluster, j, rvec[j*4+1 : j*4+4] AS sub
               FROM resid CROSS JOIN js WHERE vec_id >= 36),
      cdist AS (SELECT nid, cluster, csub.j, cb.c,
                       list_sum(list_transform(generate_series(1, 4), i ->
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                         AS d
                FROM csub JOIN cb ON cb.j = csub.j),
      codes AS (SELECT nid, cluster, j, c FROM (
                  SELECT nid, cluster, j, c, row_number() OVER (
                    PARTITION BY nid, j ORDER BY d ASC, c ASC) AS r
                  FROM cdist) WHERE r = 1),
      probes AS (SELECT s.vec_id AS qid, s.embedding AS qvec,
                        s.cid AS cluster
                 FROM scored s WHERE s.r <= 2 AND s.vec_id < 5),
      qres AS (SELECT p.qid, p.cluster,
                      list_transform(generate_series(1, len(p.qvec)), i ->
                        CAST(CAST(p.qvec[i] AS DOUBLE) -
                             CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rq
               FROM probes p JOIN cents c ON c.cid = p.cluster),
      qd AS (SELECT qid, qres.cluster, cb.j, cb.c,
                    list_sum(list_transform(generate_series(1, 4), i ->
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)) *
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)))) AS d
             FROM qres CROSS JOIN cb),
      score AS (SELECT qd.qid, codes.nid, round(sum(qd.d), 6) AS s
                FROM codes JOIN qd ON qd.cluster = codes.cluster
                  AND qd.j = codes.j AND qd.c = codes.c
                GROUP BY qd.qid, codes.nid),
      ranked AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY s ASC, nid ASC) AS rank
                 FROM score)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_index_sync", (s, dir) => {
      // the reference's OUTER LOOP end to end as one oracle-checked
      // row (the continuously-running sink connector upserting
      // embedded docs into Atlas while the coach queries the index,
      // main.tf:594-635): mutations flow through the CDC snapshot
      // store (snapshotUpsertSink), the IndexSync pump drains the
      // store's changelog cursor-committed into a persisted IVF-Flat
      // index as VERSIONED upserts/deletes (one pull per published
      // snapshot — bootstrap then incremental), and the search serves
      // the post-mutation live state in the exact regime. DuckDB
      // replays the mutations as set algebra over the same table — a
      // drift anywhere in the chain (store publish, bucket-pruned
      // changelog, pump, versioned tombstone mask, pruned search)
      // hash-mismatches. The corpus is the pre-embedded embeddings
      // table, so embed = identity; the MlPredict-embedding
      // composition is pinned in IndexSyncSpec/StreamingSpec.
      val emb = T(s, dir, "embeddings")
      val root = graft.core.TempRoots.buildOnce(
        s"idxsync-${dir.replaceAll("[^0-9a-zA-Z]", "")}") { p =>
        import s.implicits._
        implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
        // fixture collect, bounded: ≤364 vectors of 64 floats feed the
        // MemoryStream batches (the store's INPUT — a test stand-in
        // for the Kafka topic, not an operator collect)
        val vecs: Map[Long, Seq[Float]] = emb
          .filter(col("vec_id") < 360 ||
            (col("vec_id") >= 440 && col("vec_id") < 444))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
        val cents = (440L until 444L).map(vecs).toSeq
        // empty index SHELL — rows arrive only through the pump
        SimilaritySearch.writeIvfFlatIndex(
          emb.filter(lit(false))
            .select(col("vec_id").cast("string").as("nid"),
              col("embedding")),
          cents, s"$p/index", cId = "nid", cVec = "embedding")
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, String, Seq[Float])]
        val sink = graft.streaming.StreamingOps.snapshotUpsertSink(
            input.toDF.toDF("doc_id", "seq", "op", "embedding"),
            s"$p/snap", payloadCols = Seq("embedding"),
            keepVersions = 3, numBuckets = 4)
          .option("checkpointLocation", s"$p/ckpt").start()
        try {
          def pump(): Option[Long] =
            graft.streaming.IndexSync.syncIndexFromSnapshot(
              s, s"$p/snap", s"$p/cursor", s"$p/index",
              graft.streaming.IndexSync.identityEmbed)
          // snapshot 0: the base corpus → bootstrap pull
          input.addData((0L until 300L).map(i =>
            (i, 1L, "upsert", vecs(i))): _*)
          sink.processAllAvailable()
          require(pump().contains(0L), "ann_index_sync: bootstrap pull")
          // snapshot 1: update 0..19 to the vectors of 300..319, delete
          // 100..119, insert 320..359 → incremental pull
          val nul = null.asInstanceOf[Seq[Float]]
          input.addData(
            (0L until 20L).map(i => (i, 2L, "upsert", vecs(i + 300))) ++
            (100L until 120L).map(i => (i, 2L, "delete", nul)) ++
            (320L until 360L).map(i => (i, 2L, "upsert", vecs(i))): _*)
          sink.processAllAvailable()
          require(pump().contains(1L), "ann_index_sync: incremental pull")
        } finally sink.stop()
      }
      SimilaritySearch.searchIvfFlatIndex(s, s"$root/index",
          emb.filter(col("vec_id") >= 480 && col("vec_id") < 488),
          k = 3, numCandidates = Int.MaxValue,
          qId = "vec_id", qVec = "embedding")
        .select(col("qid").cast("long").as("qid"),
          col("nid").cast("long").as("nid"),
          col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH live AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id >= 20 AND vec_id < 300
          AND NOT (vec_id >= 100 AND vec_id < 120)
        UNION ALL
        SELECT e.vec_id, n.embedding FROM embeddings e
        JOIN embeddings n ON n.vec_id = e.vec_id + 300
        WHERE e.vec_id < 20
        UNION ALL
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id >= 320 AND vec_id < 360),
      sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               list_cosine_similarity(q.embedding::DOUBLE[],
                 c.embedding::DOUBLE[]) AS sim
        FROM embeddings q CROSS JOIN live c
        WHERE q.vec_id >= 480 AND q.vec_id < 488),
      ranked AS (
        -- tie-break on CAST(nid AS VARCHAR): the Spark side ranks
        -- inside searchIvfFlatIndex where nid is the index's STRING
        -- key ('40' < '5'); ordering the replay by the same string
        -- form makes exact-similarity ties hash-match by construction
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, CAST(nid AS VARCHAR) ASC) AS rank
        FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank""")),

    Entry("ann_ivfpq_rerank", (s, dir) => {
      // IVFADC + exact refine ("IVFADC+R"): the same index recipe as
      // ann_ivfpq_adc, but the ADC stage emits a 10-deep shortlist that
      // is re-ranked by exact L2 against the raw vectors — the refine
      // step of a production serving path (compressed scan bounds the
      // candidates, exact distances fix the final order). The oracle is
      // the adc oracle plus the two-join refine.
      val emb = T(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 4 × 64 floats
      val cbRows = SimilaritySearch.ivfResiduals(
          emb.filter(col("vec_id") >= 4 && col("vec_id") < 36), centroids)
        .orderBy(col("vec_id")).select(col("rvec")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 32 × 64 floats
      val codebooks = (0 until 16).map(j => cbRows.map(_.slice(j * 4, j * 4 + 4)))
      SimilaritySearch.ivfPqRerankTopK(
          emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 36),
          centroids, codebooks, k = 5, shortlist = 10, nProbe = 2)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      scored AS (SELECT v.vec_id, v.embedding, c.cid,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                            c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
                 FROM embeddings v CROSS JOIN cents c),
      resid AS (SELECT s.vec_id, s.cid AS cluster,
                       list_transform(generate_series(1, len(s.embedding)),
                         i -> CAST(CAST(s.embedding[i] AS DOUBLE) -
                              CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rvec
                FROM scored s JOIN cents c ON c.cid = s.cid WHERE s.r = 1),
      js AS (SELECT unnest(generate_series(0, 15)) AS j),
      cb AS (SELECT j, vec_id - 4 AS c, rvec[j*4+1 : j*4+4] AS cvec
             FROM resid CROSS JOIN js WHERE vec_id >= 4 AND vec_id < 36),
      csub AS (SELECT vec_id AS nid, cluster, j, rvec[j*4+1 : j*4+4] AS sub
               FROM resid CROSS JOIN js WHERE vec_id >= 36),
      cdist AS (SELECT nid, cluster, csub.j, cb.c,
                       list_sum(list_transform(generate_series(1, 4), i ->
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                         AS d
                FROM csub JOIN cb ON cb.j = csub.j),
      codes AS (SELECT nid, cluster, j, c FROM (
                  SELECT nid, cluster, j, c, row_number() OVER (
                    PARTITION BY nid, j ORDER BY d ASC, c ASC) AS r
                  FROM cdist) WHERE r = 1),
      probes AS (SELECT s.vec_id AS qid, s.embedding AS qvec,
                        s.cid AS cluster
                 FROM scored s WHERE s.r <= 2 AND s.vec_id < 5),
      qres AS (SELECT p.qid, p.cluster,
                      list_transform(generate_series(1, len(p.qvec)), i ->
                        CAST(CAST(p.qvec[i] AS DOUBLE) -
                             CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rq
               FROM probes p JOIN cents c ON c.cid = p.cluster),
      qd AS (SELECT qid, qres.cluster, cb.j, cb.c,
                    list_sum(list_transform(generate_series(1, 4), i ->
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)) *
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)))) AS d
             FROM qres CROSS JOIN cb),
      score AS (SELECT qd.qid, codes.nid, round(sum(qd.d), 6) AS s
                FROM codes JOIN qd ON qd.cluster = codes.cluster
                  AND qd.j = codes.j AND qd.c = codes.c
                GROUP BY qd.qid, codes.nid),
      shortl AS (SELECT qid, nid FROM (
                   SELECT qid, nid, row_number() OVER (PARTITION BY qid
                     ORDER BY s ASC, nid ASC) AS rank
                   FROM score) WHERE rank <= 10),
      ex AS (SELECT sl.qid, sl.nid,
                    round(list_sum(list_transform(
                      generate_series(1, len(q.embedding)), i ->
                        (CAST(q.embedding[i] AS DOUBLE) -
                          CAST(c.embedding[i] AS DOUBLE)) *
                        (CAST(q.embedding[i] AS DOUBLE) -
                          CAST(c.embedding[i] AS DOUBLE)))), 6) AS d
             FROM shortl sl
             JOIN embeddings q ON q.vec_id = sl.qid
             JOIN embeddings c ON c.vec_id = sl.nid),
      rr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
               ORDER BY d ASC, nid ASC) AS rank
             FROM ex)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM rr
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_ivfpq_train", (s, dir) => {
      // end-to-end TRAINED IVFADC — the composition of the
      // ann_ivf_sampled and ann_pq_train recipes: Lloyd-train coarse
      // centroids on a 1-in-3 deterministic sample (never the full
      // corpus), residualize, train per-subspace codebooks on the
      // SAMPLE's residuals (one step, dead-cell keep, roundAt=6 pins
      // the means for the engine-portable oracle), then IVFADC search
      // with the trained artifacts. Only k×dim + m×ksub×dsub floats
      // cross the driver between stages; every distributed stage is the
      // already-pinned plan of its standalone operator.
      val emb = T(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 4 × 64 floats
      val sample = emb.filter(col("vec_id") >= 36 && col("vec_id") % 3 === 0)
      val cents = SimilaritySearch.ivfTrain(sample, seeds, iters = 1,
        roundAt = 6)
      val initRows = SimilaritySearch.ivfResiduals(
          emb.filter(col("vec_id") >= 4 && col("vec_id") < 12), cents)
        .orderBy(col("vec_id")).select(col("rvec")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 8 × 64 floats
      val init = (0 until 16).map(j => initRows.map(_.slice(j * 4, j * 4 + 4)))
      val books = SimilaritySearch.pqTrain(
        SimilaritySearch.ivfResiduals(sample, cents), init, iters = 1,
        vecCol = "rvec", roundAt = 6)
      SimilaritySearch.ivfPqAdcTopK(
          emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 36),
          cents, books, k = 5, nProbe = 2)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH seeds AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                     WHERE vec_id < 4),
      samp AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id >= 36 AND vec_id % 3 = 0),
      s1 AS (SELECT v.vec_id, v.embedding, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                        c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
             FROM samp v CROSS JOIN seeds c),
      asg AS (SELECT vec_id, embedding, cid AS cluster FROM s1 WHERE r = 1),
      d0 AS (SELECT cluster, embedding,
                    unnest(generate_series(1, len(embedding))) AS s
             FROM asg),
      m0 AS (SELECT cluster, s,
                    CAST(round(avg(CAST(embedding[s] AS DOUBLE)), 6) AS REAL)
                      AS mu
             FROM d0 GROUP BY cluster, s),
      tr AS (SELECT cluster, list(mu ORDER BY s) AS tvec FROM m0
             GROUP BY cluster),
      cents AS (SELECT sd.cid, coalesce(t.tvec, sd.cvec) AS cvec
                FROM seeds sd LEFT JOIN tr t ON t.cluster = sd.cid),
      s2 AS (SELECT v.vec_id, v.embedding, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                        c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
             FROM embeddings v CROSS JOIN cents c),
      resid AS (SELECT s2.vec_id, s2.cid AS cluster,
                       list_transform(generate_series(1, len(s2.embedding)),
                         i -> CAST(CAST(s2.embedding[i] AS DOUBLE) -
                              CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rvec
                FROM s2 JOIN cents c ON c.cid = s2.cid WHERE s2.r = 1),
      js AS (SELECT unnest(generate_series(0, 15)) AS j),
      ib AS (SELECT j, vec_id - 4 AS c, rvec[j*4+1 : j*4+4] AS cvec
             FROM resid CROSS JOIN js WHERE vec_id >= 4 AND vec_id < 12),
      ssub AS (SELECT r.vec_id, j, r.rvec[j*4+1 : j*4+4] AS sub
               FROM resid r CROSS JOIN js
               WHERE r.vec_id >= 36 AND r.vec_id % 3 = 0),
      sd2 AS (SELECT vec_id, ssub.j, ib.c,
                     list_sum(list_transform(generate_series(1, 4), i ->
                       (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                       (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                       AS d
              FROM ssub JOIN ib ON ib.j = ssub.j),
      sa AS (SELECT vec_id, j, c AS cell FROM (
               SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j
                 ORDER BY d ASC, c ASC) AS r FROM sd2) WHERE r = 1),
      se AS (SELECT sa.j, sa.cell, ssub.sub FROM sa
             JOIN ssub ON ssub.vec_id = sa.vec_id AND ssub.j = sa.j),
      sg AS (SELECT j, cell, sub, unnest(generate_series(1, 4)) AS s FROM se),
      sm AS (SELECT j, cell, s,
                    CAST(round(avg(CAST(sub[s] AS DOUBLE)), 6) AS REAL) AS mu
             FROM sg GROUP BY j, cell, s),
      tb AS (SELECT j, cell, list(mu ORDER BY s) AS tvec FROM sm
             GROUP BY j, cell),
      cb AS (SELECT ib.j, ib.c, coalesce(t.tvec, ib.cvec) AS cvec
             FROM ib LEFT JOIN tb t ON t.j = ib.j AND t.cell = ib.c),
      csub AS (SELECT vec_id AS nid, cluster, j, rvec[j*4+1 : j*4+4] AS sub
               FROM resid CROSS JOIN js WHERE vec_id >= 36),
      cdist AS (SELECT nid, cluster, csub.j, cb.c,
                       list_sum(list_transform(generate_series(1, 4), i ->
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                         AS d
                FROM csub JOIN cb ON cb.j = csub.j),
      codes AS (SELECT nid, cluster, j, c FROM (
                  SELECT nid, cluster, j, c, row_number() OVER (
                    PARTITION BY nid, j ORDER BY d ASC, c ASC) AS r
                  FROM cdist) WHERE r = 1),
      probes AS (SELECT s2.vec_id AS qid, s2.embedding AS qvec,
                        s2.cid AS cluster
                 FROM s2 WHERE s2.r <= 2 AND s2.vec_id < 5),
      qres AS (SELECT p.qid, p.cluster,
                      list_transform(generate_series(1, len(p.qvec)), i ->
                        CAST(CAST(p.qvec[i] AS DOUBLE) -
                             CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rq
               FROM probes p JOIN cents c ON c.cid = p.cluster),
      qd AS (SELECT qid, qres.cluster, cb.j, cb.c,
                    list_sum(list_transform(generate_series(1, 4), i ->
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)) *
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)))) AS d
             FROM qres CROSS JOIN cb),
      score AS (SELECT qd.qid, codes.nid, round(sum(qd.d), 6) AS s
                FROM codes JOIN qd ON qd.cluster = codes.cluster
                  AND qd.j = codes.j AND qd.c = codes.c
                GROUP BY qd.qid, codes.nid),
      ranked AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY s ASC, nid ASC) AS rank
                 FROM score)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_bm25_topk", (s, dir) => {
      // Okapi BM25 top-5 (Lucene-default idf form) — the SPARSE half of
      // a hybrid RAG stack as an inverted-index equi-join: postings
      // groupBy, vocabulary-keyed idf join, query-term match on `term`,
      // (qid, nid) partial-agg sum, per-query window. No pairwise doc
      // scan anywhere. k1/b arithmetic written identically in the
      // oracle ((1.2 + 1.0), (1.0 - 0.75)) so the doubles are
      // IEEE-identical; score rounded to 6 (sum-order convention).
      val docs = T(s, dir, "documents")
      graft.operators.Lexical.bm25TopK(
          docs.filter(col("doc_id") < 8), docs.filter(col("doc_id") >= 20),
          k = 5)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH corp AS (SELECT doc_id AS nid, text FROM documents
                    WHERE doc_id >= 20),
      qs AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id < 8),
      post AS (SELECT nid, t AS term, count(*) AS tf FROM (
                 SELECT nid, unnest(regexp_extract_all(lower(text),
                   '[a-z0-9]+')) AS t FROM corp)
               GROUP BY nid, t),
      dls AS (SELECT nid, sum(tf) AS dl FROM post GROUP BY nid),
      stats AS (SELECT count(*) AS n_docs,
                       avg(coalesce(dl, 0)) AS avgdl
                FROM corp LEFT JOIN dls USING (nid)),
      idf AS (SELECT term,
                     ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf,
                     avgdl
              FROM (SELECT term, count(DISTINCT nid) AS df FROM post
                    GROUP BY term)
              CROSS JOIN stats),
      qt AS (SELECT DISTINCT qid, t AS term FROM (
               SELECT qid, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9]+')) AS t FROM qs)),
      contrib AS (SELECT qt.qid, post.nid,
                         idf.idf * (post.tf * (1.2 + 1.0)) /
                           (post.tf + 1.2 * ((1.0 - 0.75) +
                             0.75 * CAST(dls.dl AS DOUBLE) / idf.avgdl))
                           AS c
                  FROM post JOIN qt USING (term) JOIN idf USING (term)
                  JOIN dls USING (nid)),
      sc AS (SELECT qid, nid, round(sum(c), 6) AS score
             FROM contrib GROUP BY qid, nid),
      ranked AS (SELECT qid, nid, score, row_number() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
                 FROM sc)
      SELECT qid, nid, CAST(rank AS INT) AS rank, score FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_hybrid_rrf", (s, dir) => {
      // hybrid dense+sparse retrieval fused by reciprocal-rank fusion
      // (Cormack SIGIR'09, the production-default fusion): cosine
      // top-10 over embeddings ∪ BM25 top-10 over documents, fused by
      // Σ 1/(60 + rank) (rank-based — no score calibration), top-5 per
      // query. The two rankers legitimately see different corpora
      // (vector store vs text store); fusion is a full-outer join of
      // two ≤10-row-per-query frames + one window — query-count cost.
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val dense = VectorOps.bruteForceTopK(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        emb.filter(col("vec_id") >= 20)
          .select(col("vec_id").as("nid"), col("embedding").as("nvec")),
        10, "qid", "qvec", "nid", "nvec")
      val sparse = graft.operators.Lexical.bm25TopK(
        docs.filter(col("doc_id") < 8), docs.filter(col("doc_id") >= 20),
        k = 10)
      graft.operators.Lexical.rrfFuseTopK(dense, sparse, k = 5)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH dsim AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                           list_cosine_similarity(q.embedding::DOUBLE[],
                             c.embedding::DOUBLE[]) AS sim
                    FROM embeddings q CROSS JOIN embeddings c
                    WHERE q.vec_id < 8 AND c.vec_id >= 20),
      dense AS (SELECT qid, nid, rank FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                    ORDER BY sim DESC, nid ASC) AS rank FROM dsim)
                WHERE rank <= 10),
      corp AS (SELECT doc_id AS nid, text FROM documents
               WHERE doc_id >= 20),
      qs AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id < 8),
      post AS (SELECT nid, t AS term, count(*) AS tf FROM (
                 SELECT nid, unnest(regexp_extract_all(lower(text),
                   '[a-z0-9]+')) AS t FROM corp)
               GROUP BY nid, t),
      dls AS (SELECT nid, sum(tf) AS dl FROM post GROUP BY nid),
      stats AS (SELECT count(*) AS n_docs,
                       avg(coalesce(dl, 0)) AS avgdl
                FROM corp LEFT JOIN dls USING (nid)),
      idf AS (SELECT term,
                     ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf,
                     avgdl
              FROM (SELECT term, count(DISTINCT nid) AS df FROM post
                    GROUP BY term)
              CROSS JOIN stats),
      qt AS (SELECT DISTINCT qid, t AS term FROM (
               SELECT qid, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9]+')) AS t FROM qs)),
      contrib AS (SELECT qt.qid, post.nid,
                         idf.idf * (post.tf * (1.2 + 1.0)) /
                           (post.tf + 1.2 * ((1.0 - 0.75) +
                             0.75 * CAST(dls.dl AS DOUBLE) / idf.avgdl))
                           AS c
                  FROM post JOIN qt USING (term) JOIN idf USING (term)
                  JOIN dls USING (nid)),
      sc AS (SELECT qid, nid, round(sum(c), 6) AS score
             FROM contrib GROUP BY qid, nid),
      sparse AS (SELECT qid, nid, rank FROM (
                   SELECT qid, nid, row_number() OVER (PARTITION BY qid
                     ORDER BY score DESC, nid ASC) AS rank FROM sc)
                 WHERE rank <= 10),
      fused AS (SELECT coalesce(d.qid, s.qid) AS qid,
                       coalesce(d.nid, s.nid) AS nid,
                       round(coalesce(1.0 / (60 + d.rank), 0.0) +
                             coalesce(1.0 / (60 + s.rank), 0.0), 6) AS rrf
                FROM dense d FULL OUTER JOIN sparse s
                  ON d.qid = s.qid AND d.nid = s.nid),
      ranked AS (SELECT qid, nid, rrf, row_number() OVER (
                   PARTITION BY qid ORDER BY rrf DESC, nid ASC) AS rank
                 FROM fused)
      SELECT qid, nid, CAST(rank AS INT) AS rank, rrf FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_hamming_topk", (s, dir) => {
      // two-stage binary-sign search (Charikar'02 1-bit quantization):
      // Hamming distance over sign bits prunes to 32 candidates per
      // query, exact cosine re-ranks to top-5 — the 32×-compression
      // scan shape. Integer Hamming counts, deterministic ties on both
      // stages: exact SQL oracle.
      val emb = T(s, dir, "embeddings")
      SimilaritySearch.signHammingTopK(
          emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 20),
          k = 5, candN = 32)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH h AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                        q.embedding AS qe, c.embedding AS ce,
                        list_sum(list_transform(
                          generate_series(1, len(q.embedding)), i ->
                          CASE WHEN (q.embedding[i] > 0) <>
                                    (c.embedding[i] > 0)
                               THEN 1 ELSE 0 END)) AS hamming
                 FROM embeddings q CROSS JOIN embeddings c
                 WHERE q.vec_id < 8 AND c.vec_id >= 20),
      cand AS (SELECT qid, nid, qe, ce, hamming FROM (
                 SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY hamming ASC, nid ASC) AS hrank FROM h)
               WHERE hrank <= 32),
      ranked AS (SELECT qid, nid, hamming, row_number() OVER (
                   PARTITION BY qid ORDER BY
                     list_cosine_similarity(qe::DOUBLE[], ce::DOUBLE[])
                       DESC, nid ASC) AS rank
                 FROM cand)
      SELECT qid, nid, CAST(rank AS INT) AS rank,
             CAST(hamming AS INT) AS hamming
      FROM ranked WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_jl_topk", (s, dir) => {
      // random-projection (JL) dimensionality reduction: 64 → 16 dims
      // via dot products against 16 data-derived planes (first rows,
      // the lsh-planes convention), then exact cosine top-5 in the
      // REDUCED space — the p/d-cost brute-force path; recall vs the
      // full-dimension scan is pinned in AnnRecallSpec. Projection is
      // double accumulation in index order cast to float, replayed
      // identically by the oracle.
      val emb = T(s, dir, "embeddings")
      val planes = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq // bounded: 16 × 64 floats
      def proj(df: DataFrame) =
        SimilaritySearch.projectVectors(df, "embedding", planes, "pvec")
          .select(col("vec_id"), col("pvec"))
      VectorOps.bruteForceTopK(
          proj(emb.filter(col("vec_id") < 8))
            .select(col("vec_id").as("qid"), col("pvec").as("qvec")),
          proj(emb.filter(col("vec_id") >= 20))
            .select(col("vec_id").as("nid"), col("pvec").as("nvec")),
          5, "qid", "qvec", "nid", "nvec")
        .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"))
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH planes AS (SELECT vec_id AS pid, embedding AS pvec
                      FROM embeddings WHERE vec_id < 16),
      base AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < 8 OR vec_id >= 20),
      pi AS (SELECT b.vec_id, p.pid,
                    CAST(list_sum(list_transform(
                      generate_series(1, len(b.embedding)), i ->
                      CAST(b.embedding[i] AS DOUBLE) *
                      CAST(p.pvec[i] AS DOUBLE))) AS REAL) AS x
             FROM base b CROSS JOIN planes p),
      pv AS (SELECT vec_id, list(x ORDER BY pid) AS pvec
             FROM pi GROUP BY vec_id),
      sims AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                      list_cosine_similarity(q.pvec::DOUBLE[],
                        c.pvec::DOUBLE[]) AS sim
               FROM pv q CROSS JOIN pv c
               WHERE q.vec_id < 8 AND c.vec_id >= 20),
      ranked AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY sim DESC, nid ASC) AS rank
                 FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_matryoshka_topk", (s, dir) => {
      // two-stage matryoshka search (Kusupati NeurIPS'22 MRL serving):
      // cosine over the FIRST 16 dims prunes to 32 candidates (no
      // projection arithmetic — the prefix is a slice, so stage 1 reads
      // 1/4 of the vector bytes), exact full-dim cosine re-ranks to
      // top-5. Deterministic ties both stages; exact SQL oracle.
      val emb = T(s, dir, "embeddings")
      SimilaritySearch.matryoshkaTopK(
          emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 20),
          k = 5, candN = 32, prefixDims = 16)
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH pre AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                          q.embedding AS qe, c.embedding AS ce,
                          list_cosine_similarity(
                            q.embedding[1:16]::DOUBLE[],
                            c.embedding[1:16]::DOUBLE[]) AS psim
                   FROM embeddings q CROSS JOIN embeddings c
                   WHERE q.vec_id < 8 AND c.vec_id >= 20),
      cand AS (SELECT qid, nid, qe, ce FROM (
                 SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY psim DESC, nid ASC) AS pr FROM pre)
               WHERE pr <= 32),
      ranked AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY list_cosine_similarity(qe::DOUBLE[],
                     ce::DOUBLE[]) DESC, nid ASC) AS rank
                 FROM cand)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_maxsim_topk", (s, dir) => {
      // ColBERT-style late interaction (Khattab & Zaharia SIGIR'20):
      // the 64-dim embedding as 8 token slices of 8 dims, each
      // unit-normalized once per row; relevance = Σ_t max_j dot — the
      // multi-vector retrieval op between pooled-vector ANN and a
      // cross-encoder. Pair scoring is the native codegen'd MaxSim
      // expression inside the broadcast join (no interpreted HOFs in
      // the |q|×|c| loop); score rounded to 6dp BEFORE ranking, ties
      // on nid — the engine-portable rank convention.
      val emb = T(s, dir, "embeddings")
      SimilaritySearch.maxSimTopK(
          emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 32),
          k = 5, tokens = 8, dim = 64)
        .orderBy(col("qid"), col("rank"))
    }, Some(s"""
      WITH $maxsimSliceNormSql,
      pd AS (SELECT q.vec_id AS qid, c.vec_id AS nid, q.t,
                    max(list_sum(list_transform(generate_series(1, 8), i ->
                      CAST(q.nsub[i] AS DOUBLE) * CAST(c.nsub[i] AS DOUBLE))))
                      AS m
             FROM nm q JOIN nm c ON q.vec_id < 8 AND c.vec_id >= 32
             GROUP BY q.vec_id, c.vec_id, q.t),
      sc AS (SELECT qid, nid, round(sum(m), 6) AS score
             FROM pd GROUP BY qid, nid),
      ranked AS (SELECT qid, nid, score, row_number() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
                 FROM sc)
      SELECT qid, nid, CAST(rank AS INT) AS rank, score FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("emb_safetensors_roundtrip", (s, dir) => {
      // safetensors sharding round-trip — the HF tensor-interchange
      // format an embedding corpus ships to training in: per shard one
      // F32 [n,64] matrix + I64 ids, u64-LE header length + JSON
      // header. Raw IEEE bytes, so every float must come back
      // BIT-exact: compared flat (vec_id, dim, value) against the
      // source table, no rounding anywhere.
      import graft.io.SafeTensors
      val emb = T(s, dir, "embeddings")
      SafeTensors.fromShards(SafeTensors.toShards(emb))
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("dim", "value")))
        .orderBy(col("vec_id"), col("dim"))
    }, Some("""
      SELECT vec_id, CAST(s - 1 AS INT) AS dim, embedding[s] AS value
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(s)
      ORDER BY vec_id, dim""")),

    Entry("emb_mean_pool", (s, dir) => {
      // chunk→doc embedding pooling: per-label mean of member vectors,
      // L2-renormalized, flat (parent, dim, value) — one (parent,dim)
      // aggregate + a ≤dim-rows-per-parent window; round(6) for
      // cross-engine double-sum portability (the ivf_train convention).
      val emb = T(s, dir, "embeddings")
      VectorOps.meanPoolNormalized(emb, "label", "embedding")
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("parent"), col("dim"))
    }, Some("""
      WITH d AS (SELECT label AS parent, embedding,
                        unnest(generate_series(1, len(embedding))) AS s
                 FROM embeddings),
      m AS (SELECT parent, s - 1 AS dim,
                   avg(CAST(embedding[s] AS DOUBLE)) AS mu
            FROM d GROUP BY parent, s),
      n AS (SELECT parent, sqrt(sum(mu * mu)) AS nrm FROM m GROUP BY parent)
      SELECT m.parent, CAST(m.dim AS INT) AS dim,
             round(CASE WHEN n.nrm = 0 THEN 0.0 ELSE m.mu / n.nrm END, 6)
               AS value
      FROM m JOIN n USING (parent)
      ORDER BY parent, dim""")),

    Entry("emb_pca_project", (s, dir) => {
      // PCA dimensionality reduction (operators.Pca): rank-8 model
      // trained in ONE moment-partials pass (d + d(d+1)/2 doubles per
      // partition to the driver, d×d Jacobi eigensolve driver-side),
      // every vector projected by a broadcast closure — no shuffle in
      // the projection. FULL SQL oracle via the opq_rotation sidecar
      // convention: mean + components are exported as parquet and
      // DuckDB replays y[c] = Σᵢ wᵢ·(xᵢ−μᵢ) with the identical
      // index-order double accumulation, cast REAL on both sides — so
      // the whole mean-center+project path is hash-checked; only the
      // eigensolver itself stays ScalaTest-pinned (PcaSpec).
      val emb = T(s, dir, "embeddings")
      val model = Pca.pcaTrain(emb, "embedding", r = 8)
      if (sys.props.get("graft.oracle.sidecars").contains("1")) {
        import s.implicits._
        // column c as (c, w[d]): w(i) = components(i)(c)
        (0 until model.r).map(c =>
            (c, model.components.indices.map(i => model.components(i)(c))))
          .toDF("c", "w")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$oracleSidecarRoot/pca_components")
        Seq(Tuple1(model.mean.toSeq)).toDF("m")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$oracleSidecarRoot/pca_mean")
      }
      Pca.project(emb, "embedding", model, "y")
        .select(col("vec_id"), posexplode(col("y")).as(Seq("c", "x")))
        .select(col("vec_id"), col("c").cast("int").as("c"), col("x"))
        .orderBy(col("vec_id"), col("c"))
    }, Some(s"""
      WITH comp AS (SELECT c, w FROM
             read_parquet('$oracleSidecarRoot/pca_components/*.parquet')),
      mu AS (SELECT m FROM
             read_parquet('$oracleSidecarRoot/pca_mean/*.parquet'))
      SELECT e.vec_id, CAST(comp.c AS INT) AS c,
             CAST(list_sum(list_transform(
               generate_series(1, len(e.embedding)),
               i -> comp.w[i] * (CAST(e.embedding[i] AS DOUBLE) - mu.m[i])))
               AS REAL) AS x
      FROM embeddings e CROSS JOIN comp CROSS JOIN mu
      ORDER BY vec_id, c""")),

    Entry("emb_dim_profile", (s, dir) => {
      // per-DIMENSION embedding profile (mean/std/min/max): the
      // drift-detection surface for an embedding pipeline — a provider
      // model swap or a normalization bug shows up as per-dim moment
      // shifts long before retrieval metrics move. ONE (dim)-keyed
      // aggregate over the posexploded column, map-side combinable,
      // groups bounded by d. round(6) for double-sum portability (the
      // ivf_train convention).
      val emb = T(s, dir, "embeddings")
      emb.select(posexplode(col("embedding")).as(Seq("dim", "x0")))
        .select(col("dim").cast("int").as("dim"),
          col("x0").cast("double").as("x"))
        .groupBy(col("dim"))
        .agg(round(avg(col("x")), 6).as("mu"),
          round(stddev_samp(col("x")), 6).as("sd"),
          round(min(col("x")), 6).as("mn"),
          round(max(col("x")), 6).as("mx"))
        .orderBy(col("dim"))
    }, Some("""
      WITH d AS (SELECT unnest(generate_series(1, len(embedding))) AS s,
                        embedding
                 FROM embeddings),
      v AS (SELECT s - 1 AS dim, CAST(embedding[s] AS DOUBLE) AS x FROM d)
      SELECT CAST(dim AS INT) AS dim, round(avg(x), 6) AS mu,
             round(stddev_samp(x), 6) AS sd, round(min(x), 6) AS mn,
             round(max(x), 6) AS mx
      FROM v GROUP BY dim ORDER BY dim""")),

    Entry("ann_maxsim_rerank", (s, dir) => {
      // the ColBERT SERVING shape: pooled-vector cosine prunes to 24
      // candidates, MaxSim re-ranks the shortlist only — the late-
      // interaction pair cost paid for candN rows per query, not the
      // corpus. Exact SQL oracle replays both stages.
      val emb = T(s, dir, "embeddings")
      SimilaritySearch.maxSimRerankTopK(
          emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 32),
          k = 5, candN = 24, tokens = 8, dim = 64)
        .orderBy(col("qid"), col("rank"))
    }, Some(s"""
      WITH pre AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                          list_cosine_similarity(q.embedding::DOUBLE[],
                            c.embedding::DOUBLE[]) AS psim
                   FROM embeddings q CROSS JOIN embeddings c
                   WHERE q.vec_id < 8 AND c.vec_id >= 32),
      cand AS (SELECT qid, nid FROM (
                 SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY psim DESC, nid ASC) AS pr FROM pre)
               WHERE pr <= 24),
      $maxsimSliceNormSql,
      pd AS (SELECT cand.qid, cand.nid, q.t,
                    max(list_sum(list_transform(generate_series(1, 8), i ->
                      CAST(q.nsub[i] AS DOUBLE) * CAST(c.nsub[i] AS DOUBLE))))
                      AS m
             FROM cand JOIN nm q ON q.vec_id = cand.qid
                       JOIN nm c ON c.vec_id = cand.nid
             GROUP BY cand.qid, cand.nid, q.t),
      sc AS (SELECT qid, nid, round(sum(m), 6) AS score
             FROM pd GROUP BY qid, nid),
      ranked AS (SELECT qid, nid, score, row_number() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
                 FROM sc)
      SELECT qid, nid, CAST(rank AS INT) AS rank, score FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_filtered_topk", (s, dir) => {
      // metadata-FILTERED search: each query retrieves top-5 among
      // corpus rows sharing its label — pre-filtering semantics, planned
      // as a label equi-join (never a cross join + filter), so pair
      // expansion is Σ_v |q_v|·|c_v| and filter selectivity prunes the
      // scan. FilteredSearchSpec pins the plan + pre≡post parity.
      val emb = T(s, dir, "embeddings")
      SimilaritySearch.filteredTopK(
          emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 32),
          k = 5, filterCol = "label")
        .orderBy(col("qid"), col("rank"))
    }, Some("""
      WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label
                 FROM embeddings WHERE vec_id < 8),
      c AS (SELECT vec_id AS nid, embedding AS nvec, label
            FROM embeddings WHERE vec_id >= 32),
      sims AS (SELECT q.qid, c.nid,
                      round(list_cosine_similarity(q.qvec::DOUBLE[],
                        c.nvec::DOUBLE[]), 6) AS sim
               FROM q JOIN c USING (label)),
      ranked AS (SELECT qid, nid, sim, row_number() OVER (
                   PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
                 FROM sims)
      SELECT qid, nid, CAST(rank AS INT) AS rank, sim FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank""")),

    Entry("ann_ivfpq_opq_index", (s, dir) => {
      // the FULL scale stack in one hash-checked row: OPQ rotation
      // (trained on the residual distribution — the IvfPqIndexSpec
      // lesson) + persisted IVFADC index (rotation sidecar, corpus
      // rotated at build) + partition-pruned search with automatic
      // query projection. The trained R is exported for the oracle
      // (Verify gate, the ann_opq_adc convention) and DuckDB replays
      // rotate → assign → residual → encode → probe → ADC end to end.
      val emb = T(s, dir, "embeddings")
      val rawCents = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val corpusRaw = emb.filter(col("vec_id") >= 36)
      val r = SimilaritySearch.opqTrainRotation(
        SimilaritySearch.ivfResiduals(corpusRaw, rawCents)
          .select(col("vec_id"), col("rvec")),
        "rvec", m = 16)
      if (sys.props.get("graft.oracle.sidecars").contains("1")) {
        import s.implicits._
        r.head.indices.map(c => (c, r.indices.map(i => r(i)(c))))
          .toDF("c", "w")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$oracleSidecarRoot/opq_ivf_rotation")
      }
      def rot(df: org.apache.spark.sql.DataFrame) =
        SimilaritySearch.rotateVectors(df, "embedding", r, "rv")
          .select(col("vec_id"), col("rv").as("embedding"))
      val rCents = rot(emb.filter(col("vec_id") < 4)).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val cbRows = SimilaritySearch.ivfResiduals(
          rot(emb.filter(col("vec_id") >= 4 && col("vec_id") < 36)), rCents)
        .orderBy(col("vec_id")).select(col("rvec")).collect()
        .map(_.getSeq[Float](0).toSeq).toSeq
      val books = (0 until 16).map(j => cbRows.map(_.slice(j * 4, j * 4 + 4)))
      val path = graft.core.TempRoots.buildOnce(
        s"ivfpqopq-${dir.replaceAll("[^0-9a-zA-Z]", "")}") { p =>
        SimilaritySearch.writeIvfPqIndex(corpusRaw, rCents, books, p,
          rotation = Some(r))
      }
      SimilaritySearch.searchIvfPqIndex(s, path,
          emb.filter(col("vec_id") < 5), k = 5, nProbe = 2)
        .orderBy(col("qid"), col("rank"))
    }, Some(s"""
      WITH rot AS (SELECT c, w FROM
             read_parquet('$oracleSidecarRoot/opq_ivf_rotation/*.parquet')),
      rveci AS (SELECT e.vec_id, r.c,
                       CAST(list_sum(list_transform(
                         generate_series(1, len(e.embedding)),
                         i -> r.w[i] * CAST(e.embedding[i] AS DOUBLE)))
                         AS REAL) AS x
                FROM embeddings e CROSS JOIN rot r),
      rv AS (SELECT vec_id, list(x ORDER BY c) AS embedding
             FROM rveci GROUP BY vec_id),
      cents AS (SELECT vec_id AS cid, embedding AS cvec FROM rv
                WHERE vec_id < 4),
      scored AS (SELECT v.vec_id, v.embedding, c.cid,
                        row_number() OVER (PARTITION BY v.vec_id
                          ORDER BY list_cosine_similarity(v.embedding::DOUBLE[],
                            c.cvec::DOUBLE[]) DESC, c.cid DESC) AS r
                 FROM rv v CROSS JOIN cents c),
      resid AS (SELECT s.vec_id, s.cid AS cluster,
                       list_transform(generate_series(1, len(s.embedding)),
                         i -> CAST(CAST(s.embedding[i] AS DOUBLE) -
                              CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rvec
                FROM scored s JOIN cents c ON c.cid = s.cid WHERE s.r = 1),
      js AS (SELECT unnest(generate_series(0, 15)) AS j),
      cb AS (SELECT j, vec_id - 4 AS c, rvec[j*4+1 : j*4+4] AS cvec
             FROM resid CROSS JOIN js WHERE vec_id >= 4 AND vec_id < 36),
      csub AS (SELECT vec_id AS nid, cluster, j, rvec[j*4+1 : j*4+4] AS sub
               FROM resid CROSS JOIN js WHERE vec_id >= 36),
      cdist AS (SELECT nid, cluster, csub.j, cb.c,
                       list_sum(list_transform(generate_series(1, 4), i ->
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE)) *
                         (CAST(sub[i] AS DOUBLE) - CAST(cvec[i] AS DOUBLE))))
                         AS d
                FROM csub JOIN cb ON cb.j = csub.j),
      codes AS (SELECT nid, cluster, j, c FROM (
                  SELECT nid, cluster, j, c, row_number() OVER (
                    PARTITION BY nid, j ORDER BY d ASC, c ASC) AS r
                  FROM cdist) WHERE r = 1),
      probes AS (SELECT s.vec_id AS qid, s.embedding AS qvec,
                        s.cid AS cluster
                 FROM scored s WHERE s.r <= 2 AND s.vec_id < 5),
      qres AS (SELECT p.qid, p.cluster,
                      list_transform(generate_series(1, len(p.qvec)), i ->
                        CAST(CAST(p.qvec[i] AS DOUBLE) -
                             CAST(c.cvec[i] AS DOUBLE) AS REAL)) AS rq
               FROM probes p JOIN cents c ON c.cid = p.cluster),
      qd AS (SELECT qid, qres.cluster, cb.j, cb.c,
                    list_sum(list_transform(generate_series(1, 4), i ->
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)) *
                      (CAST(rq[cb.j*4+i] AS DOUBLE) -
                        CAST(cvec[i] AS DOUBLE)))) AS d
             FROM qres CROSS JOIN cb),
      score AS (SELECT qd.qid, codes.nid, round(sum(qd.d), 6) AS s
                FROM codes JOIN qd ON qd.cluster = codes.cluster
                  AND qd.j = codes.j AND qd.c = codes.c
                GROUP BY qd.qid, codes.nid),
      ranked AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY s ASC, nid ASC) AS rank
                 FROM score)
      SELECT qid, nid, CAST(rank AS INT) AS rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))
  )

  /** Shared winnowing (SIGMOD'03) oracle chain over `documents`: canonical
    * text → all 8-char gram hashes → per-doc window-4 minimum selection,
    * ending in relation `s` (doc_id, pos, sel, n_pos); selected
    * fingerprints are rows with pos <= n_pos - 3. Spliced by
    * text_winnowing and curate_decontaminate_fuzzy so the fingerprint
    * contract stays one text. */
  private lazy val winnowChainSql: String = """
      c AS (SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' ') AS p
            FROM documents),
      f AS (SELECT doc_id, p FROM c WHERE length(p) >= 8),
      g AS (SELECT doc_id, p, unnest(generate_series(1, length(p) - 7)) AS pos
            FROM f),
      h AS (SELECT doc_id, pos,
                   md5(substring(p, CAST(pos AS INT), 8)) || ':' ||
                     lpad(CAST(pos AS VARCHAR), 8, '0') AS key
            FROM g),
      s AS (SELECT doc_id, pos,
                   min(key) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
                   max(pos) OVER (PARTITION BY doc_id) AS n_pos
            FROM h)"""

  /** Shared BPE-oracle scaffolding (the curationVerdictSql pattern:
    * mechanical SQL generated once, embedded in several oracles). The
    * marker-prefix symbol representation makes DuckDB's `replace`
    * exactly the engine's merge pass — see functions/Bpe.scala. */
  private def bpeWordsSql(table: String): String = s"""
      bw AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
             FROM $table),
      bwf AS (SELECT word, count(*) AS freq FROM bw GROUP BY word),
      s0 AS (SELECT regexp_replace(word, '(.)', '_\\1', 'g') AS s, freq FROM bwf)"""

  /** Adjacent-pair counts of a (s, freq) symbol relation → `$out`. */
  private def bpePairsSql(in: String, out: String): String = s"""
      $out AS (
        SELECT l, r, sum(freq) AS cnt FROM (
          SELECT a[i] AS l, a[i + 1] AS r, freq FROM (
            SELECT a, freq, unnest(generate_series(1, len(a) - 1)) AS i
            FROM (SELECT string_split(s, '_')[2:] AS a, freq FROM $in)))
        GROUP BY l, r)"""

  /** One logistic-regression GD step for the curate_quality_lr oracle:
    * dot products under w$(k-1), sigmoid errors, per-bucket mean
    * gradient, w$k = w$(k-1) − g (lr = 1). Every bucket observed in
    * `fb` is covered by w1 (step-1 errors are ±0.5, never 0), so the
    * weight join stays an inner equi-join. Ends with a comma. */
  private def lrStepSql(k: Int): String = s"""
      z$k AS (SELECT fb.doc_id, any_value(fb.y) AS y,
                     sum(fb.x * w${k - 1}.wt) AS z
              FROM fb JOIN w${k - 1} USING (b) GROUP BY fb.doc_id),
      e$k AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) - y AS err FROM z$k),
      g$k AS (SELECT fb.b, sum(e$k.err * fb.x) / any_value(nd.n) AS g
              FROM fb JOIN e$k USING (doc_id) CROSS JOIN nd GROUP BY fb.b),
      w$k AS (SELECT g$k.b, w${k - 1}.wt - g$k.g AS wt
              FROM g$k JOIN w${k - 1} ON w${k - 1}.b = g$k.b),"""

  /** k training rounds: pair counts → argmax pair p$i → merged s$i. */
  private def bpeTrainChainSql(k: Int): String =
    (1 to k).map { i =>
      s"""${bpePairsSql(s"s${i - 1}", s"bpc$i")},
      p$i AS (SELECT l, r FROM bpc$i ORDER BY cnt DESC, l, r LIMIT 1),
      s$i AS (SELECT replace(s, '_' || p$i.l || '_' || p$i.r,
                             '_' || p$i.l || p$i.r) AS s, freq
              FROM s${i - 1} CROSS JOIN p$i)"""
    }.mkString(",\n")

  /** The synthetic 3-language corpus behind text_langid_nb: disjoint
    * 6-word vocabularies with distinct character distributions, one
    * language per doc_id%3 class, 8 words per doc chosen by
    * (doc_id·j)%6 — deterministic in both engines. */
  private val nbVocab: Seq[(String, Seq[String])] = Seq(
    "aa" -> Seq("alpha", "apple", "anchor", "arrow", "axis", "amber"),
    "bb" -> Seq("birke", "blume", "brot", "bach", "berg", "busch"),
    "cc" -> Seq("chien", "chat", "cheval", "chou", "chemin", "chose"))

  /** The [[nbVocab]] corpus as a frame: (doc_id, lang, text). */
  private def nbCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    def wordAt(ws: Seq[String], j: Int) = element_at(
      array(ws.map(lit): _*), (pmod(d * j, lit(6)) + 1).cast("int"))
    val textExpr = concat_ws(" ", (1 to 8).map { j =>
      when(d % 3 === 0, wordAt(nbVocab(0)._2, j))
        .when(d % 3 === 1, wordAt(nbVocab(1)._2, j))
        .otherwise(wordAt(nbVocab(2)._2, j))
    }: _*)
    val langExpr = when(d % 3 === 0, lit("aa"))
      .when(d % 3 === 1, lit("bb")).otherwise(lit("cc"))
    T(s, dir, "documents")
      .select(d.as("doc_id"), langExpr.as("lang"), textExpr.as("text"))
  }

  /** The ONE DuckDB replay of NB-langid train (on the doc_id%5≠0
    * slice) + classify (the %5=0 holdout) — shared verbatim by
    * text_langid_nb and text_langid_nb_inc, because the incremental
    * face's law IS batch-retrain equality (counts are a sufficient
    * statistic; the update is an exact full-outer sum). */
  private val nbOracleSql: String = {
    def lst(ws: Seq[String]) =
      "[" + ws.map("'" + _ + "'").mkString(",") + "]"
    val word = (1 to 8).map { j =>
      s"""(CASE WHEN doc_id % 3 = 0
           THEN (${lst(nbVocab(0)._2)})[(doc_id*$j) % 6 + 1]
           WHEN doc_id % 3 = 1
           THEN (${lst(nbVocab(1)._2)})[(doc_id*$j) % 6 + 1]
           ELSE (${lst(nbVocab(2)._2)})[(doc_id*$j) % 6 + 1] END)"""
    }.mkString(" || ' ' || ")
    s"""
      WITH corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'aa'
                    WHEN doc_id % 3 = 1 THEN 'bb' ELSE 'cc' END AS lang,
               $word AS text
        FROM documents),
      pd AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p
             FROM corpus),
      ttri AS (
        SELECT lang, substring(md5(substr(p, i, 3)), 1, 2) AS b
        FROM (SELECT lang, p,
                     unnest(generate_series(1, length(p) - 2)) AS i
              FROM pd WHERE doc_id % 5 <> 0)),
      cnts AS (SELECT lang, b, count(*) AS n FROM ttri GROUP BY lang, b),
      pri AS (SELECT lang, count(*) AS n_docs FROM pd
              WHERE doc_id % 5 <> 0 GROUP BY lang),
      tot AS (SELECT lang, sum(n) AS t_l FROM cnts GROUP BY lang),
      nall AS (SELECT sum(n_docs) AS n_all FROM pri),
      htri AS (
        SELECT doc_id, substring(md5(substr(p, i, 3)), 1, 2) AS b
        FROM (SELECT doc_id, p,
                     unnest(generate_series(1, length(p) - 2)) AS i
              FROM pd WHERE doc_id % 5 = 0)),
      hb AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS cnt
             FROM htri GROUP BY doc_id, b),
      ll AS (
        SELECT hb.doc_id, pri.lang,
               sum(hb.cnt * (ln(coalesce(c.n, 0) + 1.0) -
                             ln(tot.t_l + 256.0))) AS ll,
               any_value(pri.n_docs) AS n_docs
        FROM hb CROSS JOIN pri
        JOIN tot ON tot.lang = pri.lang
        LEFT JOIN cnts c ON c.lang = pri.lang AND c.b = hb.b
        GROUP BY hb.doc_id, pri.lang),
      sc AS (SELECT doc_id, lang,
                    ln(CAST(n_docs AS DOUBLE)) -
                    ln(CAST((SELECT n_all FROM nall) AS DOUBLE)) + ll
                      AS score
             FROM ll),
      rk AS (SELECT doc_id, lang, score,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, lang ASC) AS r
             FROM sc)
      SELECT h.doc_id, h.lang AS lang_true, rk.lang AS lang_pred,
             round(rk.score, 6) AS score
      FROM rk JOIN (SELECT doc_id, lang FROM pd WHERE doc_id % 5 = 0) h
        ON h.doc_id = rk.doc_id
      WHERE rk.r = 1
      ORDER BY h.doc_id"""
  }

  val text: Seq[Entry] = Seq(

    Entry("text_langid_nb", (s, dir) => {
      // TRAINED language ID: hashed char-trigram multinomial Naive
      // Bayes, trained IN the engine (256 md5-prefix buckets — the
      // DSIR bucket law — add-one smoothing, doc-count priors) on the
      // doc_id%5≠0 slice of a synthetic 3-language corpus, then the
      // held-out %5=0 slice classified under the trained model — the
      // trained upgrade of text_langid's marker heuristic, in the
      // curate_quality_lr in-engine-training convention. The oracle
      // replays BOTH halves mechanically: trigram explode → count →
      // priors → per-(doc,lang) smoothed log-likelihood → argmax with
      // the (score desc, lang asc) tie-break. round(6) float parity.
      val corpus = nbCorpus(s, dir)
      val model = TextAnalysis.langIdNbTrain(
        corpus.filter(col("doc_id") % 5 =!= 0))
      val hold = corpus.filter(col("doc_id") % 5 === 0)
      TextAnalysis.langIdNbClassify(hold, model)
        .join(hold.select(col("doc_id"), col("lang").as("lang_true")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang_true"), col("lang_pred"),
          col("score"))
        .orderBy("doc_id")
    }, Some(nbOracleSql)),

    Entry("text_langid_nb_inc", (s, dir) => {
      // INCREMENTAL NB-langid training: wave 1 (doc_id%5 ∈ {1,2})
      // trains, wave 2 (%5 ∈ {3,4}) folds in via langIdNbUpdate — the
      // old corpus is never rescanned — and the holdout classifies
      // under the merged model. The LAW is batch equality (counts are
      // a sufficient statistic; the update is an exact full-outer
      // sum), so the oracle is text_langid_nb's VERBATIM train-on-
      // the-union SQL: a drift anywhere in the merge and the hash
      // catches it.
      val corpus = nbCorpus(s, dir)
      val m1 = TextAnalysis.langIdNbTrain(
        corpus.filter(col("doc_id") % 5 === 1 ||
          col("doc_id") % 5 === 2))
      val model = TextAnalysis.langIdNbUpdate(m1,
        corpus.filter(col("doc_id") % 5 === 3 ||
          col("doc_id") % 5 === 4))
      val hold = corpus.filter(col("doc_id") % 5 === 0)
      TextAnalysis.langIdNbClassify(hold, model)
        .join(hold.select(col("doc_id"), col("lang").as("lang_true")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang_true"), col("lang_pred"),
          col("score"))
        .orderBy("doc_id")
    }, Some(nbOracleSql)),

    Entry("text_langid", (s, dir) => {
      // n-gram-heuristic language ID: per-language function-word marker
      // scores, argmax with fixed priority. Pure per-row map.
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }, Some {
      val scores = TextAnalysis.langMarkers.map { case (l, ms) =>
        s"(${ms.map(hitSql).mkString(" + ")}) AS s_$l"
      }.mkString(", ")
      s"""
      WITH p0 AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
      sc AS (SELECT doc_id, $scores FROM p0),
      mx AS (SELECT doc_id, s_en, s_fr, s_es, s_de,
                    greatest(s_en, s_fr, s_es, s_de) AS best FROM sc)
      SELECT doc_id,
        CASE WHEN s_en > 0 AND s_en = best THEN 'en'
             WHEN s_fr > 0 AND s_fr = best THEN 'fr'
             WHEN s_es > 0 AND s_es = best THEN 'es'
             WHEN s_de > 0 AND s_de = best THEN 'de'
             ELSE 'und' END AS lang_pred
      FROM mx ORDER BY doc_id"""
    }),

    Entry("text_quality", (s, dir) => {
      // quality features + composite score: the cheap pre-training
      // filters (length / punctuation / stopword density).
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.wordCount(col("text")).as("n_words"),
          TextAnalysis.punctCount(col("text")).as("n_punct"),
          round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
        .orderBy(col("doc_id"))
    }, Some {
      // mirror TextAnalysis.qualityScore exactly (same operations, same
      // double arithmetic); stopword hits use the padded length/replace
      // trick per word.
      val stopHits = stopHitsSql
      s"""
      WITH f AS (
        SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
               length(text) * 1.0 AS n,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_words
        FROM documents),
      feats AS (
        SELECT doc_id,
          len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
          n_words,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
          n, ($stopHits) AS stop_hits
        FROM f)
      SELECT doc_id, n_tokens, n_words, n_punct,
             round((least(n / 500.0, 1.0) +
                    greatest(0.0, 1.0 - (n_punct / greatest(n, 1.0)) * 10.0) +
                    least((stop_hits / greatest(n_words * 1.0, 1.0)) * 4.0, 1.0)
                   ) / 3.0, 4) AS quality
      FROM feats ORDER BY doc_id"""
    }),

    Entry("text_mojibake", (s, dir) => {
      // encoding-damage gate: U+FFFD replacement chars, CP1252-mojibake
      // lead pairs ("é" decoded as "Ã©"), and C0 control spill. The
      // synthetic corpus is validly decoded, so deterministic damage is
      // injected per id band (mirrored exactly in the oracle); the
      // detection itself is a pure codegen'd per-row map, zero shuffle.
      val id = col("doc_id")
      val t = when(id % 7 === 3,
          regexp_replace(col("text"), lit("e"), lit("\u00C3\u00A9")))
        .when(id % 7 === 5, concat(col("text"), lit(" \uFFFD")))
        .when(id % 7 === 6, concat(lit("\u0007"), col("text")))
        .otherwise(col("text"))
      T(s, dir, "documents")
        .select(id, t.as("t"))
        .select(id,
          TextAnalysis.replacementCharCount(col("t")).as("n_replacement"),
          TextAnalysis.mojibakePairCount(col("t")).as("n_mojibake"),
          TextAnalysis.controlCharCount(col("t")).as("n_ctrl"),
          round(TextAnalysis.encodingDamageRatio(col("t")), 6).as("bad_ratio"))
        .withColumn("is_clean",
          col("n_replacement") + col("n_mojibake") + col("n_ctrl") === 0)
        .orderBy(id)
    }, Some("""
      WITH dmg AS (SELECT doc_id,
        CASE WHEN doc_id % 7 = 3 THEN replace(text, 'e', 'Ã©')
             WHEN doc_id % 7 = 5 THEN text || ' ' || chr(65533)
             WHEN doc_id % 7 = 6 THEN chr(7) || text
             ELSE text END AS t FROM documents),
      m AS (SELECT doc_id,
        len(regexp_extract_all(t, '\x{FFFD}')) AS n_replacement,
        len(regexp_extract_all(t, '[ÃÂ][\x{0080}-\x{00FF}]')) AS n_mojibake,
        len(regexp_extract_all(t,
          '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]')) AS n_ctrl,
        length(t) AS n FROM dmg)
      SELECT doc_id, n_replacement, n_mojibake, n_ctrl,
             round((n_replacement + n_mojibake + n_ctrl) * 1.0 /
               greatest(n, 1), 6) AS bad_ratio,
             (n_replacement + n_mojibake + n_ctrl) = 0 AS is_clean
      FROM m ORDER BY doc_id""")),

    Entry("text_gopher_rules", (s, dir) => {
      // the Gopher per-document rule card (word-count band, mean word
      // length band, symbol-to-word ratio, alpha-word fraction, minimum
      // stopword evidence) with per-rule booleans and the conjunction —
      // the standard pre-training keep/drop audit. Pure per-row map.
      val t = col("text")
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.strictWordCount(t).cast("long").as("n_words"),
          round(TextAnalysis.meanWordLength(t), 6).as("mean_word_len"),
          round(TextAnalysis.symbolToWordRatio(t), 6).as("symbol_ratio"),
          round(TextAnalysis.alphaWordFraction(t), 6).as("alpha_frac"),
          TextAnalysis.stopwordCount(t).as("stop_hits"))
        .withColumn("pass_words",
          col("n_words") >= 50 && col("n_words") <= 100000)
        .withColumn("pass_word_len",
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
        .withColumn("pass_symbol", col("symbol_ratio") < 0.1)
        .withColumn("pass_alpha", col("alpha_frac") > 0.8)
        .withColumn("pass_stop", col("stop_hits") >= 2.0)
        .withColumn("keep", col("pass_words") && col("pass_word_len") &&
          col("pass_symbol") && col("pass_alpha") && col("pass_stop"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH f AS (
        SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
               len(list_filter(string_split(text, ' '), w -> w != ''))
                 AS n_words
        FROM documents),
      m AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
              round(length(replace(text, ' ', '')) * 1.0 /
                greatest(n_words, 1), 6) AS mean_word_len,
              round(((length(text) - length(replace(text, '#', ''))) +
                     (length(text) - length(replace(text, '...', ''))) // 3)
                    * 1.0 / greatest(n_words, 1), 6) AS symbol_ratio,
              round(len(list_filter(string_split(text, ' '),
                      w -> regexp_matches(w, '[A-Za-z]'))) * 1.0 /
                greatest(n_words, 1), 6) AS alpha_frac,
              ($stopHitsSql) AS stop_hits
            FROM f)
      SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
             stop_hits,
             n_words >= 50 AND n_words <= 100000 AS pass_words,
             mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS pass_word_len,
             symbol_ratio < 0.1 AS pass_symbol,
             alpha_frac > 0.8 AS pass_alpha,
             stop_hits >= 2.0 AS pass_stop,
             (n_words >= 50 AND n_words <= 100000) AND
               (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AND
               symbol_ratio < 0.1 AND alpha_frac > 0.8 AND stop_hits >= 2.0
               AS keep
      FROM m ORDER BY doc_id""")),

    Entry("text_ngram_repetition", (s, dir) => {
      // Gopher 2-gram repetition card: top-gram and duplicated-gram
      // occurrence fractions. Per-row sort+scan (zero shuffle, pinned);
      // the oracle computes the same statistic relationally — the
      // cross-check that keeps the per-row rewrite honest.
      // flatten the top-level struct directly — getField simplifies to
      // the per-column child — and filter on the card's own n_grams
      // (its cheap child after pushdown; no threshold literal to keep
      // in sync with the card's n)
      val card = TextAnalysis.ngramRepetition(col("text"), n = 2)
      T(s, dir, "documents")
        .select(col("doc_id"), card.getField("n_grams").as("n_grams"),
          card.getField("top_frac").as("top_frac"),
          card.getField("dup_frac").as("dup_frac"))
        .filter(col("n_grams") >= 1)
        .orderBy(col("doc_id"))
    }, Some("""
      WITH toks AS (SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
                    FROM documents),
      ix AS (SELECT doc_id, ts,
                    unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
             FROM toks WHERE len(ts) >= 2),
      g AS (SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS gram FROM ix),
      gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
      agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                     max(c) AS max_c,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ
              FROM gc GROUP BY doc_id)
      SELECT doc_id, n_grams,
             round(max_c * 1.0 / n_grams, 6) AS top_frac,
             round(dup_occ * 1.0 / n_grams, 6) AS dup_frac
      FROM agg ORDER BY doc_id""")),

    Entry("text_token_count", (s, dir) => {
      // token counting two ways: whitespace tokens and a BPE-ish regex
      // (letter runs / digit runs / punctuation runs, optionally
      // space-prefixed like byte-pair vocabularies) — the cheap length
      // estimators a training pipeline budgets with.
      val bpe = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
      T(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0)))
            .as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit(bpe), lit(0)))
            .as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             len(regexp_extract_all(text, '[^ ]+')) AS n_ws_tokens,
             len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))
               AS n_bpe_tokens
      FROM documents ORDER BY doc_id""")),

    Entry("text_bpe_pairs", (s, dir) => {
      // distributed BPE training, round-1 evidence: adjacent symbol
      // pair frequencies over the (word, freq) table in the
      // marker-prefix representation, top-10 deterministic. One corpus
      // shuffle (word freq) + one pair shuffle — the per-round shape
      // of the trainer.
      import graft.functions.Bpe
      val words = Bpe.wordFreq(T(s, dir, "documents"), "text")
        .select(Bpe.toSymbols(col("word")).as("syms"), col("freq"))
      Bpe.pairCounts(words)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(10)
        .select(col("l"), col("r"), col("cnt"))
    }, Some(s"""
      WITH ${bpeWordsSql("documents")},
      ${bpePairsSql("s0", "pc")}
      SELECT l, r, CAST(cnt AS BIGINT) AS cnt FROM pc
      ORDER BY cnt DESC, l, r LIMIT 10""")),

    Entry("text_bpe_train", (s, dir) => {
      // the actual BPE trainer (Sennrich'16): 5 rounds of count-argmax-
      // merge over the corpus, each round one pair shuffle + a ONE-ROW
      // driver collect; the oracle replays all 5 rounds mechanically in
      // SQL (the marker-prefix representation makes `replace` exactly
      // the merge pass, so engine and oracle share semantics exactly).
      import graft.functions.Bpe
      import s.implicits._
      val merges = Bpe.train(T(s, dir, "documents"), "text", steps = 5)
      merges.zipWithIndex
        .map { case ((l, r), i) => (i + 1, l, r) }
        .toDF("step", "l", "r")
        .orderBy(col("step"))
    }, Some(s"""
      WITH ${bpeWordsSql("documents")},
      ${bpeTrainChainSql(5)}
      ${(1 to 5).map(k => s"SELECT $k AS step, l, r FROM p$k")
        .mkString("", " UNION ALL ", "")}
      ORDER BY step""")),

    Entry("text_bpe_tokenize", (s, dir) => {
      // the trained vocabulary APPLIED: per-doc token counts under the
      // 5 learned merges — explode words, chain 5 codegen'd replaces,
      // one doc-keyed sum; wordless docs keep a 0 row. The oracle
      // re-trains in SQL and re-applies the same chain.
      import graft.functions.Bpe
      val docs = T(s, dir, "documents")
      val merges = Bpe.train(docs, "text", steps = 5)
      Bpe.withTokenCounts(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${bpeWordsSql("documents")},
      ${bpeTrainChainSql(5)},
      dw AS (SELECT doc_id,
                    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
             FROM documents),
      tok AS (SELECT doc_id,
                     ${(1 to 5).foldLeft("regexp_replace(word, '(.)', '_\\1', 'g')") {
                       (acc, k) =>
                         s"replace($acc, '_' || p$k.l || '_' || p$k.r, '_' || p$k.l || p$k.r)"
                     }} AS s
              FROM dw ${(1 to 5).map(k => s"CROSS JOIN p$k").mkString(" ")}),
      cnt AS (SELECT doc_id,
                     sum(len(s) - len(replace(s, '_', ''))) AS n_bpe
              FROM tok GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(cnt.n_bpe, 0) AS BIGINT) AS n_bpe
      FROM documents d LEFT JOIN cnt ON cnt.doc_id = d.doc_id
      ORDER BY d.doc_id""")),

    Entry("text_repetition", (s, dir) => {
      // Gopher-style repetition gates: duplicate-token fraction and
      // top-token dominance per doc — two chained map-side-combinable
      // aggregations, no joins.
      T(s, dir, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z0-9]+"), lit(0))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("max_c"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(lit(1.0) - col("n_distinct").cast("double") /
            col("n_tokens").cast("double"), 4).as("dup_frac"),
          round(col("max_c").cast("double") /
            col("n_tokens").cast("double"), 4).as("top_frac"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
      tc AS (SELECT doc_id, term, count(*) AS c
             FROM toks GROUP BY doc_id, term),
      agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                     count(*) AS n_distinct, max(c) AS max_c
              FROM tc GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct,
             round(1.0 - n_distinct * 1.0 / n_tokens, 4) AS dup_frac,
             round(max_c * 1.0 / n_tokens, 4) AS top_frac
      FROM agg ORDER BY doc_id""")),

    Entry("text_vocab_top", (s, dir) => {
      // corpus vocabulary report: top-50 terms by document frequency.
      // distinct (doc, term) → map-side-combinable df count → top-50 as
      // TakeOrderedAndProject (per-partition top-N + 50-row merge), with
      // the (df desc, term asc) tiebreak making the cut deterministic.
      T(s, dir, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z0-9]+"), lit(0))).as("term"))
        .distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(50)
    }, Some("""
      WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents)
      SELECT term, count(*) AS df FROM toks
      GROUP BY term ORDER BY df DESC, term ASC LIMIT 50"""), bench = false),

    Entry("text_heavy_hitters", (s, dir) => {
      // exact ≥0.1%-frequency tokens via the two-phase Misra–Gries
      // pattern: bounded per-partition summaries (one pass, no token
      // shuffle) yield a guaranteed-superset candidate set + the global
      // total; the exact groupBy then shuffles ONLY candidate rows —
      // the sketch-then-verify shape that makes "top tokens of a 100 TB
      // corpus" a sliver-shuffle instead of a full-vocabulary shuffle.
      // The result is EXACT, so the plain-SQL frequency query is the
      // oracle.
      val toks = T(s, dir, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+"), lit(0))).as("tok"))
      HeavyHitters.frequentTokens(toks, denom = 1000L)
    }, Some("""
      WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents)
      SELECT tok, count(*) AS cnt FROM toks
      GROUP BY tok
      HAVING count(*) * 1000 >= (SELECT count(*) FROM toks)
      ORDER BY cnt DESC, tok ASC""")),

    Entry("text_length_hist", (s, dir) => {
      // doc-length histogram (50-char buckets): the size-distribution
      // report a curation run publishes; one map-side-combinable rollup.
      T(s, dir, "documents")
        .groupBy(expr("CAST(length(text) AS BIGINT) div 50").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(length(col("text"))).cast("long").as("min_len"),
          max(length(col("text"))).cast("long").as("max_len"))
        .orderBy(col("bucket"))
    }, Some("""
      SELECT CAST(length(text) // 50 AS BIGINT) AS bucket,
             count(*) AS n_docs,
             CAST(min(length(text)) AS BIGINT) AS min_len,
             CAST(max(length(text)) AS BIGINT) AS max_len
      FROM documents GROUP BY 1 ORDER BY bucket"""), bench = false),

    Entry("text_pii_redact", (s, dir) => {
      // PII scrub over messages with injected emails/URLs/phones/IPs
      // (deterministic by doc_id so every redaction class exercises);
      // fixed replace order: email → url → ip → phone.
      val injected = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now")))
        .when(col("doc_id") % 4 === 1,
          lit(" see https://internal.example/path?q=1 for details"))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" call +1 (555) 010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today")))
        .otherwise(
          concat(lit(" server at 10.0."), (col("doc_id") % 255).cast("string"),
            lit(".7 responded"))))
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.redactPii(injected).as("redacted"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH m AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0 THEN ' contact user' ||
                 CAST(doc_id AS VARCHAR) || '@example.com now'
               WHEN doc_id % 4 = 1 THEN
                 ' see https://internal.example/path?q=1 for details'
               WHEN doc_id % 4 = 2 THEN ' call +1 (555) 010-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
               ELSE ' server at 10.0.' || CAST(doc_id % 255 AS VARCHAR) ||
                 '.7 responded' END AS msg
        FROM documents)
      SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(msg,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
                '<EMAIL>', 'g'),
              'https?://[^ ]+', '<URL>', 'g'),
            '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
          '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g') AS redacted
      FROM m ORDER BY doc_id""")),

    Entry("text_tfidf", (s, dir) => {
      // per-doc top-3 salient terms by tf·ln(N/df) — rank-only output so
      // the float score never crosses the engine boundary.
      TextAnalysis.tfidfTopTerms(spread(s, T(s, dir, "documents")),
          "text", "doc_id", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM toks GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
      ranked AS (
        SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, term ASC) AS rank
        FROM scored)
      SELECT doc_id, CAST(rank AS INT) AS rank, term FROM ranked
      WHERE rank <= 3 ORDER BY doc_id, rank""")),

    Entry("text_winnowing", (s, dir) => {
      // winnowing (rolling k-gram hash, window-min selection, SIGMOD'03):
      // the partial-overlap fingerprint — any shared substring of
      // w+k-1 = 11 canonical chars guarantees a shared fingerprint.
      Dedup.winnowingFingerprints(spread(s, T(s, dir, "documents")),
          "text", "doc_id", k = 8, w = 4)
        .orderBy(col("doc_id"), col("fp_pos"), col("fp_hash"))
    }, Some(s"""
      WITH $winnowChainSql
      SELECT DISTINCT doc_id,
             CAST(split_part(sel, ':', 2) AS INT) AS fp_pos,
             split_part(sel, ':', 1) AS fp_hash
      FROM s WHERE pos <= n_pos - 3
      ORDER BY doc_id, fp_pos, fp_hash""")),

    Entry("text_unigram_surprisal", (s, dir) => {
      // corpus-LM quality score: mean −ln p̂(token) per doc under the
      // corpus unigram MLE (the CCNet filter statistic). Same 3-shuffle
      // shape as tf-idf; the 1-row total rides a broadcast.
      TextAnalysis.unigramSurprisal(spread(s, T(s, dir, "documents")),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
      tc AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
      n AS (SELECT count(*) AS n_total FROM toks)
      SELECT doc_id, count(*) AS n_tokens,
             round(avg(-ln(CAST(tc.c AS DOUBLE) / n.n_total)) + 0.0, 6) AS surprisal
      FROM toks JOIN tc USING (term) CROSS JOIN n
      GROUP BY doc_id ORDER BY doc_id""")),

    Entry("text_bigram_surprisal", (s, dir) => {
      // conditional-LM quality score one order above the unigram: mean
      // −ln p̂(r|l) under the corpus MLE bigram model. Adjacent pairs come
      // from a per-row zip (no window/positional shuffle); the rest is
      // the tf-idf shuffle family — count aggregates + equi-joins.
      TextAnalysis.bigramSurprisal(spread(s, T(s, dir, "documents")),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        FROM documents),
      pairs AS (
        SELECT doc_id, bg[1] AS l, bg[2] AS r
        FROM (SELECT doc_id,
                unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS bg
              FROM toks WHERE len(ts) >= 2)),
      bg AS (SELECT l, r, count(*) AS c_lr FROM pairs GROUP BY l, r),
      lc AS (SELECT l, count(*) AS c_l FROM pairs GROUP BY l)
      SELECT doc_id, count(*) AS n_bigrams,
             round(avg(-ln(CAST(c_lr AS DOUBLE) / c_l)) + 0.0, 6) AS surprisal
      FROM pairs JOIN bg USING (l, r) JOIN lc USING (l)
      GROUP BY doc_id ORDER BY doc_id""")),

    Entry("text_char_entropy", (s, dir) => {
      // character-distribution gibberish filter: per-doc Shannon entropy
      // over [a-z0-9] in nats; a codegen'd per-row expression — zero
      // shuffles before the presentation sort (PlanSpec pins this).
      TextAnalysis.charEntropy(spread(s, T(s, dir, "documents")),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }, Some("""
      WITH chars AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]')) AS ch
        FROM documents),
      counts AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
      tot AS (SELECT doc_id, sum(c) AS t FROM counts GROUP BY doc_id)
      SELECT doc_id, round(-sum((c / t) * ln(c / t)) + 0.0, 6) AS entropy
      FROM counts JOIN tot USING (doc_id)
      GROUP BY doc_id ORDER BY doc_id""")),
      // ^ +0.0 normalizes IEEE -0.0 (single-symbol doc: -sum(1·ln 1)):
      //   Spark's round goes through BigDecimal and emits 0.0, DuckDB's
      //   round preserves the sign bit — without the guard a correct
      //   answer would hash-mismatch

    Entry("text_fingerprint", (s, dir) => {
      // canonical-form document fingerprint (rolling formatting-invariant
      // hash) — the per-doc primitive under dedup_fingerprint.
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' ')) AS fingerprint
      FROM documents ORDER BY doc_id"""), bench = false),

    Entry("text_normalize", (s, dir) => {
      // Unicode-hygiene normalization (NFC + control strip + whitespace
      // collapse) — the web-corpus first pass. The ASCII test corpus
      // would make NFC a no-op, so decomposed combining marks, a BEL
      // control and ragged spaces are INJECTED deterministically by
      // doc_id (built identically in the oracle via chr()); compared by
      // md5 + length so composed-vs-decomposed divergence cannot hide.
      val dirty = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" café")) // e + U+0301 → é
          .when(col("doc_id") % 4 === 1, lit("  näive  x")) // a + U+0308
          .when(col("doc_id") % 4 === 2, lit(" xy\tz")) // BEL + tab
          .otherwise(lit("")))
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeText(dirty).as("norm"))
        .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
          length(col("norm")).cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH dirty AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769)
               WHEN doc_id % 4 = 1 THEN '  na' || chr(776) || 'ive  x'
               WHEN doc_id % 4 = 2 THEN ' x' || chr(7) || 'y' || chr(9) || 'z'
               ELSE '' END AS t
        FROM documents),
      norm AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(nfc_normalize(t),
                 '[\x00-\x08\x0B\x0E-\x1F]', '', 'g'),
                 '\s+', ' ', 'g')) AS n
        FROM dirty)
      SELECT doc_id, md5(n) AS norm_md5, CAST(length(n) AS INT) AS n_chars
      FROM norm ORDER BY doc_id""")),

    Entry("text_token_chunks", (s, dir) => {
      // token-window chunking with overlap (size 40, stride 30) — the
      // token-budgeted alternative to the reference's character splitter
      // (TextSplit M1): embedding models bound INPUT TOKENS, so chunk
      // boundaries should fall on token counts, not characters. Pure
      // catalyst HOFs: split → windowed slices via transform(sequence) →
      // posexplode; short docs yield their single whole-text chunk.
      val toks = split(trim(col("text")), "\\s+")
      val n = lit(40); val stride = lit(30)
      val nChunks = greatest(lit(1),
        ceil((size(toks) - n).cast("double") / stride.cast("double"))
          .cast("int") + 1)
      T(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), nChunks - 1),
            i => array_join(slice(toks, i * stride + 1, n), " "))))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("chunk_idx"),
          md5(col("col")).as("chunk_md5"),
          size(split(col("col"), "\\s+")).cast("int").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some("""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                 FROM documents),
      nc AS (SELECT doc_id, toks,
                    greatest(1, CAST(ceil((len(toks) - 40) / 30.0) AS INT) + 1)
                      AS n_chunks
             FROM t),
      ix AS (SELECT doc_id, toks,
                    unnest(generate_series(0, n_chunks - 1)) AS i
             FROM nc),
      ch AS (SELECT doc_id, i + 1 AS chunk_idx,
                    array_to_string(toks[i*30+1 : i*30+40], ' ') AS chunk
             FROM ix)
      SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             md5(chunk) AS chunk_md5,
             CAST(len(string_split_regex(chunk, '\s+')) AS INT)
               AS n_tokens
      FROM ch ORDER BY doc_id, chunk_idx""")),

    Entry("text_readability", (s, dir) => {
      // Flesch reading ease — the classic fluency gate (very low =
      // word salad/legalese, implausibly high = fragment spam):
      // 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
      // over exact integer counts (regex words, vowel-group syllables
      // with a 1-per-word floor, [.!?]-run sentences with a 1 floor).
      // Sentence variety is injected by doc_id so the denominator is
      // load-bearing; the float formula is written in ONE fixed order
      // on both engines and rounded per the repo convention.
      import graft.functions.TextAnalysis
      val t = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(". Short tail! Done?"))
          .when(col("doc_id") % 3 === 1, lit(". One more sentence here."))
          .otherwise(lit("")))
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.sentenceCount(t).as("n_sentences"),
          TextAnalysis.syllableCount(t).as("n_syllables"),
          round(TextAnalysis.fleschReadingEase(t), 4).as("flesch"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (
        SELECT doc_id, text ||
          CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN '. Short tail! Done?'
            WHEN 1 THEN '. One more sentence here.'
            ELSE '' END AS t
        FROM documents),
      c AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(lower(t), '[a-z]+')) AS DOUBLE)
            AS w,
          CAST(greatest(1, len(list_filter(string_split_regex(t, '[.!?]+'),
            s -> length(trim(s)) > 0))) AS BIGINT) AS n_sentences,
          CAST(coalesce(list_sum(list_transform(regexp_extract_all(
            lower(t), '[a-z]+'), wd -> greatest(1,
              len(regexp_extract_all(wd, '[aeiouy]+'))))), 0) AS BIGINT)
            AS n_syllables
        FROM t)
      SELECT doc_id, n_sentences, n_syllables,
             CASE WHEN w > 0 THEN round(206.835 -
               1.015 * (w / CAST(n_sentences AS DOUBLE)) -
               84.6 * (CAST(n_syllables AS DOUBLE) / w), 4) END AS flesch
      FROM c ORDER BY doc_id""")),

    Entry("text_url_normalize", (s, dir) => {
      // URL canonicalization + registered-domain extraction — the key
      // preparation for every URL-keyed stage of a crawl corpus (exact
      // url dedup, per-domain caps): two spellings of one page must
      // collapse BEFORE content hashing. Messy urls are synthesized
      // deterministically by doc_id (uppercase hosts, default ports,
      // fragments, tracking params, schemeless strays, second-level
      // ccTLDs); the oracle replays the IDENTICAL RE2-safe expression
      // chain, so the row checks cross-engine regex parity — which for
      // a canonicalizer is the semantics. Pure codegen, zero shuffle.
      import graft.functions.UrlOps
      val id = col("doc_id").cast("string")
      val url = when(col("doc_id") % 5 === 0,
          concat(lit("HTTP://WWW.Example.COM:80/Path/"), id,
            lit("?utm_source=x&id="), id, lit("#frag")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("https://News.Example.CO.UK:443/a/"), id,
            lit("?gclid=zz")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("https://blog.example.com/p?id="), id,
            lit("&utm_medium=m&x=2")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("example.org/raw/"), id))
        .otherwise(lit("https://Shop.Example.com.au/"))
      val norm = UrlOps.normalizeUrl(url)
      T(s, dir, "documents")
        .select(col("doc_id"), norm.as("url_norm"),
          UrlOps.hostOf(norm).as("host"))
        .withColumn("domain", UrlOps.registeredDomain(col("host")))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH u AS (
        SELECT doc_id,
          CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Path/' || doc_id ||
                        '?utm_source=x&id=' || doc_id || '#frag'
            WHEN 1 THEN 'https://News.Example.CO.UK:443/a/' || doc_id ||
                        '?gclid=zz'
            WHEN 2 THEN 'https://blog.example.com/p?id=' || doc_id ||
                        '&utm_medium=m&x=2'
            WHEN 3 THEN 'example.org/raw/' || doc_id
            ELSE 'https://Shop.Example.com.au/' END AS url
        FROM documents),
      lo AS (
        SELECT doc_id,
               regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS head, url
        FROM u),
      n0 AS (
        SELECT doc_id, lower(head) ||
               (CASE WHEN length(head) > 0
                     THEN substr(url, length(head) + 1) ELSE url END) AS t
        FROM lo),
      n1 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
               '#.*$$', ''),
               '^(http://[^/:?#]*):80(/|\\?|$$)', '\\1\\2'),
               '^(https://[^/:?#]*):443(/|\\?|$$)', '\\1\\2') AS t
             FROM n0),
      n2 AS (SELECT doc_id, regexp_replace(t,
               '([?&])(?:utm_[a-zA-Z0-9_]+|fbclid|gclid|msclkid|mc_eid)=[^&#]*',
               '\\1', 'g') AS t FROM n1),
      n3 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(t, '\\?&+', '?', 'g'), '&&+', '&', 'g'),
               '[?&]+$$', ''), '^(https?://[^/?#]+)/$$', '\\1') AS url_norm
             FROM n2),
      h AS (SELECT doc_id, url_norm,
                   regexp_extract(lower(url_norm),
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]*)',
                     1) AS host
            FROM n3),
      d AS (SELECT doc_id, url_norm, host,
                   string_split(host, '.') AS ls, len(string_split(host, '.')) AS n
            FROM h)
      SELECT doc_id, url_norm, host,
             CASE WHEN n >= 3 AND (ls[-2] || '.' || ls[-1]) IN
                    (${graft.functions.UrlOps.secondLevelSuffixes
                      .map("'" + _ + "'").mkString(",")})
                  THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                  WHEN n >= 2 THEN ls[-2] || '.' || ls[-1]
                  ELSE host END AS domain
      FROM d ORDER BY doc_id""")),

    Entry("text_domain_cap", (s, dir) => {
      // per-domain cap — the crawl-mixing guard against one hot site
      // dominating the corpus: canonicalize, key by registered domain,
      // keep exactly min(k, |domain|) docs per domain by md5(id) order
      // (the deterministic engine-portable draw sampleKPerStratum
      // already pins). One domain-keyed window shuffle.
      import graft.functions.UrlOps
      val id = col("doc_id").cast("string")
      val url = when(col("doc_id") % 5 === 0,
          concat(lit("HTTP://WWW.Example.COM:80/Path/"), id))
        .when(col("doc_id") % 5 === 1,
          concat(lit("https://News.Example.CO.UK/a/"), id))
        .when(col("doc_id") % 5 === 2,
          concat(lit("https://blog.example.com/p?id="), id))
        .when(col("doc_id") % 5 === 3,
          concat(lit("https://docs.example.org/raw/"), id))
        .otherwise(lit("https://Shop.Example.com.au/"))
      val keyed = T(s, dir, "documents")
        .select(col("doc_id"), UrlOps.registeredDomain(
          UrlOps.hostOf(UrlOps.normalizeUrl(url))).as("domain"))
      graft.pipeline.CurationPipeline
        .sampleKPerStratum(keyed, "domain", "doc_id", k = 3)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH u AS (
        SELECT doc_id, lower(
          CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN 'WWW.Example.COM'
            WHEN 1 THEN 'News.Example.CO.UK'
            WHEN 2 THEN 'blog.example.com'
            WHEN 3 THEN 'docs.example.org'
            ELSE 'Shop.Example.com.au' END) AS host
        FROM documents),
      d AS (SELECT doc_id, host, string_split(host, '.') AS ls,
                   len(string_split(host, '.')) AS n
            FROM u),
      dom AS (SELECT doc_id,
               CASE WHEN n >= 3 AND (ls[-2] || '.' || ls[-1]) IN
                      (${graft.functions.UrlOps.secondLevelSuffixes
                        .map("'" + _ + "'").mkString(",")})
                    THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                    WHEN n >= 2 THEN ls[-2] || '.' || ls[-1]
                    ELSE host END AS domain
              FROM d),
      r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
            FROM dom)
      SELECT doc_id, domain FROM r WHERE rn <= 3 ORDER BY doc_id""")),

    Entry("text_domain_psl", (s, dir) => {
      // registered domain via the FULL Public Suffix List algorithm
      // (publicsuffix.org), as a joinable rule table instead of the
      // bounded second-level heuristic: among matching rules any
      // exception prevails, else most labels; public suffix = rule
      // labels (minus one for an exception), default 1; registered =
      // suffix + one label, whole host when the host IS a suffix.
      // Hosts exercise every branch: plain TLD, second-level ccTLD,
      // the classic *.ck wildcard and !www.ck exception, an unlisted
      // TLD (default rule), a bare suffix, and a deep subdomain. The
      // oracle replays the candidate-explode + prevailing-rule law
      // over the same interpolated rule VALUES. Scale shape: distinct
      // hosts → candidate explode → broadcast hash join vs the ~10 k
      // rule table → host-keyed partial-agg max — no per-URL window.
      import graft.functions.UrlOps
      import s.implicits._
      val k = (col("doc_id") % 40).cast("string")
      val host = when(col("doc_id") % 7 === 0,
          concat(lit("a.site"), k, lit(".com")))
        .when(col("doc_id") % 7 === 1, concat(lit("b.news"), k, lit(".co.uk")))
        .when(col("doc_id") % 7 === 2, concat(lit("c"), k, lit(".www.ck")))
        .when(col("doc_id") % 7 === 3, concat(lit("d.shop"), k, lit(".ck")))
        .when(col("doc_id") % 7 === 4,
          concat(lit("e.zone"), k, lit(".unknowntld")))
        .when(col("doc_id") % 7 === 5, lit("co.uk"))
        .otherwise(concat(lit("x"), k, lit(".blog.example.org")))
      val psl = UrlOps.parsePsl(UrlOps.pslSample.toDF("line"))
      UrlOps.registeredDomainPsl(
          T(s, dir, "documents").select(col("doc_id"), host.as("host")),
          psl)
        .select(col("doc_id"), col("host"),
          col("registered_domain").as("domain"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH u AS (
        SELECT doc_id,
          CASE CAST(doc_id % 7 AS INT)
            WHEN 0 THEN 'a.site' || (doc_id % 40) || '.com'
            WHEN 1 THEN 'b.news' || (doc_id % 40) || '.co.uk'
            WHEN 2 THEN 'c' || (doc_id % 40) || '.www.ck'
            WHEN 3 THEN 'd.shop' || (doc_id % 40) || '.ck'
            WHEN 4 THEN 'e.zone' || (doc_id % 40) || '.unknowntld'
            WHEN 5 THEN 'co.uk'
            ELSE 'x' || (doc_id % 40) || '.blog.example.org' END AS host
        FROM documents),
      psl(suffix, rule_labels, is_wildcard, is_exception) AS (VALUES
        ${graft.functions.UrlOps.pslSampleRules.map { case (sx, nl, w, e) =>
          s"('$sx', $nl, $w, $e)" }.mkString(",\n        ")}),
      d AS (SELECT doc_id, host, string_split(host, '.') AS ls,
                   len(string_split(host, '.')) AS L
            FROM u),
      c0 AS (SELECT doc_id, host, L, ls,
                    unnest(generate_series(1, L)) AS i
             FROM d),
      cand AS (SELECT doc_id,
                      array_to_string(ls[L-i+1:L], '.') AS cand,
                      CASE WHEN i >= 2
                           THEN array_to_string(ls[L-i+2:L], '.')
                           ELSE '' END AS tail
               FROM c0),
      m AS (SELECT c.doc_id, p.is_exception, p.rule_labels
            FROM cand c JOIN psl p
              ON (NOT p.is_wildcard AND p.suffix = c.cand)
              OR (p.is_wildcard AND c.tail <> '' AND p.suffix = c.tail)),
      agg AS (SELECT doc_id,
                     max(CASE WHEN is_exception THEN 1 ELSE 0 END)
                       AS any_exc,
                     max(CASE WHEN is_exception THEN rule_labels END)
                       AS exc_rl,
                     max(rule_labels) AS max_rl
              FROM m GROUP BY doc_id),
      ps AS (SELECT d.doc_id, d.host, d.L, d.ls,
                    coalesce(CASE WHEN a.any_exc = 1 THEN a.exc_rl - 1
                                  ELSE a.max_rl END, 1) AS ps
             FROM d LEFT JOIN agg a USING (doc_id))
      SELECT doc_id, host,
             CASE WHEN L <= ps THEN host
                  ELSE array_to_string(ls[L-ps:L], '.') END AS domain
      FROM ps ORDER BY doc_id""")),

    Entry("text_html_extract", (s, dir) => {
      // HTML → visible text (the step between the WARC fetch and every
      // text gate): script/style/comments dropped, block tags become
      // newlines (paragraph structure survives), remaining tags vanish,
      // the six high-frequency entities decode ('&amp;' last), then
      // whitespace collapses. HTML is synthesized deterministically
      // around each document's text; the oracle replays the IDENTICAL
      // RE2-safe chain — cross-engine regex parity IS the extractor's
      // semantics. Pure codegen, zero shuffle.
      import graft.functions.TextExtraction
      val html = concat(
        lit("<html><head><title>T</title><script type=\"text/javascript\">" +
          "var x = 1 < 2;</script><style>p { color: red }</style></head>" +
          "<body><h1>Doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><div class=\"nav\"><a href=\"/home\">home page</a> " +
          "<a href=\"/next\">next doc link text here</a> now</div>" +
          "<!-- hidden --><p>Tail &amp; more &lt;escaped&gt;&nbsp;end</p>" +
          "</body></html>"))
      val clean = TextExtraction.stripHtml(html)
      T(s, dir, "documents")
        .select(col("doc_id"), md5(clean).as("clean_md5"),
          length(clean).cast("int").as("n_chars"),
          (size(split(clean, "\n")) ).cast("int").as("n_lines"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH h AS (
        SELECT doc_id,
          '<html><head><title>T</title><script type="text/javascript">' ||
          'var x = 1 < 2;</script><style>p { color: red }</style></head>' ||
          '<body><h1>Doc ' || doc_id || '</h1><p>' || text ||
          '</p><div class="nav"><a href="/home">home page</a> ' ||
          '<a href="/next">next doc link text here</a> now</div>' ||
          '<!-- hidden --><p>Tail &amp; more &lt;escaped&gt;&nbsp;end</p>' ||
          '</body></html>' AS html
        FROM documents),
      d AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
              html, '(?is)<script[^>]*>.*?</script>', '', 'g'),
              '(?is)<style[^>]*>.*?</style>', '', 'g'),
              '(?s)<!--.*?-->', '', 'g') AS t
            FROM h),
      b AS (SELECT doc_id, regexp_replace(t,
              '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|table|section|article|header|footer|blockquote)\b[^>]*>',
              chr(10), 'g') AS t FROM d),
      nt AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', '', 'g') AS t FROM b),
      e AS (SELECT doc_id,
              replace(replace(replace(replace(replace(replace(t,
                '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''),
                '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS t
            FROM nt),
      c AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
              regexp_replace(t,
                '[ \t\r]+', ' ', 'g'), ' ?\n[ \n]*', chr(10), 'g'),
              '^\n+|\n+$', '', 'g')) AS t
            FROM e)
      SELECT doc_id, md5(t) AS clean_md5, CAST(length(t) AS INT) AS n_chars,
             CAST(len(string_split(t, chr(10))) AS INT) AS n_lines
      FROM c ORDER BY doc_id""")),

    Entry("text_html_blocks", (s, dir) => {
      // jusText-style block classification: split the (machinery-free)
      // HTML into block-element segments, and per non-empty block
      // compute word count + LINK DENSITY (visible chars inside
      // <a>…</a> over the block's visible chars — the load-bearing
      // boilerplate heuristic: navigation is link-dominated, prose is
      // not). verdict = content iff >= 5 words and <= 333‰ link chars.
      // Link share is emitted as integer permille (counts divide
      // IEEE-exactly; no float in the hashed surface). The nav div
      // classifies boilerplate, the document paragraph content.
      import graft.functions.TextExtraction
      val html = concat(
        lit("<html><head><title>T</title><script type=\"text/javascript\">" +
          "var x = 1 < 2;</script><style>p { color: red }</style></head>" +
          "<body><h1>Doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><div class=\"nav\"><a href=\"/home\">home page</a> " +
          "<a href=\"/next\">next doc link text here</a> now</div>" +
          "<!-- hidden --><p>Tail &amp; more &lt;escaped&gt;&nbsp;end</p>" +
          "</body></html>"))
      val permille = (round(TextExtraction.linkDensity(col("seg")) *
        1000, 0)).cast("int")
      T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextExtraction.htmlBlockSplit(html)))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("block_idx"),
          TextExtraction.blockText(col("col")).as("txt"),
          col("col").as("seg"))
        .filter(length(col("txt")) > 0)
        .select(col("doc_id"), col("block_idx"),
          size(split(col("txt"), " ")).cast("int").as("n_words"),
          permille.as("link_permille"))
        .withColumn("verdict",
          when(col("n_words") >= 5 && col("link_permille") <= 333,
            lit("content")).otherwise(lit("boilerplate")))
        .orderBy(col("doc_id"), col("block_idx"))
    }, Some("""
      WITH h AS (
        SELECT doc_id,
          '<html><head><title>T</title><script type="text/javascript">' ||
          'var x = 1 < 2;</script><style>p { color: red }</style></head>' ||
          '<body><h1>Doc ' || doc_id || '</h1><p>' || text ||
          '</p><div class="nav"><a href="/home">home page</a> ' ||
          '<a href="/next">next doc link text here</a> now</div>' ||
          '<!-- hidden --><p>Tail &amp; more &lt;escaped&gt;&nbsp;end</p>' ||
          '</body></html>' AS html
        FROM documents),
      d AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
              html, '(?is)<script[^>]*>.*?</script>', '', 'g'),
              '(?is)<style[^>]*>.*?</style>', '', 'g'),
              '(?s)<!--.*?-->', '', 'g') AS t
            FROM h),
      segs AS (SELECT doc_id, string_split_regex(t,
                 '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|table|section|article|header|footer|blockquote)\b[^>]*>')
                 AS ls
               FROM d),
      sr AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls
             FROM segs),
      seg AS (SELECT doc_id, i AS block_idx, ls[i] AS seg FROM sr),
      si AS (SELECT doc_id, block_idx, seg,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(seg, '<[^>]*>', '', 'g'),
                   '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''),
                   '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
                 '\s+', ' ', 'g')) AS txt
             FROM seg),
      an AS (SELECT doc_id, block_idx,
               unnest(regexp_extract_all(seg, '(?is)<a\b[^>]*>(.*?)</a>', 1))
                 AS a
             FROM si),
      an2 AS (SELECT doc_id, block_idx,
                length(trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(
                    regexp_replace(a, '<[^>]*>', '', 'g'),
                    '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''),
                    '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
                  '\s+', ' ', 'g'))) AS lc
              FROM an),
      asum AS (SELECT doc_id, block_idx, sum(lc) AS lc FROM an2
               GROUP BY doc_id, block_idx),
      f AS (SELECT si.doc_id, si.block_idx,
                   len(string_split(si.txt, ' ')) AS n_words,
                   -- same float ORDER as the engine: (lc/total)*1000,
                   -- then one round — a reassociated lc*1000/total can
                   -- differ in the last ulp at the .5 boundary
                   CAST(round((CAST(COALESCE(asum.lc, 0) AS DOUBLE) /
                     length(si.txt)) * 1000.0) AS INT) AS link_permille
            FROM si LEFT JOIN asum
              ON asum.doc_id = si.doc_id AND asum.block_idx = si.block_idx
            WHERE length(si.txt) > 0)
      SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
             CAST(n_words AS INT) AS n_words, link_permille,
             CASE WHEN n_words >= 5 AND link_permille <= 333
                  THEN 'content' ELSE 'boilerplate' END AS verdict
      FROM f ORDER BY doc_id, block_idx""")),

    Entry("text_warc_roundtrip", (s, dir) => {
      // WARC (ISO 28500) shard round-trip — CommonCrawl's container,
      // i.e. the INGEST format of a web-scale corpus: documents become
      // HTTP response records inside multi-member-gzip shards (one
      // gzip member per record, the CommonCrawl layout that makes
      // shards splittable at record granularity via a member index),
      // one shard per partition with zero shuffle, then parse back to
      // (uri, status, body). The oracle replays the identity law —
      // bodies, byte lengths and uris must survive the framing exactly;
      // warcinfo records drop in the read projection. Independent-
      // parser cross-validation and truncation/garbage policy are
      // WarcSpec territory.
      import graft.io.Warc
      val docs = T(s, dir, "documents")
        .select(concat(lit("https://example.org/doc/"),
          col("doc_id").cast("string")).as("url"), col("text"))
        .repartition(4)
      Warc.fromShards(Warc.toShards(docs))
        .select(col("target_uri"), col("http_status"),
          md5(col("body_text")).as("body_md5"),
          col("n_bytes"))
        .orderBy(col("target_uri"))
    }, Some("""
      SELECT 'https://example.org/doc/' || doc_id AS target_uri,
             CAST(200 AS INT) AS http_status,
             md5(text) AS body_md5,
             CAST(strlen(text) AS BIGINT) AS n_bytes
      FROM documents ORDER BY target_uri"""))
  )

  val multimodal: Seq[Entry] = Seq(

    Entry("mm_metadata", (s, dir) => {
      // multimodal plumbing: opaque binary payload + typed metadata;
      // metadata-only queries never touch the binary column (columnar
      // pruning). Flattened for the oracle.
      val media = Multimodal.asMedia(T(s, dir, "documents"),
        "doc_id", "text", "image", "source")
      media.select(col("media_id"), col("media_type"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.content_hash").as("content_hash"),
          col("meta.source").as("source"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id, 'image' AS media_type,
             CAST(strlen(text) AS BIGINT) AS n_bytes,
             md5(text) AS content_hash, source
      FROM documents ORDER BY media_id""")),

    Entry("mm_webdataset_roundtrip", (s, dir) => {
      // WebDataset tar sharding round-trip: media rows → one ustar
      // shard per partition (keyed .bin + .json members, the
      // multimodal-training container) → parsed back; every payload
      // byte and id must survive, so n_bytes + md5 re-derived FROM the
      // re-read content hash-match the SQL oracle. A writer that pads
      // wrong, a checksum misplaced, or a reader that mis-walks a
      // header cannot round-trip.
      import graft.io.WebDataset
      val media = Multimodal.asMedia(T(s, dir, "documents"),
        "doc_id", "text", "image", "source")
      val back = WebDataset.fromShards(WebDataset.toShards(media))
      back.select(col("media_id"),
          length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("content_hash"),
          get_json_object(col("meta_json"), "$.source").as("source"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
             md5(text) AS content_hash, source
      FROM documents ORDER BY media_id""")),

    Entry("mm_tfrecord_roundtrip", (s, dir) => {
      // TFRecord sharding round-trip: media rows → one CRC32C-framed
      // shard of hand-encoded tf.Example records per partition (the
      // TF/JAX training container) → parsed back. Every payload byte,
      // id and source must survive the frame + proto encode/decode, so
      // n_bytes + md5 re-derived FROM the re-read content hash-match
      // the SQL oracle; a wrong CRC mask, a varint off-by-one, or a
      // mis-walked length field cannot round-trip.
      import graft.io.TfRecord
      val media = Multimodal.asMedia(T(s, dir, "documents"),
        "doc_id", "text", "image", "source")
      TfRecord.fromShards(TfRecord.toShards(media))
        .select(col("media_id"),
          length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("content_hash"), col("source"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
             md5(text) AS content_hash, source
      FROM documents ORDER BY media_id""")),

    Entry("mm_arrow_roundtrip", (s, dir) => {
      // Arrow IPC (Feather v2) sharding round-trip: media rows → one
      // columnar ARROW1 file per partition (the HuggingFace-datasets /
      // pyarrow interchange container) → decoded back batch by batch.
      // Hash-checked like the tar/TFRecord/Avro containers: n_bytes +
      // md5 re-derived FROM the re-read bytes must match the source
      // table, so offset-buffer or validity-bitmap corruption in either
      // direction cannot round-trip.
      import graft.io.ArrowIpc
      val media = Multimodal.asMedia(T(s, dir, "documents"),
        "doc_id", "text", "image", "source")
      ArrowIpc.fromShards(ArrowIpc.toShards(media))
        .select(col("media_id"),
          length(col("content")).cast("long").as("n_bytes"),
          md5(col("content")).as("content_hash"), col("source"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
             md5(text) AS content_hash, source
      FROM documents ORDER BY media_id""")),

    Entry("mm_frame_sample", (s, dir) => {
      // frame-sampling stub: 3 deterministic frame rows per video.
      val media = Multimodal.asMedia(T(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", "video", "source")
      Multimodal.sampleFrames(media, 3)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_hash"))
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some("""
      SELECT doc_id AS media_id, g.i AS frame_idx,
             md5(md5(text) || CAST(g.i AS VARCHAR)) AS frame_hash
      FROM documents, generate_series(0, 2, 1) AS g(i)
      WHERE doc_id < 50 ORDER BY media_id, frame_idx""")),

    Entry("mm_resize", (s, dir) => {
      // resize stage: fixed target dims + deterministic resized-content
      // hash, metadata-only (binary column pruned from the scan).
      val media = Multimodal.asMedia(T(s, dir, "documents"),
        "doc_id", "text", "image", "source")
      Multimodal.withResized(media, 224, 224)
        .select(col("media_id"), col("resized_width"), col("resized_height"),
          col("resized_hash"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id, 224 AS resized_width, 224 AS resized_height,
             md5(md5(text) || ':224x224') AS resized_hash
      FROM documents ORDER BY media_id"""), bench = false),

    Entry("mm_decode_features", (s, dir) => {
      // REAL decode: synthesize PNGs whose dims derive arithmetically from
      // doc_id, then javax.imageio-decode them in the batched map. The
      // oracle recomputes the dims without decoding — a broken decode
      // returns 0×0 and hash-mismatches. Feature VALUES (float luminance
      // means) are asserted in MultimodalSpec; only the dim is oracled.
      val media = Multimodal.withSyntheticImages(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withDecodedFeatures(media)
        .select(col("media_id"), col("width"), col("height"),
          size(col("features")).as("feature_dim"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
             CAST(8 + doc_id % 9 AS INT) AS width,
             CAST(8 + (doc_id // 9) % 9 AS INT) AS height,
             8 AS feature_dim
      FROM documents WHERE doc_id < 100 ORDER BY media_id""")),

    Entry("mm_resize_real", (s, dir) => {
      // REAL resize: synthetic PNGs (dims arithmetic in doc_id) pushed
      // through decode → Graphics2D bilinear scale → PNG re-encode in the
      // batched partition map; the emitted dims are RE-DECODED from the
      // resized payload, so a broken codec yields 0×0 and hash-mismatches.
      // Pixel statistics (luminance preservation) are asserted in
      // MultimodalSpec; the oracle checks the decode-backed dims.
      val media = Multimodal.withSyntheticImages(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withResizedContent(media, 16, 12)
        .select(col("media_id"), col("resized_width"), col("resized_height"),
          (length(col("resized_content")) > 0).as("has_payload"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id, CAST(16 AS INT) AS resized_width,
             CAST(12 AS INT) AS resized_height, TRUE AS has_payload
      FROM documents WHERE doc_id < 100 ORDER BY media_id""")),

    Entry("mm_image_dhash", (s, dir) => {
      // perceptual near-dup hash through the REAL decode+resize path:
      // gradient harness images have analytically-known dHashes (all-1s
      // ascending, all-0s descending), so the oracle states the expected
      // 16-hex constant per parity without decoding — any break in
      // decode, bilinear resize, or the bit loop hash-mismatches.
      val media = Multimodal.withGradientImages(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withImageDHash(media)
        .select(col("media_id"), col("dhash"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'ffffffffffffffff'
                  ELSE '0000000000000000' END AS dhash
      FROM documents WHERE doc_id < 100 ORDER BY media_id""")),

    Entry("mm_image_neardup_clusters", (s, dir) => {
      // cross-modality composition: the REAL decode+resize dHash feeds
      // the dedup family's clustering — visually-identical images
      // (equal perceptual hash) become duplicate pairs, connected
      // components label the groups, min-id canonical (the dedup_clusters
      // convention). Gradient harness: parity decides the hash, so the
      // oracle is the parity partition — each image clusters with the
      // lowest id of its parity class.
      val media = Multimodal.withGradientImages(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      val hashed = Multimodal.withImageDHash(media)
        .select(col("media_id").as("id"), col("dhash"))
      val w = Window.partitionBy(col("dhash"))
      val pairs = hashed
        .withColumn("id_a", min(col("id")).over(w))
        .filter(col("id_a") =!= col("id"))
        .select(col("id_a"), col("id").as("id_b"))
      Dedup.connectedComponents(pairs)
        .orderBy(col("id"))
    }, Some("""
      SELECT doc_id AS id,
             CAST(doc_id % 2 AS BIGINT) AS comp
      FROM documents WHERE doc_id < 100 ORDER BY id"""), bench = false),

    Entry("mm_frame_decode", (s, dir) => {
      // REAL video demux: multi-frame GIFs built from arithmetic laws
      // (dims = f(doc_id), frame count = 2 + doc_id % 3, frame k a
      // constant gray (doc_id·31 + k·53) mod 256), demuxed with
      // javax.imageio's sequence API in the batched partition map. A
      // constant-gray frame survives GIF palette quantization exactly and
      // its Rec.601 mean luminance IS the gray value, so the oracle
      // recomputes frame count, dims, and luminance without touching GIF
      // bytes — a broken demux drops rows or shifts luminance and
      // hash-mismatches. sampleFrames remains the stub for non-JDK
      // containers (MP4/WebM); this is the decode-backed path.
      val media = Multimodal.withSyntheticVideos(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withVideoFrames(media)
        .select(col("media_id"), col("frame_idx"),
          col("frame_width"), col("frame_height"),
          round(col("mean_lum"), 6).as("mean_lum"))
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some("""
      WITH f AS (SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS i
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
             CAST(8 + doc_id % 5 AS INT) AS frame_width,
             CAST(8 + (doc_id // 5) % 5 AS INT) AS frame_height,
             round(CAST((doc_id * 31 + i * 53) % 256 AS DOUBLE), 6) AS mean_lum
      FROM f ORDER BY media_id, frame_idx""")),

    Entry("mm_audio_dominant_freq", (s, dir) => {
      // REAL spectral analysis: WAV decode + radix-2 FFT, dominant
      // non-DC bin per payload. The synthetic tones sit at EXACT FFT
      // bins (zero spectral leakage), so the oracle is the bin law as
      // plain arithmetic — a broken FFT, a wrong window, or a decode
      // failure argmaxes elsewhere and hash-mismatches. peak_hz =
      // bin·8000/1024 is exactly representable, hence hash-stable.
      val media = Multimodal.withSyntheticTones(
        T(s, dir, "documents").filter(col("doc_id") < 200), "doc_id", "source")
      Multimodal.withDominantFreq(media)
        .select(col("media_id"), col("peak_bin"), col("peak_hz"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
             CAST(3 + doc_id % 40 AS INT) AS peak_bin,
             CAST((3 + doc_id % 40) * 8000 AS DOUBLE) / 1024 AS peak_hz
      FROM documents WHERE doc_id < 200 ORDER BY media_id""")),

    Entry("mm_audio_fingerprint", (s, dir) => {
      // acoustic-fingerprint dedup over REAL decode + per-window FFT:
      // the ordered dominant-bin sequence is the landmark signature;
      // audios sharing it group with one equi-shuffle, no waveform
      // comparison. The tone law (window w of id at exact bin
      // 3 + (id%5+w) % 40, 3 + id%2 windows) makes every bin — and
      // hence every signature and group — plain oracle arithmetic; a
      // broken per-window FFT or a window-boundary off-by-one lands in
      // another group and hash-mismatches.
      val media = Multimodal.withToneSequenceAudio(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      val sigs = Multimodal.withAudioWindowBins(media)
        .groupBy(col("media_id"))
        .agg(md5(concat_ws(",", transform(
          array_sort(collect_list(struct(col("window_idx"), col("bin")))),
          s => s("bin").cast("string")))).as("sig"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
      sigs.select(col("media_id"), col("sig"),
          min(col("media_id")).over(w).as("keep_id"),
          count(lit(1)).over(w).as("n_members"))
        .orderBy(col("media_id"))
    }, Some("""
      WITH w AS (SELECT doc_id, unnest(range(0, 3 + doc_id % 2)) AS w
                 FROM documents WHERE doc_id < 100),
      b AS (SELECT doc_id, w,
                   CAST(3 + (doc_id % 5 + w) % 40 AS VARCHAR) AS bin
            FROM w),
      sigs AS (SELECT doc_id, md5(string_agg(bin, ',' ORDER BY w)) AS sig
               FROM b GROUP BY doc_id)
      SELECT doc_id AS media_id, sig,
             min(doc_id) OVER (PARTITION BY sig) AS keep_id,
             count(*) OVER (PARTITION BY sig) AS n_members
      FROM sigs ORDER BY media_id""")),

    Entry("mm_avi_frame_decode", (s, dir) => {
      // REAL MJPEG-AVI demux end-to-end: RIFF chunk walk + per-frame
      // JPEG decode through the magic-byte AutoVideoDemux dispatch.
      // Frame k of video id is (videoWidth(id)+k) × videoHeight(id) —
      // per-frame dims are legal in MJPEG and pin FRAME ORDER with
      // integer-exact values (JPEG luminance is only quantization-close,
      // so it stays out of the hash; MultimodalSpec bounds it). A
      // broken walk (reversed 'rec ' groups, wrong chunk bounds) drops
      // rows or mismatches widths.
      val media = Multimodal.withSyntheticAviVideos(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withVideoFrames(media)
        .select(col("media_id"), col("frame_idx"),
          col("frame_width"), col("frame_height"))
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some("""
      WITH f AS (SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS i
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
             CAST(8 + doc_id % 5 + i AS INT) AS frame_width,
             CAST(8 + (doc_id // 5) % 5 AS INT) AS frame_height
      FROM f ORDER BY media_id, frame_idx""")),

    Entry("mm_mp4_frame_decode", (s, dir) => {
      // REAL MP4 (ISO-BMFF) demux end-to-end: box walk + sample-table
      // reconstruction (stsz sizes × stsc runs × stco chunk offsets)
      // + per-sample JPEG decode, through the magic-byte AutoVideoDemux
      // dispatch. Same frame laws as mm_avi_frame_decode — frame k of
      // video id is (videoWidth(id)+k) × videoHeight(id) — so the same
      // oracle arithmetic pins frame ORDER and dims for the third
      // container; a walk that misreads a table decodes wrong-sized,
      // missing, or misordered frames and cannot hash-match.
      val media = Multimodal.withSyntheticMp4Videos(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withVideoFrames(media)
        .select(col("media_id"), col("frame_idx"),
          col("frame_width"), col("frame_height"))
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some("""
      WITH f AS (SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS i
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
             CAST(8 + doc_id % 5 + i AS INT) AS frame_width,
             CAST(8 + (doc_id // 5) % 5 AS INT) AS frame_height
      FROM f ORDER BY media_id, frame_idx""")),

    Entry("mm_mkv_frame_decode", (s, dir) => {
      // REAL Matroska/WebM demux end-to-end: EBML walk + Xiph-lace
      // reconstruction + per-frame JPEG decode, through the magic-byte
      // AutoVideoDemux dispatch. Same frame laws as mm_avi_frame_decode
      // — frame k of video id is (videoWidth(id)+k) × videoHeight(id) —
      // so the same oracle arithmetic pins frame ORDER and dims for the
      // fourth container; a walk that misreads an EBML size or a lace
      // boundary decodes wrong-sized, missing, or misordered frames and
      // cannot hash-match.
      val media = Multimodal.withSyntheticMkvVideos(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withVideoFrames(media)
        .select(col("media_id"), col("frame_idx"),
          col("frame_width"), col("frame_height"))
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some("""
      WITH f AS (SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS i
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
             CAST(8 + doc_id % 5 + i AS INT) AS frame_width,
             CAST(8 + (doc_id // 5) % 5 AS INT) AS frame_height
      FROM f ORDER BY media_id, frame_idx""")),

    Entry("mm_exif_metadata", (s, dir) => {
      // REAL EXIF extraction: JPEG marker scan → APP1 → TIFF IFD walk
      // (both byte orders — even ids II, odd ids MM), Make/Model/
      // Orientation from IFD0, DateTimeOriginal through the Exif-IFD
      // pointer. Every field is an arithmetic law in the id, so the
      // oracle states them in SQL; a parser that misreads an endian,
      // an inline-vs-offset ASCII value, or the sub-IFD pointer
      // cannot hash-match.
      val media = Multimodal.withSyntheticExifImages(
        T(s, dir, "documents").filter(col("doc_id") < 200), "doc_id", "source")
      Multimodal.withExifMetadata(media)
        .select(col("media_id"), col("exif_make"), col("exif_model"),
          col("exif_orientation"), col("exif_datetime"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
             'maker' || CAST(doc_id % 5 AS VARCHAR) AS exif_make,
             'model' || CAST(doc_id % 7 AS VARCHAR) AS exif_model,
             CAST(1 + doc_id % 8 AS INT) AS exif_orientation,
             printf('2020:01:%02d 03:04:%02d', 1 + doc_id % 28, doc_id % 60)
               AS exif_datetime
      FROM documents WHERE doc_id < 200 ORDER BY media_id""")),

    Entry("mm_exif_orient_norm", (s, dir) => {
      // EXIF-driven orientation normalization end-to-end: metadata walk
      // → decode → exact pixel remap (8 EXIF cases) → re-encode, dims
      // RE-DECODED from the output payload. Orientations 5-8 transpose
      // the raster, so norm dims swap exactly when 1+id%8 >= 5 — the
      // oracle states the law; a transform that rotates the wrong way
      // or echoes input dims cannot hash-match (MultimodalSpec pins the
      // pixel-level quadrant semantics per case).
      val media = Multimodal.withSyntheticExifImages(
        T(s, dir, "documents").filter(col("doc_id") < 200), "doc_id", "source")
      Multimodal.withOrientationNormalized(media)
        .select(col("media_id"), col("applied_orientation"),
          col("norm_width"), col("norm_height"))
        .orderBy(col("media_id"))
    }, Some("""
      SELECT doc_id AS media_id,
             CAST(1 + doc_id % 8 AS INT) AS applied_orientation,
             CAST(CASE WHEN doc_id % 8 >= 4 THEN 8 + (doc_id // 9) % 9
                       ELSE 8 + doc_id % 9 END AS INT) AS norm_width,
             CAST(CASE WHEN doc_id % 8 >= 4 THEN 8 + doc_id % 9
                       ELSE 8 + (doc_id // 9) % 9 END AS INT) AS norm_height
      FROM documents WHERE doc_id < 200 ORDER BY media_id""")),

    Entry("mm_video_neardup", (s, dir) => {
      // video NEAR-dup via per-frame perceptual hashes: demux (real GIF),
      // dHash each frame, build a per-video signature over the ORDERED
      // frame-hash sequence, bucket videos on it — one equi-shuffle, no
      // pixel comparison (the video analog of image dHash bucketing).
      // Gradient frames make every per-frame hash an analytic constant
      // (ascending ramp → all-1s iff (id + k) even), so the oracle
      // rebuilds each signature from the parity law and recomputes the
      // same groups without decoding a single byte.
      val media = Multimodal.withGradientVideos(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      val sigs = Multimodal.withVideoFrameDHash(media)
        .groupBy(col("media_id"))
        .agg(md5(concat_ws(",", transform(
          array_sort(collect_list(struct(col("frame_idx"), col("frame_dhash")))),
          s => s("frame_dhash")))).as("sig"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
      sigs.select(col("media_id"), col("sig"),
          min(col("media_id")).over(w).as("keep_id"),
          count(lit(1)).over(w).as("n_members"))
        .orderBy(col("media_id"))
    }, Some("""
      WITH f AS (SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS k
                 FROM documents WHERE doc_id < 100),
      fh AS (SELECT doc_id, k,
                    CASE WHEN (doc_id + k) % 2 = 0 THEN repeat('f', 16)
                         ELSE repeat('0', 16) END AS h
             FROM f),
      sigs AS (SELECT doc_id, md5(string_agg(h, ',' ORDER BY k)) AS sig
               FROM fh GROUP BY doc_id)
      SELECT doc_id AS media_id, sig,
             min(doc_id) OVER (PARTITION BY sig) AS keep_id,
             count(*) OVER (PARTITION BY sig) AS n_members
      FROM sigs ORDER BY media_id""")),

    Entry("mm_scene_cut", (s, dir) => {
      // shot-boundary detection over REAL GIF decode: consecutive-frame
      // dHash Hamming distance (codegen'd conv/xor/bit_count halves),
      // cut at ≥16 bits. Shot videos hold the ramp direction for
      // 3-frame shots, so within-shot distance is exactly 0 and the
      // boundary distance exactly 64 — the oracle states every
      // transition from the k % 3 arithmetic law without decoding.
      val media = Multimodal.withShotVideos(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withVideoSceneCuts(media, threshold = 16)
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some("""
      WITH f AS (SELECT doc_id, unnest(range(1, 6 + doc_id % 3)) AS k
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id AS media_id, CAST(k AS INT) AS frame_idx,
             CAST(CASE WHEN k % 3 = 0 THEN 64 ELSE 0 END AS INT) AS dist,
             (k % 3 = 0) AS is_cut
      FROM f ORDER BY media_id, frame_idx""")),

    Entry("mm_audio_features", (s, dir) => {
      // REAL audio: WAVs built from the amplitude law (window k of doc id
      // holds constant sample (id·7919 + k·104729) mod 32768), decoded
      // with javax.sound.sampled in the batched map; per-window RMS of a
      // constant window is exactly amplitude/32768, so the oracle
      // recomputes every figure arithmetically without touching WAV
      // bytes — a broken encode or decode path cannot hash-match.
      val media = Multimodal.withSyntheticAudio(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "source")
      Multimodal.withAudioFeatures(media)
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          posexplode(col("rms_windows")).as(Seq("window_idx", "rms")))
        .select(col("media_id"), col("window_idx"), col("sample_rate"),
          col("n_samples"), round(col("rms"), 6).as("rms"))
        .orderBy(col("media_id"), col("window_idx"))
    }, Some("""
      SELECT doc_id AS media_id, CAST(g.i AS INT) AS window_idx,
             CAST(8000 AS INT) AS sample_rate, CAST(1024 AS INT) AS n_samples,
             round(((doc_id * 7919 + g.i * 104729) % 32768) / 32768.0, 6) AS rms
      FROM documents, generate_series(0, 3, 1) AS g(i)
      WHERE doc_id < 100 ORDER BY media_id, window_idx"""))
  )
}
