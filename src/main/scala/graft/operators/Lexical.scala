package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (sparse) retrieval — the BM25 half of a production RAG
  * stack and its fusion with the dense (vector) half. The reference
  * retrieves purely by vector similarity
  * (generate_personalized_commands.sh:377-384, k=3 cosine); hybrid
  * dense+sparse retrieval is the standard upgrade when exact terms
  * (product names, error codes) must outrank fuzzy semantic matches —
  * kept Spark-first: tokenization and stats are columnar aggregates,
  * the query-term match is the INVERTED-INDEX equi-join, and fusion is
  * a full-outer join of two bounded top-N frames.
  */
object Lexical {

  private val tokenPattern = "[a-z0-9]+" // the repo's tokenizer contract

  private def toks(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"),
      explode(regexp_extract_all(lower(text), lit(tokenPattern), lit(0)))
        .as("term"))

  /** Okapi BM25 top-k (Robertson & Walker SIGIR'94; the Lucene-default
    * `ln(1 + (N − df + 0.5)/(df + 0.5))` idf form, so scores are
    * non-negative): per query, the k corpus docs maximizing
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` over the
    * query's distinct terms.
    *
    * Plan shape — the inverted-index join, no pairwise scan:
    *  1. corpus postings (nid, term, tf) — one tokenize + groupBy
    *     shuffle, map-side combinable;
    *  2. doc lengths (nid, dl) and the 1-row avgdl + N frame — partial
    *     aggregates; `idf` joins ONTO the postings keyed by term
    *     (vocabulary-bounded side);
    *  3. query terms (qid, term) DISTINCT — BM25 scores each distinct
    *     query term once (standard bag-of-query simplification);
    *  4. ONE equi-join postings ⋈ query-terms on `term` (only docs
    *     sharing a term are ever scored — the posting-list walk), a
    *     (qid, nid) partial-agg sum, and a per-query window top-k.
    *
    * At 100 TB the only corpus-sized shuffles are the postings groupBy
    * and the term join; both key on `term` — salt hot stopword terms or
    * pre-filter them if the corpus is pathological. Scores are rounded
    * to 6 decimals (the cross-engine sum-order convention) and ties
    * break on nid, so the DuckDB oracle reproduces ranks exactly.
    * Eager: the call itself runs ONE job, the postings' local
    * checkpoint (on a cluster, executor loss then fails the query). */
  def bm25TopK(queries: DataFrame, corpus: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               qId: String = "doc_id", qText: String = "text",
               cId: String = "doc_id", cText: String = "text"): DataFrame = {
    require(k >= 1, s"invalid k=$k")
    // one row per corpus id (the mmrTopK duplicate policy): replayed
    // duplicate rows would otherwise double tf AND dl AND N while idf's
    // countDistinct stays at 1 — BM25's tf saturation makes that
    // nonlinearly wrong, not just scaled. Same-id rows are same-content
    // by the id contract, so any representative is right.
    val c = corpus.select(col(cId).as("__cid"), col(cText).as("__ctext"))
      .dropDuplicates("__cid")
    // the postings table feeds doc lengths, idf AND the query join —
    // materialize it once (localCheckpoint): inlined, the corpus
    // tokenize + groupBy (the one corpus-sized aggregate in this
    // operator) re-executed per reference, three times per query run.
    // dls deliberately stays lazy: it is one cheap aggregate over the
    // materialized postings, and a second barrier measured slower than
    // the recompute it saves.
    val postings = toks(c, col("__cid"), col("__ctext"))
      .groupBy(col("__id").as("nid"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dls = postings.groupBy(col("nid")).agg(sum(col("tf")).as("dl"))
    // corpus stats: one row (N docs, avg doc length) — always broadcast.
    // N counts ALL corpus docs (token-less ones included): df/N is a
    // corpus-fraction, and dropping empty docs would inflate idf. The
    // id set comes from a NARROW distinct over the raw corpus (same
    // rows as c's per-id dedup) so this pass prunes to the id column
    // instead of re-running the text-carrying dropDuplicates.
    val stats = corpus.select(col(cId).as("nid")).distinct()
      .join(dls, Seq("nid"), "left")
      .agg(count(lit(1)).as("n_docs"),
        avg(coalesce(col("dl"), lit(0L))).as("avgdl"))
    // df: postings carries one row per (nid, term) — the groupBy above
    // made it so — hence a plain combinable count equals the former
    // countDistinct(nid) without its two-phase distinct expansion
    val idf = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))).as("idf"),
        col("avgdl"))
    val qTerms = toks(queries, col(qId), col(qText))
      .select(col("__id").as("qid"), col("term")).distinct()
    val contrib = postings
      .join(qTerms, Seq("term")) // the posting-list walk
      .join(idf, Seq("term"))
      .join(dls, Seq("nid"))
      .select(col("qid"), col("nid"),
        (col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / col("avgdl")))).as("c"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    contrib.groupBy(col("qid"), col("nid"))
      .agg(round(sum(col("c")), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"),
        col("score"))
  }

  /** Hybrid retrieval by RECIPROCAL RANK FUSION (Cormack, Clarke &
    * Büttcher SIGIR'09): fuse a dense (vector top-N) and a sparse
    * (BM25 top-N) candidate frame by `Σ 1/(rrfK + rank)` over the lists
    * that returned the doc — rank-based, so the two scoring scales
    * never need calibrating, which is why RRF is the production-default
    * hybrid fusion. Both inputs are (qId, nId, rank) top-N frames from
    * ANY ranker pair at any scale (the persisted-index dense path
    * included): fusion itself is a full-outer equi-join of two ≤N-row-
    * per-query frames + one window — cost scales with the query count,
    * never the corpus. Ties (symmetric ranks) break on nid. */
  def rrfFuseTopK(dense: DataFrame, sparse: DataFrame, k: Int,
                  rrfK: Int = 60,
                  qId: String = "qid", nId: String = "nid"): DataFrame = {
    require(k >= 1, s"invalid k=$k")
    val d = dense.select(col(qId).as("qid"), col(nId).as("nid"),
      col("rank").as("rank_dense"))
    val s = sparse.select(col(qId).as("qid"), col(nId).as("nid"),
      col("rank").as("rank_sparse"))
    // fixed fusion-sum order (dense + sparse) keeps the double IEEE-
    // identical across engines
    val rrf =
      coalesce(lit(1.0) / (lit(rrfK) + col("rank_dense")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_sparse")), lit(0.0))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("nid").asc)
    d.join(s, Seq("qid", "nid"), "full_outer")
      .withColumn("rrf", round(rrf, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank").cast("int").as("rank"),
        col("rrf"))
  }
}
