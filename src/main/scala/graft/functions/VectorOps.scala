package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector math over ARRAY<FLOAT> embedding columns, backed by native
  * Catalyst expressions with whole-stage codegen (org.apache.spark.sql.graft.VectorExpressions)
  * — fully distributed, no UDFs, no driver loops, and no interpreted
  * higher-order functions in the |queries| × |corpus| hot loop.
  *
  * Re-expresses the reference's VECTOR_SEARCH cosine semantics
  * (reference generate_personalized_commands.sh:377-384: k=3 cosine over a
  * 1536-dim index) as Spark-native expressions.
  */
object VectorOps {

  /** Dot product in double precision, sequential (index-order)
    * accumulation — deterministic across runs and engines. */
  def dotD(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dot(a, b)

  def norm2(a: Column): Column = dotD(a, a)

  /** Cosine similarity in double precision; NULL when either norm is 0
    * (DuckDB's list_cosine_similarity never sees that case in our data —
    * vectors are non-zero). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.cosine(a, b)

  /** Symmetric int8 scalar quantization: per-vector scale = max|x|/127,
    * elements rounded to [-127, 127] TINYINT — 4× smaller storage than
    * float32, the standard vector-store compression. Returns
    * struct(scale DOUBLE, q ARRAY<TINYINT>). Cosine is scale-invariant,
    * so quantized search needs only the q array; the scale is for
    * value-faithful dequantization.
    *
    * One JIT-compiled UDF call per row (the repo's standard shape for
    * CPU-heavy per-row array work): a catalyst HOF formulation would
    * inline the array_max scale expression into the per-element lambda —
    * O(d²) element visits per vector in interpreted mode. Rounding is
    * half-away-from-zero to match both engines' SQL round(). */
  final case class QuantizedVec(scale: Double, q: Seq[Byte])

  private val quantUdf = udf((v: Seq[Float]) => {
    if (v == null) null
    else {
      val scale = math.max(v.foldLeft(0.0)((m, x) => math.max(m, math.abs(x.toDouble))),
        1e-12) / 127.0
      val q = v.map { x =>
        val d = x.toDouble / scale
        (math.signum(d) * math.floor(math.abs(d) + 0.5)).toByte
      }
      QuantizedVec(scale, q)
    }
  })

  private val dequantUdf = udf((scale: Double, q: Seq[Byte]) =>
    if (q == null) null else q.map(b => (b.toDouble * scale).toFloat))

  def quantizeInt8(vec: Column): Column = quantUdf(vec)

  /** Inverse of [[quantizeInt8]]: q * scale, back to ARRAY<FLOAT>. */
  def dequantInt8(qs: Column): Column = dequantUdf(qs("scale"), qs("q"))

  /** Brute-force top-k cosine neighbors of each query vector against a
    * corpus. Returns (qidName, nidName, rank, sim).
    *
    * Physical shape: the corpus side is broadcast (it is the smaller /
    * bounded side at reference scale: a knowledge index of chunks), the
    * query stream stays partitioned — so the "join" is a
    * BroadcastNestedLoopJoin with no shuffle of the big side, followed by a
    * per-query-key window top-k. At 100 TB the query side is the huge one
    * and this plan still holds: corpus broadcast once per executor,
    * queries never leave their partitions until the final per-key rank
    * (hash-partitioned by query id, combinable).
    *
    * For corpora too big to broadcast, see operators.SimilaritySearch.lsh*
    * (bucketed ANN) — this method is the exact oracle baseline.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String, qVec: String, cId: String,
                     cVec: String): DataFrame = {
    val joined = queries.crossJoin(broadcast(corpus))
      .withColumn("sim", cosine(col(qVec), col(cVec)))
    // rank: best similarity first; deterministic tiebreak on neighbor id
    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(cId).asc)
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), col("rank"), col("sim"))
  }

  /** Radius (threshold) search: every corpus neighbor with cosine ≥ tau —
    * the "all near-duplicates / all relevant chunks" form of retrieval,
    * complementing top-k. Same broadcast shape as [[bruteForceTopK]]
    * (corpus broadcast, queries never shuffle), but NO window: the
    * threshold filter runs inside the join, so nothing is ranked and the
    * only exchange is whatever the caller's sink needs. The similarity
    * is rounded to 6 decimals BEFORE the threshold so the keep/drop
    * decision is identical across engines (a raw >= on doubles can flip
    * a boundary row on last-ulp libm drift). */
  def radiusSearch(queries: DataFrame, corpus: DataFrame, tau: Double,
                   qId: String, qVec: String, cId: String,
                   cVec: String): DataFrame =
    queries.crossJoin(broadcast(corpus))
      .withColumn("sim", round(cosine(col(qVec), col(cVec)), 6))
      .filter(col("sim") >= tau)
      .select(col(qId), col(cId), col("sim"))

  /** Mean-pool child embeddings into one parent embedding,
    * L2-renormalized — the standard doc-from-chunks recipe (chunk
    * embeddings averaged to a document vector before single-vector
    * retrieval; also the pooled stage-1 proxy MaxSim reranking prunes
    * with). Emitted FLAT as (parent, dim, value) — the ivfTrainStep
    * convention: engine-portable, produced by aggregates alone, no
    * per-group array materialization.
    *
    * Plan (the 100 TB shape): one explode + one (parent, dim)
    * aggregate — map-side combinable, (parent, dim) keys don't skew —
    * then the norm via a parent-partitioned window over the AGGREGATED
    * frame (≤ dim rows per parent; never a second pass over the
    * children). Zero-norm parents (all-zero children) emit 0.0. */
  def meanPoolNormalized(df: DataFrame, parentCol: String,
                         vecCol: String): DataFrame = {
    val mu = df
      .select(col(parentCol).as("parent"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("parent"), col("dim"))
      // avg, not sum/count: a NULL array element must shrink the
      // divisor too (sum skips NULLs, count(lit(1)) would not — the
      // oracle's avg() divides by the non-null count)
      .agg(avg(col("x").cast("double")).as("mu"))
    val w = Window.partitionBy(col("parent"))
    mu.withColumn("nrm", sqrt(sum(col("mu") * col("mu")).over(w)))
      .select(col("parent"), col("dim"),
        when(col("nrm") === 0.0d, lit(0.0d))
          .otherwise(col("mu") / col("nrm")).as("value"))
  }
}
