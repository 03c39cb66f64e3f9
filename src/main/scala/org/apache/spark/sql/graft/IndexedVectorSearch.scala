// Hosted under org.apache.spark.sql: the rewrite needs the
// private[sql] Expression↔Column / LogicalPlan↔DataFrame bridges
// (classic.Dataset.ofRows, classic.ExpressionUtils).
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.store.{IvfFlatIndexStore, VectorStoreRegistry}

/** Serves the SQL `LATERAL VIEW vector_search('store', k, emb)` spelling
  * from the PERSISTED IVF-Flat index when 'store' resolves to an
  * [[graft.store.IvfFlatIndexStore]] — the pure-SQL half of the
  * adaptive serving gate (VectorStores.adaptive): under the broadcast
  * budget the registered store is the broadcast brute-force one and the
  * generator evaluates per row with zero shuffle; past it the store is
  * the on-disk index, where per-row evaluation is IMPOSSIBLE at scale
  * (each eval would launch a Spark job from inside a task — the exact
  * anti-pattern IvfFlatIndexStore.search guards against). This rule
  * rewrites the lateral Generate into the index's native plan shape
  * instead: the distinct query vectors search the index as a
  * partition-pruned equi-join (the optimizer's dynamic partition
  * pruning reads only the probed cells of the payload scan, the
  * IvfPqIndexSpec-pinned shape), and the hits join back to the input
  * rows on the query vector itself — exact array equality, so no
  * synthetic row id and no correlation-key collisions.
  *
  * Injected by GraftExtensions as a post-hoc resolution rule: the plan
  * is fully resolved, the standard optimizer then sees (and prunes /
  * pushes into) the rewritten join like any hand-written one. The
  * reference analog is the coach's lateral Atlas `$vectorSearch` call
  * (generate_personalized_commands.sh:377-384) against the EXTERNAL
  * index (main.tf:649-669).
  *
  * Output-attribute contract: the rewritten subtree reproduces
  * `Generate.output` exactly — same attribute names, types, AND exprIds
  * (via aliases) — so enclosing operators resolve untouched. Lateral
  * semantics are preserved: `outer=false` drops rows with no hits
  * (inner join), `outer=true` null-fills them (left join); a NULL query
  * embedding yields no hits either way, matching the generator's eval;
  * a NULL ELEMENT inside an embedding raises, matching the generator's
  * loud-corruption contract. */
case class IndexedVectorSearchRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case g @ Generate(vs: VectorSearchGenerator, Nil, outer, _, genOutput, child)
        if g.resolved && child.resolved &&
          VectorStoreRegistry.lookup(vs.storeName)
            .exists(_.isInstanceOf[IvfFlatIndexStore]) =>
      val store = VectorStoreRegistry.get(vs.storeName)
        .asInstanceOf[IvfFlatIndexStore]
      rewrite(vs.child,
        q => store.searchBatch(q, vs.k,
          vs.numCandidates.getOrElse(store.defaultNumCandidates),
          qId = "qid", qVec = "qid"),
        outer, genOutput, child)
    // the DIVERSE spelling takes the same join-rewrite, with the store's
    // pruned-search + bounded MMR re-rank as the hits side — per-row
    // evaluation over a persisted index is equally impossible for it
    case g @ Generate(vs: VectorSearchDiverseGenerator, Nil, outer, _,
        genOutput, child)
        if g.resolved && child.resolved &&
          VectorStoreRegistry.lookup(vs.storeName)
            .exists(_.isInstanceOf[IvfFlatIndexStore]) =>
      val store = VectorStoreRegistry.get(vs.storeName)
        .asInstanceOf[IvfFlatIndexStore]
      rewrite(vs.child,
        q => store.searchBatchDiverse(q, vs.k, vs.lambda,
          vs.numCandidates.getOrElse(store.defaultNumCandidates),
          qId = "qid", qVec = "qid"),
        outer, genOutput, child)
  }

  private def rewrite(queryExpr: org.apache.spark.sql.catalyst.expressions.Expression,
                      searchFn: org.apache.spark.sql.DataFrame =>
                        org.apache.spark.sql.DataFrame,
                      outer: Boolean, genOutput: Seq[Attribute],
                      child: LogicalPlan): LogicalPlan = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val childDF = Dataset.ofRows(spark, child)
    // reserved names: the child may legitimately carry rank/document_id/
    // chunks/score columns of its own
    val qvecC = "__gvs_qvec"
    val qExpr: Column = ExpressionUtils.column(queryExpr)
    // the generator fails loudly on a NULL element inside an embedding
    // (a corrupted vector must not silently search as 0.0); keep that
    // contract — but only pay the scan when the type admits null slots
    val checked = queryExpr.dataType match {
      case ArrayType(_, true) =>
        when(exists(qExpr, _.isNull), expr(
          "raise_error('vector_search: query embedding has a NULL element')")
          .cast(queryExpr.dataType)).otherwise(qExpr)
      case _ => qExpr
    }
    val withQ = childDF.withColumn(qvecC, checked)
    // distinct query VECTORS search the index once each; hits join back
    // on exact vector equality (array<float> is a hashable join key), so
    // duplicate input rows share one search and there is no synthetic id
    // whose two-sided re-computation could diverge
    val queries = withQ.select(col(qvecC).as("qid"))
      .filter(col("qid").isNotNull).distinct()
    val hits = searchFn(queries)
      .select(col("qid").as("__gvs_hqid"),
        col("rank").as("__gvs_rank"),
        col("document_id").as("__gvs_document_id"),
        col("chunks").as("__gvs_chunks"),
        col("score").as("__gvs_score"))
    val joined = withQ.join(hits, col(qvecC) === col("__gvs_hqid"),
      if (outer) "left" else "inner")
    val analyzed = joined.queryExecution.analyzed
    // reproduce Generate.output exactly: child attrs by exprId (they
    // survive on the probe side of the join; the hits side was
    // deduplicated away from them), generator attrs from the reserved
    // names, each aliased onto the original exprId
    val gvsNames = Seq("__gvs_rank", "__gvs_document_id", "__gvs_chunks",
      "__gvs_score")
    def byName(n: String): Attribute = analyzed.output.find(_.name == n)
      .getOrElse(sys.error(s"IndexedVectorSearchRule: lost column $n"))
    val projectList: Seq[NamedExpression] =
      child.output.map { a =>
        analyzed.output.find(_.exprId == a.exprId).getOrElse(sys.error(
          s"IndexedVectorSearchRule: lost child column ${a.name}"))
      } ++
        genOutput.zip(gvsNames).map { case (gAttr, n) =>
          val src = byName(n)
          // defensive: an index built outside CreateVectorIndexCommand
          // may carry non-string payload columns; the generator's
          // published schema wins (a silently mistyped attribute would
          // corrupt downstream codegen)
          val typed =
            if (src.dataType == gAttr.dataType) src
            else org.apache.spark.sql.catalyst.expressions.Cast(
              src, gAttr.dataType)
          Alias(typed, gAttr.name)(exprId = gAttr.exprId)
        }
    Project(projectList, analyzed)
  }
}
