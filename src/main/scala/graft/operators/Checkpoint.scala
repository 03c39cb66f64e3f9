package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.struct

/** The one round step of graft's iterative operators ([[WebGraph]]'s
  * rank and redirect loops, [[Dedup]]'s connected components): an eager
  * `localCheckpoint` keeps lineage flat at any round count, and the
  * same job computes the round's driver scalars (a norm, a leaked mass,
  * a changed-label or edge count) as `observe` metrics, so none costs a
  * job of its own. Loops [[release]] round k−1 once round k is
  * materialized. The knowledge-base freshness path uses the same step
  * for its one materialization per stage: the snapshot sink's batch
  * (with its touched buckets), the sync pull's changelog (with its
  * delete/upsert counts) and the upsert's embedded batch. On a cluster,
  * executor loss fails a local checkpoint instead of recomputing it. */
private[graft] object Checkpoint {

  /** Materialize `df` in ONE eager local-checkpoint job that also
    * evaluates `metrics` (named aggregate columns); returns the
    * checkpointed frame and the metrics in order (an empty row when none
    * are asked for). The fixed observation name is safe: Spark keys
    * observations by (name, dataset), and a round's plan reads the
    * previous round only as a checkpoint scan. */
  def apply(df: DataFrame, metrics: Column*): (DataFrame, Row) =
    if (metrics.isEmpty) (df.localCheckpoint(true), Row.empty)
    else {
      val obs = Observation("graft_checkpoint")
      // one struct metric comes back as a Row in the metrics' order
      val out = df.observe(obs, struct(metrics: _*).as("m"))
        .localCheckpoint(true)
      (out, obs.get("m").asInstanceOf[Row])
    }

  /** Free the blocks behind a checkpointed frame (a LogicalRDD plan;
    * `Dataset.unpersist` only covers cacheManager entries). No-op for
    * any other plan, so a loop may release a plan-only seed too. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
