package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Key-distribution helper for operators that pre-shuffle a frame onto
  * its join key and then reuse that partitioning (cached or
  * checkpointed) across a self-join or an iterative loop.
  *
  * Why the partition count is pinned explicitly: a bare
  * `repartition(cols…)` leaves the count to AQE, and on a small exchange
  * AQE's coalescing collapses it — measured down to ONE partition on the
  * 32 k-row banded frame of the LSH candidate join, which then ran its
  * 2 M-row self-join in a single task (the r03 `sim_knn_graph` bench
  * regression). A user-specified partition count is exempt from AQE
  * coalescing, so the cached partitioning keeps the session's
  * parallelism. At cluster scale the session default is sized to the
  * cluster, so pinning it is the same decision the engine already makes
  * for `spark.sql.shuffle.partitions`.
  */
object Dist {

  /** `df.repartition(cols…)` with the session's shuffle-partition count
    * made explicit (AQE-coalesce-proof). */
  def byKeys(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  /** [[byKeys]] + eager lineage cut + the partitioning DECLARATION put
    * back on the cut (round 16). Under AQE, `Dataset.localCheckpoint`
    * captures `AdaptiveSparkPlanExec.outputPartitioning` — which is
    * `UnknownPartitioning` — so the iterative operators' carefully
    * pre-distributed edge checkpoints were coming back declaration-less
    * and every per-round join/aggregate keyed on them re-exchanged the
    * materialized blocks (invisible at toy SFs where AQE
    * broadcast-converts those joins; measured at the ~sf1/sf3 synth
    * slices as one full edge-list exchange PER ROUND). The declaration
    * is factually true here by construction: the repartition sits
    * directly under the cut, is exempt from AQE coalescing (explicit
    * partition count), and checkpoint materialization is
    * placement-preserving. Columns must be plain names for the
    * re-declaration. */
  def byKeysCut(df: DataFrame, cols: String*): DataFrame =
    byKeysCutVia(df, identity, cols: _*)

  /** [[byKeysCut]] with a narrow (placement/order-preserving — observe/
    * select/filter only) transform applied between the sort and the cut,
    * e.g. an Observation riding the checkpoint job.
    *
    * The cut data is additionally sortWithinPartitions(cols)-ordered and
    * BOTH properties are re-declared, so a downstream sort-merge join or
    * sort-based aggregate keyed on `cols` consumes the checkpoint with
    * neither an exchange nor a sort — the bucketed-sorted-table shape,
    * paid once at the cut instead of once per consuming round. */
  private[graft] def byKeysCutVia(df: DataFrame, pre: DataFrame => DataFrame,
      cols: String*): DataFrame =
    org.apache.spark.sql.graftbridge.DatasetBridge.declareHashPartitioning(
      Checkpointing.cut(pre(
        byKeys(df, cols.map(df.col): _*).sortWithinPartitions(cols.map(df.col): _*))),
      cols, sortedWithin = true)
}
