package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `Dataset.ofRows` (private[sql]) — turn a hand-built
  * LogicalPlan into a DataFrame. Visibility shim only. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-declare the output partitioning of a checkpointed frame.
    *
    * Under AQE, `Dataset.checkpoint`/`localCheckpoint` capture
    * `AdaptiveSparkPlanExec.outputPartitioning`, which is
    * `UnknownPartitioning` — so a frame that was explicitly
    * hash-distributed on its key immediately before the cut comes back
    * with the partitioning DECLARATION erased, and every downstream
    * join/aggregate keyed the same way re-exchanges the materialized
    * blocks (measured in round 16: pagerank's src-keyed edge checkpoint
    * re-shuffled once per round at the ~sf1 synth slice).
    *
    * This helper rebuilds the checkpoint's LogicalRDD with
    * `HashPartitioning(keys, rdd.getNumPartitions)`. CONTRACT: the
    * caller must guarantee the rows really are hash-placed by `keys`
    * with Spark's hash function across exactly these partitions — true
    * when the frame was produced by `repartition(n, keys…)` directly
    * under the cut (a USER-SPECIFIED repartition is exempt from AQE
    * coalescing, so the materialized count and placement are the
    * exchange's), and preserved by any narrow (non-shuffling) ops in
    * between. Declaring a partitioning the rows do not satisfy yields
    * silently wrong joins — keep this next to the shuffle that made it
    * true. Each key must name exactly one output column; a missing or
    * duplicated name fails. Session, origin stats and constraints are
    * carried over unchanged (stats feed broadcast planning). */
  def declareHashPartitioning(df: DataFrame, keys: Seq[String],
      sortedWithin: Boolean = false): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, ExpressionSet, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val attrs = keys.map { k =>
          lr.output.filter(_.name == k) match {
            case Seq(a) => a
            case found => throw new IllegalArgumentException(
              s"declareHashPartitioning: key '$k' matches ${found.size} columns " +
                s"(need exactly one) in ${lr.output.map(_.name)}")
          }
        }
        val part = HashPartitioning(attrs, lr.rdd.getNumPartitions)
        // `sortedWithin` additionally declares ascending-nulls-first
        // within-partition ordering on `keys` — valid ONLY when the rows
        // were sortWithinPartitions(keys)-ordered under the cut — so a
        // downstream sort-merge join consumes the frame with neither an
        // exchange nor a sort (the bucketed-sorted-table shape)
        val ordering = if (sortedWithin)
          attrs.map(a => SortOrder(a, Ascending)) else lr.outputOrdering
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        // originStats/originConstraints are protected; passing the node's
        // EFFECTIVE stats/constraints preserves planner-visible behavior
        // (computeStats returns originStats when set, its fallback
        // otherwise — either way `lr.stats` IS that value)
        val stats: Option[Statistics] = Some(lr.stats)
        val constraints: Option[ExpressionSet] = Some(lr.constraints)
        ofRows(df.sparkSession, new LogicalRDD(lr.output, lr.rdd, part,
          ordering, lr.isStreaming, lr.stream)(session, stats, constraints))
      case other => throw new IllegalArgumentException(
        "declareHashPartitioning expects a checkpointed frame (bare LogicalRDD), got: " +
          other.getClass.getSimpleName)
    }
  }
}
