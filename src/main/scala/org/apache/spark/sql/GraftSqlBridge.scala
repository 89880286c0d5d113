package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Minimal bridge into Spark's private[sql] Column <-> Expression converters
 * (org.apache.spark.sql.classic.ExpressionUtils) — the standard pattern for
 * third-party libraries exposing native Catalyst expressions as Columns on
 * Spark 4 (cf. the session-extension ecosystem; Spark's own `package object
 * sql` does the same for its internal callers).
 */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-root `df` as a leaf (LogicalRDD over its physical RDD, stats and
    * constraints carried over) WITHOUT materializing anything — the lazy
    * analogue of localCheckpoint's lineage cut. Why: Catalyst re-analyzes
    * the FULL logical plan of every Dataset built downstream, so a pipeline
    * that fans N stages out of one deep subtree pays that subtree's
    * analysis O(N) times — measured 4-6 s of driver-serial CheckAnalysis
    * per flagship run at 120k pages, the dominant Amdahl term in the N→4N
    * scaling gate. Call this on a stage output every downstream plan
    * builds on (typically right after persist(), so the RDD reads the
    * cache). Storage/recompute semantics are unchanged — the returned
    * frame's RDD re-executes the original plan (or reads its cache) per
    * action, exactly like the input would. */
  def truncateLineage(df: Dataset[Row]): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val session = cdf.sparkSession
    // The RDD comes from a FRESH non-adaptive physical plan over the
    // optimized logical plan, not from `cdf.queryExecution.toRdd`: an
    // adaptive plan's execute() eagerly materializes its query stages, so
    // the "lazy lineage cut" would run the upstream job at plan-build time
    // (advisor finding, round 5) — and `executedPlan` may already have been
    // forced under AQE. No session conf is touched.
    val optimized = cdf.queryExecution.optimizedPlan
    val plan = execution.QueryExecution.prepareExecutedPlan(session, optimized)
    val (stats, constraints) =
      execution.LogicalRDD.rewriteStatsAndConstraints(cdf.logicalPlan, optimized)
    // a PartitioningCollection (join output) names several equivalent
    // partitionings over attributes some of which the leaf may not output;
    // keep the first, as LogicalRDD.fromDataset does
    def firstLeaf(p: catalyst.plans.physical.Partitioning)
        : catalyst.plans.physical.Partitioning = p match {
      case catalyst.plans.physical.PartitioningCollection(ps) => firstLeaf(ps.head)
      case other => other
    }
    classic.Dataset.ofRows(session, execution.LogicalRDD(cdf.logicalPlan.output,
      new execution.SQLExecutionRDD(plan.execute(), session.sessionState.conf),
      firstLeaf(plan.outputPartitioning), plan.outputOrdering)(
      session, stats, constraints))
  }

  /** `truncateLineage`, applied in LOCAL mode only. On separated executor
    * JVMs the cut is a measured cliff, not a win: the 120k-page flagship
    * job on 4x1-core executors (standalone master, spark-submit, AQE on)
    * inflates its dominant job from 117.7 to 532.8 task-core-seconds with
    * the cut in place — the LogicalRDD leaf scans full rows where the
    * InMemoryRelation it replaces serves column-pruned cached batches, and
    * every cross-JVM re-read pays the full width. In one JVM the cached
    * read is an in-process copy either way, so only the driver-side
    * analysis saving (4-6 s per flagship run) remains, and the cut wins.
    * Distributed callers keep the plain persisted frame. */
  def truncateLineageLocal(df: Dataset[Row]): DataFrame =
    if (df.sparkSession.sparkContext.isLocal) truncateLineage(df) else df
}
