package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Stage 5 — cluster normalization, reproducing the reference's semantics
 * (entity_embed/data_utils/utils.py:211-235 `id_pairs_to_cluster_mapping_and_dict`):
 *   - components re-identified sequentially 0..n-1,
 *   - every record not in any pair gets a fresh singleton cluster id
 *     continuing after the max (utils.py:229-233),
 *   - member lists sorted ascending (utils.py:221).
 *
 * Determinism: the reference numbers clusters by insertion order of a Python
 * dict — not meaningful distributed. We number by ascending minimum member
 * id (component key), which is stable across runs and partitionings; the
 * grouping fixture tests pin this. The dense_rank is a narrow global sort
 * over one row per CLUSTER (not per record) — at 10^12 records with ~10^11
 * clusters this ranking step is the documented scale limit of *sequential*
 * ids; production keeps the min-member-id itself as the cluster key
 * (`normalizeIds = false`).
 */
object Clustering {

  /**
   * records(id) x componentAssignments(id, component) → (id, cluster) for
   * EVERY record, singletons appended after the max paired cluster id.
   */
  def assignAll(recordIds: DataFrame, components: DataFrame,
      normalizeIds: Boolean = true): DataFrame = {
    val ids = recordIds.select(col("id").cast("long")).distinct()
    val comp = components.select(col("id").cast("long"), col("component").cast("long"))

    val paired =
      if (normalizeIds) {
        val w = Window.orderBy("component")
        comp.withColumn("cluster", dense_rank().over(w).cast("long") - 1)
          .select(col("id"), col("cluster"))
          // the dense_rank plan is consumed twice below (maxCluster + union):
          // checkpoint it once instead of executing the window twice
          .localCheckpoint()
      } else comp.withColumnRenamed("component", "cluster")

    // singletons: ids with no component (SET2, utils.py:230)
    val singles = ids.join(comp, Seq("id"), "left_anti")
    val singleAssign =
      if (normalizeIds) {
        // maxCluster is only needed on this branch — the scale path
        // (normalizeIds = false) never pays the aggregation job
        val maxCluster =
          paired.agg(coalesce(max("cluster"), lit(-1L))).head().getLong(0)
        val w = Window.orderBy("id")
        singles.withColumn("cluster",
          row_number().over(w).cast("long") + lit(maxCluster))
      } else singles.withColumn("cluster", col("id"))
        // scale mode: cluster key = min member id; a singleton is its own
        // min and can collide with no paired component's min — disjoint
        // without any global sort

    paired.unionByName(singleAssign.select(col("id"), col("cluster")))
  }

  /**
   * (id, cluster) → (cluster, members sorted ascending) — the reference's
   * cluster_dict shape (utils.py:30-44, A3).
   */
  def clusterMembers(assignments: DataFrame): DataFrame =
    assignments.groupBy("cluster")
      .agg(sort_array(collect_list(col("id"))).as("members"))

  /**
   * Writeback (C4, utils.py:238-240): left join assignments onto records.
   * The assignment side is broadcast when small enough (Catalyst/AQE decide).
   */
  def writeback(records: DataFrame, assignments: DataFrame): DataFrame =
    records.join(assignments, Seq("id"), "left")
}
