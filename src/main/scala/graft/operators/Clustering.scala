package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stage 5 — cluster assignment, after the reference's
 * `id_pairs_to_cluster_mapping_and_dict`
 * (entity_embed/data_utils/utils.py:211-235):
 *   - every record not in any pair gets a singleton cluster
 *     (utils.py:229-233),
 *   - member lists sorted ascending (utils.py:221).
 *
 * Cluster key: the reference numbers clusters 0..n-1 by insertion order of
 * a Python dict — not meaningful distributed. Here the key is the
 * component's minimum member id, and a singleton's key is its own id:
 * stable across runs and partitionings, and disjoint without any global
 * sort (a singleton is its own min and can collide with no paired
 * component's min). The member sets are the reference's; the grouping
 * fixture tests pin them.
 */
object Clustering {

  /**
   * records(id) x componentAssignments(id, component) → (id, cluster) for
   * EVERY record. `normalizeIds = true` (sequential 0..n-1 keys) is not
   * supported: ranking clusters is a global sort over unpartitioned windows.
   */
  def assignAll(recordIds: DataFrame, components: DataFrame,
      normalizeIds: Boolean = false): DataFrame = {
    require(!normalizeIds, "sequential cluster ids (normalizeIds = true) are " +
      "not supported: they need a global sort over one partition; the " +
      "cluster key is the min member id")
    val ids = recordIds.select(col("id").cast("long")).distinct()
    val paired = components.select(col("id").cast("long"),
      col("component").cast("long").as("cluster"))
    // singletons: ids with no component (SET2, utils.py:230)
    val singles = ids.join(paired, Seq("id"), "left_anti")
      .withColumn("cluster", col("id"))
    paired.unionByName(singles)
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
