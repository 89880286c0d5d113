package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Pair-set algebra over canonical pair tables (id1 < id2) — the reference's
 * evaluation substrate (entity_embed/evaluation.py, data_utils/utils.py).
 */
object PairAlgebra {

  private val keys = Seq("id1", "id2")

  /**
   * Cluster → all intra-cluster pairs, smaller id first (A4, utils.py:47-66).
   * assignments(id, cluster). Null clusters excluded.
   */
  def clusterToPairs(assignments: DataFrame): DataFrame = {
    val a = assignments.filter(col("cluster").isNotNull)
    a.as("a").join(a.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
  }

  /**
   * Linkage orientation (utils.py:56-66): only left-source × right-source
   * pairs, emitted (leftId, rightId) regardless of id order
   * (indexes.py:123-130).
   */
  def clusterToLinkagePairs(assignments: DataFrame, sources: DataFrame,
      leftSource: String): DataFrame = {
    val tagged = assignments.join(sources, "id")
    val l = tagged.filter(col("source") === leftSource)
    val r = tagged.filter(col("source") =!= leftSource)
    l.as("a").join(r.as("b"), col("a.cluster") === col("b.cluster"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Σ n(n-1)/2 expected pairs (A5, utils.py:69-73). */
  def clusterPairCount(assignments: DataFrame): DataFrame =
    assignments.groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0))
        .cast("long").as("total_pairs"))

  /** found ∩ pos (SET1 true positives). */
  def truePositives(found: DataFrame, pos: DataFrame): DataFrame =
    found.select(keys.map(col): _*).join(pos.select(keys.map(col): _*), keys, "left_semi")
}
