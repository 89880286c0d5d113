package graft.operators

import graft.config.GraftConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Record-linkage mode (reference: ANNLinkageIndex,
 * entity_embed/indexes.py:85-140; API entity_embed.py:536-582): two tagged
 * sources, only cross-source pairs, output ordered (leftId, rightId)
 * regardless of id magnitude (indexes.py:123-130).
 *
 * Where the reference needs TWO HNSW indexes searched bidirectionally
 * (k-NN is asymmetric), a relational equi-join on band keys is symmetric by
 * construction — one join, both directions covered (SURVEY.md J3).
 *
 * Ids must be globally unique across both sources (the reference renumbers
 * with its Enumerator, benchmarks/base.py:107): renumber first, e.g. with
 * `row_number()` over the natural key.
 */
object Linkage {

  /**
   * records(id, text, source) → verified cross-source pairs
   * (left_id, right_id, jaccard).
   */
  def linkagePairs(records: DataFrame, cfg: GraftConfig, leftSource: String,
      idCol: String = "id", textCol: String = "text",
      sourceCol: String = "source"): DataFrame =
    ConfScope.smallInputScope(records.sparkSession, records) { CacheScope.run { s =>
    val input = records.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"), col(sourceCol).as("source"))
    // source-disjointness evaluated INSIDE the bucket join (pairFilter hook):
    // intra-source collisions — ~half of all pairs on balanced sources —
    // never reach the pair exchange or the verify stage. Star pairs from
    // oversize buckets bypass the filter, so orient's source filter stays
    // as the correctness guarantee.
    val crossSource: CandidateGen.PairFilter = (a, b) =>
      col(s"$a.source") =!= col(s"$b.source")
    val r = Dedup.signaturePairs(s, input, cfg, exact = true,
      extra = Seq("source"), pairFilter = Some(crossSource))
    val out = orient(r.pairs, input, leftSource, "jaccard").localCheckpoint()
    BucketJoin.warnOversize(r.oversizeLog)
    out
    } }

  /** pairs(id1, id2, scoreCol) → the cross-source pairs as
    * (left_id, right_id, scoreCol), whatever the id order;
    * `src(id, source)` names each id's source. */
  private[graft] def orient(pairs: DataFrame, src: DataFrame,
      leftSource: String, scoreCol: String): DataFrame =
    pairs
      .join(src.select(col("id").as("id1"), col("source").as("src1")), "id1")
      .join(src.select(col("id").as("id2"), col("source").as("src2")), "id2")
      .filter(col("src1") =!= col("src2"))
      .filter(col("src1") === leftSource || col("src2") === leftSource)
      .select(
        when(col("src1") === leftSource, col("id1")).otherwise(col("id2")).as("left_id"),
        when(col("src1") === leftSource, col("id2")).otherwise(col("id1")).as("right_id"),
        col(scoreCol))
}
