package graft.operators

import graft.config.GraftConfig
import graft.expressions.SimilarityExpressions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stage 3 — verification: candidates are scored and filtered at the
 * similarity threshold (reference J4: entity_embed/indexes.py:40
 * `distance <= 1 - sim_threshold`; our score is Jaccard on char-shingle
 * sets instead of cosine on learned vectors).
 *
 * TWO-TIER design (the scale lever): LSH banding admits every pair left of
 * the S-curve knee, so on boilerplate-heavy corpora candidates outnumber
 * true duplicates ~40:1 (measured: 1.74M candidates → 46k verified at 20k
 * pages). Joining the full shingle sets (~8 bytes/char) onto every candidate
 * shuffles GBs of array payload mostly to reject pairs. Instead:
 *
 *   tier 1 — estimate: join the packed 8-bit MinHash lanes (numPerm / 8
 *     longs) and score by lane agreement fraction (Jaccard estimator,
 *     σ = sqrt(j(1-j)/numPerm) ≈ 0.044 at 128 perms, plus the ≤ (1−j)/256
 *     one-sided bias of 8-bit lanes, see `verify`). Pairs below
 *     threshold − margin are dropped; margin = 3.5σ keeps the probability
 *     of dropping a true ≥ threshold pair under ~2·10⁻⁴ (recall gate is
 *     still measured empirically against the exact oracle).
 *   tier 2 — exact: only survivors (≈ true-pair volume) fetch their texts
 *     and get exact shingle Jaccard; the final filter keeps exactness — NO
 *     false positives, ever.
 *
 * Both scorers are static kernels called through StaticInvoke
 * (graft.expressions.SimilarityExpressions), zero-copy over ArrayData.
 */
object JaccardVerify {

  /** Join candidates to one per-id payload column and score the pair. */
  private def scorePairs(pairs: DataFrame, side: DataFrame,
      score: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      as: String): DataFrame =
    pairs
      .join(side.select(col("id").as("id1"), col("s").as("s1")), "id1")
      .join(side.select(col("id").as("id2"), col("s").as("s2")), "id2")
      .withColumn(as, score(col("s1"), col("s2")))
      .drop("s1", "s2")

  /**
   * candidates(id1, id2, stage) x sigs(id, minhash8) →
   * (id1, id2, jaccard, stage) filtered at cfg.simThreshold.
   *
   * Tier 1 scores the packed 8-bit MinHash lanes (Signatures' one bundle
   * carries no other MinHash payload). An 8-bit lane false-equals with
   * p = 1/256, so the estimate is biased UP by at most ~(1−j)/256 ≈ 0.004,
   * one-sided: inside the two-tier margin, and the estimate-mode output
   * carries it.
   *
   * estimate = true: tier 1 only — the 100 TB mode; `jaccard` is the
   * MinHash estimate (±σ), no text is ever shuffled.
   *
   * texts = Some(df(id, text)), required in exact mode: tier 2 recomputes
   * the exact shingle Jaccard FROM THE TEXT per surviving pair
   * (the TextShingleJaccard kernel — same shingling, bitwise-identical to
   * Hashing.jaccardSorted over the shingle sets) instead of joining stored
   * shingle arrays. A shingle array is ~8 bytes per corpus char; the text
   * is ~8x smaller, so the signature stage never materializes shingle
   * arrays. The CPU cost — re-shingling two documents per SURVIVING pair —
   * is a few microseconds against tens of KB of saved memory/shuffle
   * traffic, the resource that actually caps N→4N scaling.
   *
   * Neither tier forces a broadcast; the planner picks each join strategy.
   *
   * @param packedEstimate has no effect; kept for callers that pass it by name.
   */
  def verify(candidates: DataFrame, sigs: DataFrame, cfg: GraftConfig,
      estimate: Boolean = false, texts: Option[DataFrame] = None,
      @scala.annotation.unused packedEstimate: Boolean = true): DataFrame = {
    val t = cfg.simThreshold
    // exact tier-2 scoring re-shingles the texts — fail fast with the
    // coupling spelled out instead of a None.get deep in plan construction
    require(estimate || texts.nonEmpty,
      "exact verify (estimate = false) needs texts = Some(df(id, text)): " +
        "tier 2 recomputes the exact Jaccard from the text; pass texts, " +
        "or use estimate = true for tier-1 scores only")
    val estimated = scorePairs(candidates.select("id1", "id2", "stage"),
      sigs.select(col("id"), col("minhash8").as("s")),
      SimilarityExpressions.minhashAgreementPacked(_, _, cfg.numPerm), "est")

    if (estimate) {
      estimated.filter(col("est") >= t)
        .select(col("id1"), col("id2"), col("est").as("jaccard"), col("stage"))
    } else {
      val sigma = math.sqrt(t * (1 - t) / cfg.numPerm)
      val margin = 3.5 * sigma
      val survivors0 = estimated.filter(col("est") >= t - margin)
        .select("id1", "id2", "stage")
      // survivors feed BOTH tier-2 joins; un-cut, Catalyst's broadcast
      // chaining re-executes the whole tier-1 estimate subtree per build
      // job (profiled: the blocking union ran ~5x per flagship run at the
      // bench shape). A LAZY localCheckpoint materializes tier 1 once and
      // both joins read the cached RDD; ContextCleaner auto-unpersists it
      // when unreferenced (a persist() here would leak per call). Local
      // mode only: on a cluster a localCheckpoint is not recomputable after
      // executor loss, and the in-memory cut was measured a net loss across
      // JVMs (GraftSqlBridge.truncateLineageLocal scaladoc).
      val spark = candidates.sparkSession
      val survivors =
        if (spark.sparkContext.isLocal) survivors0.localCheckpoint(eager = false)
        else survivors0
      // tier-2 survivors ≈ true-pair volume; the heavy side is never
      // broadcast — survivors shuffle to it. Shuffle-volume note (measured:
      // the text side is ~88% of the dominant job's shuffle bytes at the
      // bench shape, shuffled once per join side): with the planted-dup
      // fixture nearly every doc appears in a surviving pair, so this is
      // the floor for exact verification. A survivor-id semi-join on the
      // text side would cut that shuffle by the non-participation fraction,
      // but no measured shape gains from it: on the 15%-participation
      // benchmark corpus tier 2 is ~0.09 s of a 7.1 s run.
      val side = texts.get.select(col("id"), col("text").as("s"))
      scorePairs(survivors, side,
        SimilarityExpressions.textShingleJaccard(_, _, cfg.shingleK), "jaccard")
        .filter(col("jaccard") >= t)
        .select(col("id1"), col("id2"), col("jaccard"), col("stage"))
    }
  }
}
