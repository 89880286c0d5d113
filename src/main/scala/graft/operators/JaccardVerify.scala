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
 *   tier 1 — estimate: join the fixed-width MinHash signature (numPerm
 *     longs) and score by agreement fraction (unbiased Jaccard estimator,
 *     σ = sqrt(j(1-j)/numPerm) ≈ 0.044 at 128 perms). Pairs below
 *     threshold − margin are dropped; margin = 3.5σ keeps the probability
 *     of dropping a true ≥ threshold pair under ~2·10⁻⁴ (recall gate is
 *     still measured empirically against the exact oracle).
 *   tier 2 — exact: only survivors (≈ true-pair volume) fetch shingle sets
 *     and get exact Jaccard; the final filter keeps exactness — NO false
 *     positives, ever.
 *
 * Both scorers are native codegen'd Catalyst expressions
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
   * candidates(id1, id2, stage) x sigs(id, minhash, shingles) →
   * (id1, id2, jaccard, stage) filtered at cfg.simThreshold.
   *
   * estimate = true: tier 1 only — the 100 TB mode; `jaccard` is the
   * MinHash estimate (±σ), no shingle sets are ever shuffled.
   *
   * texts = Some(df(id, text)): tier 2 recomputes the exact shingle Jaccard
   * FROM THE TEXT per surviving pair (TextShingleJaccard — same kernel,
   * bitwise-identical result) instead of joining stored shingle arrays.
   * A shingle array is ~8 bytes per corpus char; the text is ~8x smaller,
   * so this cuts tier-2 join traffic ~8x and lets the signature stage skip
   * materializing shingle arrays entirely (Signatures.compute
   * emitShingles=false). The CPU cost — re-shingling two documents per
   * SURVIVING pair — is a few microseconds against tens of KB of saved
   * memory/shuffle traffic, the resource that actually caps N→4N scaling.
   *
   * Estimate-mode contract (estimate = true, tier 1 IS the output): the
   * returned `jaccard` is the UNBIASED numPerm-lane MinHash estimator when
   * the bundle carries the full 64-bit `minhash` column (the default — all
   * in-repo wide bundles do); only when the bundle carries NOTHING but the
   * packed lanes, or the caller opts in via `packedEstimate = true` (the 8×
   * narrower 100 TB prefilter-grade mode), is the 8-bit estimator used —
   * whose false-equal p = 1/256 per disagreeing lane biases the estimate UP
   * by ≤ ~(1−j)/256 ≈ 0.004, one-sided. In two-tier mode (estimate = false)
   * tier 1 always prefers the packed lanes — the bias is inside the margin
   * and tier 2 is exact regardless, so only the prefilter sees it.
   *
   * semiJoin = true: prefilter the tier-2 payload side to docs that appear
   * in a surviving pair before the scoring joins. Output-identical; a
   * shuffle-volume win on low-participation corpora (design note at the
   * tier-2 join). Neither tier forces a broadcast; the planner picks each
   * join strategy.
   */
  def verify(candidates: DataFrame, sigs: DataFrame, cfg: GraftConfig,
      estimate: Boolean = false, texts: Option[DataFrame] = None,
      packedEstimate: Boolean = false,
      semiJoin: Boolean = false): DataFrame = {
    val t = cfg.simThreshold
    // narrow bundles (Signatures.compute emitShingles = false) carry no
    // shingle arrays: exact tier-2 scoring then REQUIRES the texts side —
    // fail fast with the coupling spelled out instead of an analysis-time
    // missing-column error (advisor finding)
    require(estimate || texts.nonEmpty || sigs.columns.contains("shingles"),
      "exact verify on a narrow signature bundle (emitShingles = false) " +
        "needs texts = Some(df(id, text)) — the shingle sets are not stored; " +
        "pass texts, or compute signatures with emitShingles = true")
    val hasPacked = sigs.columns.contains("minhash8")
    val hasFull = sigs.columns.contains("minhash")
    // tier-1 payload selection per the estimate-mode contract above
    val packed = hasPacked && (!estimate || packedEstimate || !hasFull)
    val minhashSide =
      if (packed) sigs.select(col("id"), col("minhash8").as("s"))
      else sigs.select(col("id"), col("minhash").as("s"))
    val agreement: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
      if (packed) (a, b) => SimilarityExpressions.minhashAgreementPacked(a, b, cfg.numPerm)
      else SimilarityExpressions.minhashAgreement

    val estimated = scorePairs(candidates.select("id1", "id2", "stage"),
      minhashSide, agreement, "est")

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
      // when unreferenced (a persist() here would leak per call — advisor
      // finding on the semiJoin path). Local mode only: on a cluster a
      // localCheckpoint is not recomputable after executor loss, and the
      // in-memory cut was measured a net loss across JVMs
      // (GraftSqlBridge.truncateLineageLocal scaladoc).
      val spark = candidates.sparkSession
      val survivors =
        if (spark.sparkContext.isLocal && !candidates.isStreaming &&
            !sigs.isStreaming)
          survivors0.localCheckpoint(eager = false)
        else survivors0
      // tier-2 survivors ≈ true-pair volume; the heavy side is never
      // broadcast — survivors shuffle to it. Shuffle-volume note (measured:
      // the text side is ~88% of the dominant job's shuffle bytes at the
      // bench shape, shuffled once per join side): with the planted-dup
      // fixture nearly every doc appears in a surviving pair, so this is
      // the floor for exact verification. On a LOW-participation corpus
      // (real web dedup: 10-30% of docs in any near-dup pair) prefilter
      // the text side with a survivor-id semi-join (Bloom-filter form at
      // scales where the distinct-id set cannot broadcast) before these
      // joins — it cuts the dominant shuffle by the non-participation
      // fraction and composes with this code unchanged. Implemented below
      // as `semiJoin` (output-identical — the inner joins ignore
      // non-participating docs either way; VerifyModesSpec pins it): off by
      // default because on the planted-dup bench corpus participation is
      // near-total and the extra distinct-ids pass buys nothing.
      val (side0, score) = texts match {
        case Some(d) =>
          (d.select(col("id"), col("text").as("s")),
            (s1: org.apache.spark.sql.Column, s2: org.apache.spark.sql.Column) =>
              SimilarityExpressions.textShingleJaccard(s1, s2, cfg.shingleK))
        case None =>
          (sigs.select(col("id"), col("shingles").as("s")),
            SimilarityExpressions.jaccardSorted _)
      }
      val side = if (!semiJoin) side0 else {
        val ids = survivors.select(col("id1").as("id"))
          .union(survivors.select(col("id2").as("id"))).distinct()
        side0.join(ids, Seq("id"), "left_semi")
      }
      scorePairs(survivors, side, score, "jaccard")
        .filter(col("jaccard") >= t)
        .select(col("id1"), col("id2"), col("jaccard"), col("stage"))
    }
  }
}
