package graft.operators

import graft.config.GraftConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stage 2 — candidate generation. Three blocking stages over the signature
 * table (north rule): MinHash LSH banding, SimHash Hamming-ball,
 * winnowing-fingerprint substring blocking. They run as ONE bucket join
 * (BucketJoin.pairs) that emits canonical candidate pairs tagged with the
 * stage that found them (lineage); the result feeds Jaccard verification.
 *
 * Reference analog: ANN index build + k-NN self-join
 * (entity_embed/indexes.py:16-66). The HNSW graph is replaced by explode →
 * equi-join on bucket keys: no mutable index object, one wide shuffle,
 * Catalyst picks the physical join.
 */
object CandidateGen {

  final case class Result(candidates: DataFrame, oversizeLog: DataFrame)

  type PairFilter = (String, String) => org.apache.spark.sql.Column

  /** [[all]] with the MinHash stage alone. `dedupe` is unused: the output
    * always has one row per pair. */
  def minhashStage(sigs: DataFrame, cfg: GraftConfig,
      @scala.annotation.unused dedupe: Boolean = true): Result =
    all(sigs, cfg, useSimhash = false, useSpans = false)

  /** [[all]] with the SimHash stage alone. `dedupe` is unused: the output
    * always has one row per pair. */
  def simhashStage(sigs: DataFrame, cfg: GraftConfig,
      @scala.annotation.unused dedupe: Boolean = true): Result =
    all(sigs, cfg, useMinhash = false, useSpans = false)

  /** [[all]] with the span stage alone. */
  def spanStage(sigs: DataFrame, cfg: GraftConfig): Result =
    all(sigs, cfg, useMinhash = false, useSimhash = false)

  /**
   * The enabled stages as one bucket join, one row per (id1, id2) with a
   * deterministic lineage tag (the least stage name that found the pair —
   * 'minhash' < 'simhash' < 'span' alphabetically).
   *
   *  - MinHash LSH banding (SURVEY.md J1/J2): band keys are the buckets.
   *  - SimHash Hamming-ball (north-rule addition): the 64-bit fingerprint is
   *    banded into `simHashChunks` chunks; any two fingerprints within
   *    Hamming radius r < chunks agree on >= 1 chunk (pigeonhole), so an
   *    equi-join on chunk keys is a complete Hamming-ball candidate
   *    generator. The fingerprint rides with the membership row and the
   *    bit_count(a^b) <= r check runs inside the join (threshold pushdown —
   *    reference J4, indexes.py:40), on SimHash rows only.
   *  - Substring stage (north-rule "suffix-array substring stage"):
   *    winnowing fingerprints guarantee that any exact common substring of
   *    length >= winnowWindow + spanGramLen - 1 (<= minSpanLen) shares a
   *    selected fingerprint, so the single-hit equi-join on fingerprints is
   *    a complete blocker for spans >= minSpanLen. A pair must share
   *    >= minSpanHits fingerprints: a single shared 24-gram window is a
   *    phrase coincidence, true near-dup docs share dozens (measured: cuts
   *    span candidates ~20x at 160k pages; it trades that completeness away
   *    — see GraftConfig). Oversize fingerprint buckets are DROPPED
   *    (logged): a fingerprint shared by thousands of pages is boilerplate,
   *    and real near-dup pairs still share many normal-sized ones. Exact
   *    span extents are recovered per fingerprint group by SuffixSpans.
   *
   * `extra` columns ride along with each membership row and `pairFilter`
   * (over the "a"/"b" join aliases) is evaluated INSIDE the bucket join on
   * every stage's normal-bucket pairs — e.g. record linkage pushes
   * source-disjointness here, so intra-source collisions die streaming in
   * the join task instead of being verified and discarded afterwards
   * (reference cross-source-only invariant, entity_embed/indexes.py:123-130).
   */
  def all(sigs: DataFrame, cfg: GraftConfig,
      useMinhash: Boolean = true, useSimhash: Boolean = true,
      useSpans: Boolean = true,
      extra: Seq[String] = Nil, pairFilter: Option[PairFilter] = None): Result = {
    def stage(name: String, from: DataFrame, keys: String, payload: Seq[String],
        oversize: BucketJoin.OversizePolicy, minHits: Int) =
      BucketJoin.Stage(name, from.select(col("id") +: explode(col(keys)).as("bucket") +:
        (payload ++ extra).map(col): _*), oversize, minHits)
    val stages = Seq(
      Option.when(useMinhash)(
        stage("minhash", sigs, "band_keys", Nil, BucketJoin.Star, 1)),
      Option.when(useSimhash)(stage("simhash", sigs.filter(col("n_tokens") > 0),
        "simhash_chunks", Seq("simhash"), BucketJoin.Star, 1)),
      Option.when(useSpans)(
        stage("span", sigs, "span_keys", Nil, BucketJoin.Drop, cfg.minSpanHits))).flatten
    require(stages.nonEmpty, "at least one blocking stage must be enabled")
    val ball: Option[PairFilter] = Option.when(useSimhash)((a, b) =>
      col(s"$a.stage") =!= "simhash" ||
        bit_count(col(s"$a.simhash").bitwiseXOR(col(s"$b.simhash"))) <= cfg.hammingRadius)
    val filter = (ball ++ pairFilter).reduceOption[PairFilter]((f, g) => (a, b) => f(a, b) && g(a, b))
    val r = BucketJoin.pairs(stages, cfg.maxBandBucket, filter)
    Result(r.pairs, r.oversizeLog)
  }
}
