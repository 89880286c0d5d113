package graft.operators

import graft.config.GraftConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stage 2 — candidate generation. Three independent blocking stages over the
 * signature table (north rule): MinHash LSH banding, SimHash Hamming-ball,
 * winnowing-fingerprint substring blocking. Each emits canonical candidate
 * pairs tagged with its stage name (lineage); the union feeds Jaccard
 * verification.
 *
 * Reference analog: ANN index build + k-NN self-join
 * (entity_embed/indexes.py:16-66). The HNSW graph is replaced by explode →
 * equi-join on bucket keys: no mutable index object, one wide shuffle,
 * Catalyst picks the physical join.
 */
object CandidateGen {

  final case class Result(candidates: DataFrame, oversizeLog: DataFrame)

  type PairFilter = (String, String) => org.apache.spark.sql.Column

  /**
   * MinHash LSH banding (SURVEY.md J1/J2): explode band keys → bucket join.
   * `dedupe = false` (see BucketJoin.pairs) is for [[all]]'s union only.
   *
   * `extra` columns ride along with each membership row and `pairFilter`
   * (over the "a"/"b" join aliases) is evaluated INSIDE the bucket join —
   * e.g. record linkage pushes source-disjointness here, so intra-source
   * collisions die streaming in the join task instead of being verified
   * and discarded afterwards (reference cross-source-only invariant,
   * entity_embed/indexes.py:123-130). The same two parameters work the same
   * way in every stage below.
   */
  def minhashStage(sigs: DataFrame, cfg: GraftConfig,
      extra: Seq[String] = Nil, pairFilter: Option[PairFilter] = None,
      dedupe: Boolean = true): Result = {
    val m = sigs.select(col("id") +: explode(col("band_keys")).as("bucket") +:
      extra.map(col): _*)
    val r = BucketJoin.pairs(m, cfg.maxBandBucket, "minhash", pairFilter,
      dedupe = dedupe)
    Result(r.pairs.withColumn("stage", lit("minhash")), r.oversizeLog)
  }

  /**
   * SimHash Hamming-ball (north-rule addition): the 64-bit fingerprint is
   * banded into `simHashChunks` chunks; any two fingerprints within Hamming
   * radius r < chunks agree on >= 1 chunk (pigeonhole), so an equi-join on
   * chunk keys is a complete Hamming-ball candidate generator. The
   * bit_count(a^b) <= r check is applied right here (threshold pushdown —
   * reference J4, indexes.py:40) so only in-ball pairs reach verification.
   */
  def simhashStage(sigs: DataFrame, cfg: GraftConfig,
      extra: Seq[String] = Nil, pairFilter: Option[PairFilter] = None,
      dedupe: Boolean = true): Result = {
    val nonEmpty = sigs.filter(col("n_tokens") > 0)
    // fingerprint travels WITH the membership row so the Hamming check runs
    // inside the bucket-join stage: non-ball collision pairs die streaming
    // in the join task and never reach the distinct's pair-key exchange
    val m = nonEmpty.select(col("id") +:
      explode(col("simhash_chunks")).as("bucket") +: col("simhash") +:
      extra.map(col): _*)
    val ball: PairFilter = (a, b) =>
      bit_count(col(s"$a.simhash").bitwiseXOR(col(s"$b.simhash"))) <= cfg.hammingRadius
    val combined: PairFilter = pairFilter match {
      case Some(f) => (a, b) => ball(a, b) && f(a, b)
      case None => ball
    }
    val r = BucketJoin.pairs(m, cfg.maxBandBucket, "simhash", Some(combined),
      dedupe = dedupe)
    Result(r.pairs.withColumn("stage", lit("simhash")), r.oversizeLog)
  }

  /**
   * Substring stage (north-rule "suffix-array substring stage"): winnowing
   * fingerprints guarantee that any exact common substring of length >=
   * winnowWindow + spanGramLen - 1 (<= minSpanLen, pinned by the GraftConfig constants)
   * shares a selected fingerprint, so the single-hit equi-join on
   * fingerprints is a complete blocker for spans >= minSpanLen (the
   * minSpanHits >= 2 corroboration below trades that completeness for a
   * ~20x candidate reduction — see GraftConfig). Exact span extents are recovered per fingerprint
   * group by SuffixSpans (suffix-array over the co-bucketed docs).
   */
  def spanStage(sigs: DataFrame, cfg: GraftConfig,
      extra: Seq[String] = Nil, pairFilter: Option[PairFilter] = None): Result = {
    val m = sigs.select(col("id") +: explode(col("span_keys")).as("bucket") +:
      extra.map(col): _*)
    // oversize fingerprint buckets are DROPPED (logged): a fingerprint
    // shared by thousands of pages is boilerplate — real near-dup pairs
    // still share many normal-sized fingerprint buckets. Corroboration:
    // a pair must share >= minSpanHits fingerprints — a single shared
    // 24-gram window is a phrase coincidence, true near-dup docs share
    // dozens (measured: cuts span candidates ~20x at 160k pages).
    val r = BucketJoin.pairs(m, cfg.maxBandBucket, "span", pairFilter,
      BucketJoin.Drop, countHits = true)
    Result(r.pairs.filter(col("hits") >= cfg.minSpanHits).drop("hits")
      .withColumn("stage", lit("span")), r.oversizeLog)
  }

  /**
   * Union of all enabled stages, deduped to one row per (id1, id2) keeping a
   * deterministic lineage tag (min stage name — 'minhash' < 'simhash' <
   * 'span' alphabetically; all stages are recorded in the per-stage metrics).
   */
  def all(sigs: DataFrame, cfg: GraftConfig,
      useMinhash: Boolean = true, useSimhash: Boolean = true,
      useSpans: Boolean = true,
      extra: Seq[String] = Nil, pairFilter: Option[PairFilter] = None): Result = {
    // minhash/simhash pairs go into the union RAW (dedupe = false): the
    // groupBy below dedupes once for all stages, and its partial aggregation
    // bounds the exchange volume exactly like the removed per-stage
    // distincts did — one full exchange per stage disappears (the span
    // stage keeps its own groupBy: the hits >= minSpanHits corroboration
    // filter must run before the union).
    val stages = Seq(
      if (useMinhash) Some(minhashStage(sigs, cfg, extra, pairFilter,
        dedupe = false)) else None,
      if (useSimhash) Some(simhashStage(sigs, cfg, extra, pairFilter,
        dedupe = false)) else None,
      if (useSpans) Some(spanStage(sigs, cfg, extra, pairFilter)) else None).flatten
    require(stages.nonEmpty, "at least one blocking stage must be enabled")
    val cands = stages.map(_.candidates).reduce(_ union _)
      .groupBy("id1", "id2").agg(min("stage").as("stage"))
    val logs = stages.map(_.oversizeLog).reduce(_ union _)
    Result(cands, logs)
  }
}
