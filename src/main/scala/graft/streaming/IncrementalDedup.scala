package graft.streaming

import graft.config.GraftConfig
import graft.functions.TextSignatures.SigParts
import graft.operators.Signatures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Incremental crawl-snapshot dedup via Structured Streaming (engine
 * extension — the reference is purely batch, SURVEY.md §2 streaming row;
 * this is the streaming shape a continuously-crawling training-data
 * pipeline needs).
 *
 * Shape: a STREAM of newly crawled pages is signed with the same
 * deterministic kernel, exploded to band keys, and stream-static joined
 * against the accumulated band table of the existing corpus — every
 * micro-batch emits candidate duplicate pairs (new_id, existing_id) without
 * recomputing anything over the old corpus. Exactly the batch pipeline's
 * stage-2 join with one side streaming; the static side is the stage-1
 * checkpoint Parquet, so batch and streaming share one storage layout.
 *
 * Verification/clustering stay in the batch layer (candidates are appended
 * and periodically folded in by re-running CC on the union — the standard
 * lambda shape for web-scale dedup).
 */
object IncrementalDedup {

  /** Static side: (id, bucket) band memberships of the existing corpus,
    * SKEW-CAPPED like every batch blocking stage: a boilerplate mega-band
    * (bucket with > cfg.maxBandBucket members) would multiply EVERY
    * matching micro-batch row by its full membership — unbounded per-batch
    * output from one bad bucket. Oversize buckets degrade to their min-id
    * member as a hub (same Star connectivity policy as BucketJoin: a new
    * page matching the band still links into the bucket's component through
    * the hub), and the capped buckets are available via [[oversizeLog]] —
    * no silent drops. */
  def staticBandTable(pages: DataFrame, cfg: GraftConfig): DataFrame =
    cappedMemberships(pages, cfg).select(col("id"), col("bucket"))

  /** Capped static bands (stage, bucket, bucket_n, policy) — the streaming
    * analog of BucketJoin's oversize log: the hub rows of the oversize
    * buckets. */
  def oversizeLog(pages: DataFrame, cfg: GraftConfig): DataFrame =
    cappedMemberships(pages, cfg)
      .filter(col("bucket_n") > cfg.maxBandBucket)
      .select(lit("stream_static_bands").as("stage"), col("bucket"),
        col("bucket_n"), lit("Star").as("policy"))

  /** Skew-capped band memberships (id, <payload>, bucket, bucket_n) of a
    * static corpus: every member of a bucket of <= maxBandBucket ids, only
    * the min-id hub of a larger one. */
  private def cappedMemberships(pages: DataFrame, cfg: GraftConfig,
      payload: String*): DataFrame = {
    val w = Window.partitionBy("bucket")
    Signatures.compute(pages, cfg, emitShingles = false, parts = SigParts.minhashOnly)
      .select((col("id") +: payload.map(col)) :+ explode(col("band_keys")).as("bucket"): _*)
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("bucket_min", min("id").over(w))
      .filter(col("bucket_n") <= cfg.maxBandBucket || col("id") === col("bucket_min"))
  }

  /**
   * streamingPages(id, text) [streaming DF] x static band table →
   * streaming candidate pairs (new_id, existing_id, bucket).
   */
  def candidates(streamingPages: DataFrame, staticBands: DataFrame,
      cfg: GraftConfig): DataFrame = {
    val newBands = Signatures.compute(streamingPages, cfg, emitShingles = false,
      parts = SigParts.minhashOnly)
      .select(col("id").as("new_id"), explode(col("band_keys")).as("bucket"))
    newBands.join(staticBands.withColumnRenamed("id", "existing_id"), "bucket")
      .filter(col("new_id") =!= col("existing_id"))
      .select(col("new_id"), col("existing_id"))
  }

  /** Static side for the SCORED path: the skew-capped band memberships of
    * [[staticBandTable]] with the packed tier-1 signature (minhash8) riding
    * along each membership row, so the stream-side verify is a plain
    * stream-static equi-join — no second lookup table. ~numPerm bytes per
    * membership row of extra payload. */
  def staticScoredTable(pages: DataFrame, cfg: GraftConfig): DataFrame =
    cappedMemberships(pages, cfg, "minhash8")
      .select(col("id"), col("bucket"), col("minhash8"))

  /**
   * Streaming VERIFY tier: micro-batches emit SCORED pairs
   * (new_id, existing_id, est), not raw band collisions — the streaming
   * analog of JaccardVerify's tier 1. Each new page is signed once, its
   * band keys joined against [[staticScoredTable]], and every collision is
   * scored with the packed MinHash agreement estimator INSIDE the join
   * stage; pairs below simThreshold − margin die streaming in the join
   * task. margin defaults to the batch tier's 3.5σ, so streamed pairs are a
   * superset of what the batch layer's exact verify would keep for the same
   * snapshot (the batch fold-in stays the exact/clustering authority —
   * lambda shape unchanged).
   *
   * A pair colliding in k band buckets is emitted k times (identical est);
   * streaming dedup would need unbounded state, and the batch fold-in
   * dedupes anyway — use `.dropDuplicates` on a bounded window downstream
   * if the sink needs uniqueness.
   */
  def scoredCandidates(streamingPages: DataFrame, staticScored: DataFrame,
      cfg: GraftConfig, margin: Option[Double] = None): DataFrame = {
    val t = cfg.simThreshold
    val m = margin.getOrElse(3.5 * math.sqrt(t * (1 - t) / cfg.numPerm))
    val newBands = Signatures.compute(streamingPages, cfg, emitShingles = false,
      parts = SigParts.minhashOnly)
      .select(col("id").as("new_id"), col("minhash8").as("mh_new"),
        explode(col("band_keys")).as("bucket"))
    newBands
      .join(staticScored.select(col("id").as("existing_id"), col("bucket"),
        col("minhash8").as("mh_old")), "bucket")
      .filter(col("new_id") =!= col("existing_id"))
      .select(col("new_id"), col("existing_id"),
        graft.expressions.SimilarityExpressions
          .minhashAgreementPacked(col("mh_new"), col("mh_old"), cfg.numPerm)
          .as("est"))
      .filter(col("est") >= t - m)
  }
}
