package graft.operators

import graft.config.GraftConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Deduplication operator family for training-data pipelines, over a
 * (doc_id, text) table. Exact dedup is a hash aggregation; the near-dup variants
 * reuse the blocking stages (CandidateGen) at document granularity.
 */
object Dedup {

  /** Exact duplicate pairs (id1 < id2), scale form: the self-join moves
    * only (id, xxhash64(text), length(text)) — 24 bytes/row — through the
    * exchange; full text is compared ONLY for hash+length-colliding
    * candidate pairs (≈ true dups + ~0 64-bit collisions) via id-keyed
    * joins whose probe side is the tiny candidate set (AQE broadcasts it,
    * so the text column never enters an exchange at all on the common
    * path). Result identical to a full-text self-join. */
  def exactDupPairs(docs: DataFrame): DataFrame = {
    val h = docs.select(col("doc_id").as("id"),
      xxhash64(col("text")).as("h"), length(col("text")).as("len"))
    val cand = h.as("a").join(h.as("b"),
        col("a.h") === col("b.h") && col("a.len") === col("b.len")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    val t = docs.select(col("doc_id").as("id"), col("text").as("t"))
    cand
      .join(t.select(col("id").as("id1"), col("t").as("t1")), "id1")
      .join(t.select(col("id").as("id2"), col("t").as("t2")), "id2")
      .filter(col("t1") === col("t2"))
      .select(col("id1"), col("id2"))
  }

  /**
   * Word-token n-gram Jaccard near-dup pairs — EXACT (same result set as a
   * brute-force all-pairs compare, which the DuckDB oracle still uses), but
   * executed as a prefix-filter set-similarity equi-join (SetSimJoin:
   * AllPairs/PPJoin), so it is sub-quadratic and shuffle-partitionable at
   * web scale instead of a cartesian product.
   */
  def tokenJaccardPairs(docs: DataFrame, threshold: Double, ngram: Int = 1): DataFrame =
    ConfScope.smallInputScope(docs.sparkSession, docs) {
    // n-gram identity = hash of the n consecutive TOKEN HASHES, not of the
    // joined string: set counts are unchanged (modulo 64-bit collisions, the
    // engine-wide convention), and the projection is O(tokens) — the
    // string-concat form (slice + concat_ws per position) copied O(tokens²)
    // chars per document and was the hottest expression in the whole join.
    val toks = split(lower(trim(col("text"))), "\\s+")
    val th = docs.select(col("doc_id").as("id"),
      transform(toks, t => xxhash64(t)).as("th"))
    val grams =
      if (ngram == 1) array_distinct(col("th"))
      else when(size(col("th")) >= ngram,
        array_distinct(transform(
          sequence(lit(1), size(col("th")) - (ngram - 1)),
          i => xxhash64((0 until ngram).map(j => element_at(col("th"), i + j)): _*))))
        .otherwise(array().cast("array<long>"))
    val d = th.select(col("id"), grams.as("g"))
    SetSimJoin.jaccardSelfJoin(d, threshold)
    }

  /** MinHash+LSH near-dup pairs over a (doc_id, text) table — the scale path. */
  def minhashDupPairs(docs: DataFrame, cfg: GraftConfig): DataFrame =
    ConfScope.smallInputScope(docs.sparkSession, docs) { CacheScope.run { s =>
    // kept: consumed by the banding stage and twice by the verify joins
    val sigs = s.keep(Signatures.compute(docs, cfg, "doc_id",
        parts = graft.functions.TextSignatures.SigParts.minhashOnly))
    val cands = CandidateGen.minhashStage(sigs, cfg)
    val texts = docs.select(col("doc_id").cast("long").as("id"), col("text"))
    val out = JaccardVerify.verify(cands.candidates, sigs, cfg, texts = Some(texts))
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint()
    BucketJoin.warnOversize(cands.oversizeLog)
    out
    } }

  /**
   * Embedding-cosine near-dup pairs over a (vec_id, embedding Array[Float])
   * table: brute-force O(n²) self-join scored with the dotProduct kernel
   * (Ann.bruteCosinePairs). Scale path = Ann.lshCosinePairs.
   */
  def embeddingCosinePairs(emb: DataFrame, threshold: Double): DataFrame =
    Ann.bruteCosinePairs(Ann.prep(emb), threshold)
}
