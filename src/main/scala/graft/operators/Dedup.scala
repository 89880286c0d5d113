package graft.operators

import graft.config.GraftConfig
import graft.expressions.SimilarityExpressions
import graft.functions.TextSignatures
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
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
    ConfScope.pipelineScope(docs.sparkSession, docs) {
      SetSimJoin.jaccardSelfJoin(wordNgrams(docs, ngram), threshold)
    }

  /** (id, g): each doc's sorted distinct word n-gram hashes. An n-gram's
    * identity is the hash of its n consecutive TOKEN HASHES, not of the
    * joined string: set counts are unchanged (modulo 64-bit collisions, the
    * engine-wide convention), and one kernel call per doc builds the set
    * (SimilarityExpressions.wordNgramHashes). */
  private[graft] def wordNgrams(docs: DataFrame, ngram: Int): DataFrame =
    docs.select(col("doc_id").as("id"),
      SimilarityExpressions.wordNgramHashes(col("text"), ngram).as("g"))

  /** MinHash+LSH near-dup pairs over a (doc_id, text) table — the scale path. */
  def minhashDupPairs(docs: DataFrame, cfg: GraftConfig): DataFrame =
    ConfScope.smallInputScope(docs.sparkSession, docs) { CacheScope.run { s =>
    val r = signaturePairs(s, docs.select(col("doc_id").cast("long").as("id"),
      col("text")), cfg, exact = true, useSimhash = false, useSpans = false)
    val out = r.pairs
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint()
    BucketJoin.warnOversize(r.oversizeLog)
    out
    } }

  /** The one signature-blocked pairs plan (reference `predict_pairs`,
    * cli.py:429-524): input(id: long, text [, extra...]) → signatures of
    * the families the enabled stages read, kept in `s` and lineage-cut
    * (GraftSqlBridge.truncateLineage) → CandidateGen.all, where `extra`
    * rides along for `pairFilter` → JaccardVerify.verify, exact or tier-1
    * estimate. The caller reports the oversize log and materializes the
    * pairs before `s` closes. */
  private[graft] def signaturePairs(s: CacheScope, input: DataFrame, cfg: GraftConfig,
      exact: Boolean, useMinhash: Boolean = true, useSimhash: Boolean = true,
      useSpans: Boolean = true, extra: Seq[String] = Nil,
      pairFilter: Option[CandidateGen.PairFilter] = None): BucketJoin.Result = {
    val computed = Signatures.compute(input, cfg,
      parts = TextSignatures.SigParts(simhash = useSimhash, spans = useSpans))
    val sigs = GraftSqlBridge.truncateLineageLocal(s.keep(
      if (extra.isEmpty) computed
      else computed.join(input.select(("id" +: extra).map(col): _*), "id")))
    val cands = CandidateGen.all(sigs, cfg, useMinhash, useSimhash, useSpans, extra, pairFilter)
    BucketJoin.Result(
      JaccardVerify.verify(cands.candidates, sigs, cfg, estimate = !exact,
        texts = Option.when(exact)(input.select(col("id"), col("text")))),
      cands.oversizeLog)
  }

  /**
   * Embedding-cosine near-dup pairs over a (vec_id, embedding Array[Float])
   * table: brute-force O(n²) self-join scored with the dotProduct kernel
   * (Ann.bruteCosinePairs). Scale path = Ann.lshCosinePairs.
   */
  def embeddingCosinePairs(emb: DataFrame, threshold: Double): DataFrame =
    Ann.bruteCosinePairs(Ann.prep(emb), threshold)
}
