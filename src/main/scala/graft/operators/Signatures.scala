package graft.operators

import graft.config.GraftConfig
import graft.functions.TextSignatures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stage 1 — per-document signature projection. Embarrassingly parallel: no
 * shuffle; Catalyst fuses the UDF call and the struct-field selects into one
 * whole-stage-codegen projection over the Parquet scan (only `id` + `text`
 * are read thanks to column pruning — verify with .explain "ReadSchema").
 *
 * Replaces the reference's embed step (entity_embed/entity_embed.py:277-321
 * `predict` → vector_dict); one signature bundle per row instead of a
 * 300-dim float vector.
 */
object Signatures {

  final case class SigRow(
      shingles: Array[Long],
      minhash: Array[Long],
      minhash8: Array[Long],
      band_keys: Array[Long],
      simhash: Long,
      simhash_chunks: Array[Long],
      span_keys: Array[Long],
      n_shingles: Int,
      n_tokens: Int)

  /** Column-level signature UDF (one pass; see TextSignatures.compute). */
  private def sigUdf(cfg: GraftConfig, emitShingles: Boolean,
      parts: TextSignatures.SigParts) =
    udf { (text: String) =>
    val s = TextSignatures.compute(text, cfg, emitShingles, parts)
    SigRow(s.shingles,
      if (emitShingles) s.minhash else Array.emptyLongArray, // narrow mode:
      // tier-1 runs on the packed lanes; the full 1KB signature is never
      // stored or shuffled
      s.minhash8, s.bandKeys, s.simhash, s.simhashChunks,
      s.spanKeys, s.nShingles, s.nTokens)
    }

  /**
   * df(id, text, ...) -> df(id, shingles, band_keys, simhash, simhash_chunks,
   * span_keys, n_shingles, n_tokens). `text` itself is NOT carried forward —
   * downstream stages only ever see derived columns (byte-identity invariant).
   *
   * emitShingles = false drops the shingle-array column (and skips building
   * the array in the kernel): ~8 bytes/char of corpus that the text-mode
   * verify tier (JaccardVerify texts=...) never needs — the signature
   * bundle shrinks ~7x, which is most of the stage's persist/cache traffic.
   *
   * `parts` limits which signature families the kernel computes (see
   * TextSignatures.SigParts) — MinHash-only consumers (MinHash-only dedup,
   * pairs mode with one blocking stage) skip the SimHash token vote and the
   * winnowing pass entirely.
   */
  def compute(df: DataFrame, cfg: GraftConfig,
      idCol: String = "id", textCol: String = "text",
      emitShingles: Boolean = true,
      parts: TextSignatures.SigParts = TextSignatures.SigParts.all): DataFrame = {
    val out = df.select(col(idCol).as("id"),
        sigUdf(cfg, emitShingles, parts)(col(textCol)).as("sig"))
      .select(col("id"), col("sig.*"))
    if (emitShingles) out else out.drop("shingles").drop("minhash")
  }
}
