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
      minhash8: Array[Long],
      band_keys: Array[Long],
      simhash: Long,
      simhash_chunks: Array[Long],
      span_keys: Array[Long],
      n_shingles: Int,
      n_tokens: Int)

  /** Column-level signature UDF (one pass; see TextSignatures.compute). */
  private def sigUdf(cfg: GraftConfig, parts: TextSignatures.SigParts) =
    udf { (text: String) =>
    val s = TextSignatures.compute(text, cfg, parts)
    SigRow(s.minhash8, s.bandKeys, s.simhash, s.simhashChunks,
      s.spanKeys, s.nShingles, s.nTokens)
    }

  /**
   * df(id, text, ...) -> df(id, minhash8, band_keys, simhash, simhash_chunks,
   * span_keys, n_shingles, n_tokens): the one signature bundle. `text`
   * itself is NOT carried forward — downstream stages only ever see derived
   * columns (byte-identity invariant). Neither the shingle set (~8
   * bytes/char of corpus) nor the full 64-bit MinHash lanes are stored:
   * exact verify recomputes Jaccard from the text, and the tier-1 estimate
   * scores the packed 8-bit lanes (JaccardVerify).
   *
   * `parts` limits which signature families the kernel computes (see
   * TextSignatures.SigParts) — MinHash-only consumers (MinHash-only dedup,
   * pairs mode with one blocking stage) skip the SimHash token vote and the
   * winnowing pass entirely.
   *
   * @param emitShingles has no effect; kept for callers that pass it by name.
   */
  def compute(df: DataFrame, cfg: GraftConfig,
      idCol: String = "id", textCol: String = "text",
      @scala.annotation.unused emitShingles: Boolean = false,
      parts: TextSignatures.SigParts = TextSignatures.SigParts.all): DataFrame =
    df.select(col(idCol).as("id"), sigUdf(cfg, parts)(col(textCol)).as("sig"))
      .select(col("id"), col("sig.*"))
}
