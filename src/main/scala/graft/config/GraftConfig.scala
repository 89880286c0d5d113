package graft.config

/**
 * The signature/blocking configuration every stage, test and bench binds to.
 * Its one setting is the Jaccard threshold (Cli `--threshold` / `--sweep`);
 * every other parameter is a fixed constant, so two runs of the engine
 * always compute the same signatures and a checkpoint resume cannot mix
 * two signature families. Per-field signature settings live in
 * MultiField's JSON `FieldSpec`.
 *
 * Role mirror of the reference's `field_config_dict`
 * (reference: entity_embed/data_utils/field_config_parser.py:29-150): where the
 * reference binds per-field numericalizers (tokenizer, alphabet, max_str_len),
 * we bind the deterministic signature parameters.
 *
 * LSH S-curve: P(candidate | jaccard=s) = 1 - (1 - s^rows)^bands.
 * 128 perms as 32 bands x 4 rows puts the knee near
 * (1/32)^(1/4) ~= 0.42, i.e. pairs with s >= 0.6 are caught with
 * probability > 1 - (1-0.6^4)^32 ~= 0.993 by MinHash alone; the SimHash and
 * suffix stages (unioned candidates) push planted-duplicate recall >= 0.99.
 */
final case class GraftConfig(
    // Jaccard verification (reference J4 threshold,
    // indexes.py:40 `distance <= 1 - sim_threshold`)
    simThreshold: Double = 0.6) {
  require(simThreshold >= 0 && simThreshold <= 1, "0 <= simThreshold <= 1")

  // Fixed signature constants. Changing any of them changes signature
  // VALUES, so TextSignatures.formatVersion must be bumped with it (resumes
  // check only that version). Their invariants (numPerm = bands x
  // rowsPerBand, radius < chunks, the winnowing bound) are pinned by
  // TextSignaturesSpec.

  // --- char-shingle MinHash (syntactic signature; replaces reference P8,
  //     models.py:8-52 StringEmbedCNN "edit distance" embedding) ---
  final val shingleK = 5
  final val numPerm = 128
  final val bands = 32
  final val rowsPerBand = 4
  // --- SimHash + Hamming-ball stage (north-rule addition) ---
  final val simHashBits = 64
  // radius+1 chunks of 16 bits: pigeonhole still complete for radius <= 3,
  // and 2^16 values per chunk keeps buckets sparse. 8-bit chunks (2^8
  // values) were a scale bug: at 40k docs every chunk bucket held hundreds
  // of members and near-cap buckets emitted O(cap^2) pairs -> disk blowup.
  final val simHashChunks = 4
  final val hammingRadius = 3
  // --- winnowing/suffix-array substring stage (north-rule addition) ---
  final val minSpanLen = 48 // min exact-duplicate span length (chars)
  final val winnowWindow = 16 // winnowing guarantee: any common substring of
  // length >= winnowWindow + spanGramLen - 1 (= 39) shares >= 1 selected
  // fingerprint; since 39 <= minSpanLen the single-hit blocker is complete
  // for spans >= minSpanLen
  final val spanGramLen = 24 // k-gram length for winnowing fingerprints
  final val minSpanHits = 2 // pair must share >= this many fingerprints to
  // become a dedup candidate. EXPLICIT RECALL TRADEOFF: requiring 2 hits
  // breaks the single-fingerprint completeness guarantee above — a pair
  // sharing exactly one selected window is dropped as a phrase
  // coincidence (true near-dup docs share dozens of fingerprints;
  // measured ~20x candidate reduction at 160k pages)
  // --- skew handling ---
  final val maxBandBucket = 256 // band-frequency cap: buckets larger than this
  // degrade to star pairs (logged to metrics — no silent drops). Bounds
  // worst-case per-bucket emission at C(256,2) ~= 33k pairs; a genuine
  // near-dup mega-bucket stays fully connected through its star hub.
  // --- determinism ---
  final val seed = 42L
}

object GraftConfig {
  /** The fixed config every gate binds to. */
  val default: GraftConfig = GraftConfig()
}
