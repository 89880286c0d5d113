package graft.functions

import graft.config.GraftConfig
import Hashing._

/**
 * The per-document signature kernel — one pass over the text computes every
 * deterministic signature the blocking stages need. Runs once per row inside
 * a Spark projection; at 10^12-document scale this is the single hottest
 * function in the engine, so it is written allocation-light with primitive
 * arrays and no regex.
 *
 * Replaces the reference's learned embedding path
 * (entity_embed/models.py:8-52 StringEmbedCNN + entity_embed.py:277-321
 * `predict`) per BASELINE.json::north_rule: MinHash over char shingles
 * (syntactic, edit-distance-sensitive like the CNN it replaces), SimHash over
 * word tokens (semantic analog of models.py:55-66), winnowing fingerprints
 * feeding the suffix-array substring stage.
 *
 * Empty/too-short text yields NO signatures — the reference zeroes empty
 * fields so "empty must not match empty" (models.py:253-256, CHANGELOG 0.0.4);
 * we encode that as empty arrays which the explode-based blocking skips.
 */
object TextSignatures {

  /** Signature FORMAT version, hashed into Cli's checkpoint scope
    * directory and stamped into the schema of the pipeline's versioned
    * stage tables (DedupPipeline.stage, `DedupPipeline.FormatKey`), so a
    * resume can never mix signatures from two hash families (round-5
    * advisor finding): v1 = a*h+b mod 2^61-1 MinHash family (rounds 1-4),
    * v2 = the wraparound odd-multiplier family (round 5+). Bump on any
    * change that alters minhash/band/simhash/span key VALUES, including a
    * change to a GraftConfig signature constant. */
  val formatVersion: Int = 2

  final case class Sig(
      minhash: Array[Long], // numPerm MinHash values (the band keys' input)
      minhash8: Array[Long], // numPerm low bytes, 8 per long — the tier-1
      // estimate payload: position-wise EQUALITY is all the agreement
      // estimator uses, and an 8-bit lane false-equals with p = 1/256,
      // biasing the estimate UP by <= (1-j)/256 ~ 0.004 — far inside the
      // verify margin (3.5 sigma ~ 0.15) and harmless anyway since tier 2
      // is exact. 8x smaller than the full signature in every join.
      bandKeys: Array[Long], // one LSH join key per band (band idx mixed in)
      simhash: Long, // 64-bit SimHash fingerprint over word tokens
      simhashChunks: Array[Long], // Hamming-ball block keys (chunk idx mixed in)
      spanKeys: Array[Long], // winnowing fingerprints (suffix/substring stage)
      nShingles: Int,
      nTokens: Int)

  val empty: Sig = Sig(Array.empty, Array.empty, Array.empty, 0L, Array.empty, Array.empty, 0, 0)

  /** Which optional signature families to compute. At 10^12 documents the
    * kernel is the hottest function in the engine — a consumer that only
    * runs MinHash blocking (e.g. MinHash-only dedup) should not pay for the
    * SimHash token vote or the winnowing pass. MinHash is always computed:
    * every verify tier 1 scores its packed lanes. Disabled parts come back
    * as empty arrays / zeros, which the explode-based blocking skips
    * naturally. */
  final case class SigParts(
      simhash: Boolean = true,
      spans: Boolean = true)
  object SigParts {
    val all: SigParts = SigParts()
    val minhashOnly: SigParts = SigParts(simhash = false, spans = false)
  }

  /** Permutation parameters derived deterministically from the seed
    * constant (one table: the signature constants are fixed, see GraftConfig).
    *
    * Hash family (round-5 change, 10x on the kernel's dominant loop): the
    * per-perm map is v = a*h + b over Z/2^64 with ODD a, compared in the
    * sign-flipped domain (= unsigned min). The previous a*h+b mod 2^61-1
    * needed Math.multiplyHigh + fold + two conditional subtracts per
    * (shingle, perm) — ~150 Mops/core; the wraparound form is three ALU ops
    * the JIT auto-vectorizes — measured 1.5-1.8 Gops/core
    * (the MinhashBench microbench, last in commit 24a9999). Input h is
    * already avalanched (hashChars finalizes with mix64), so the
    * multiply-add's high bits — which decide the min — are well mixed;
    * min-wise quality is validated empirically by the statistical
    * agreement spec and the pipeline's recall >= 0.99 gates (the mod-prime
    * family is only approximately min-wise independent too). */
  private object perms {
    private val c = GraftConfig.default
    val a: Array[Long] = stream(c.seed, c.numPerm).map(_ | 1L)
    val b: Array[Long] = stream(c.seed + 0x5ee1e5eedL, c.numPerm)
  }

  /**
   * Per-thread scratch buffers. The kernel runs once per document on an
   * executor task thread; allocating its working set (shingle dedup table,
   * winnowing gram/deque buffers) per DOCUMENT was ~4 GB of small-object
   * churn per 60k pages — and allocation write-bandwidth is precisely the
   * shared resource that breaks N→4N scaling on a packed host (profiled:
   * pure compute scales 0.86, allocation scales 0.44 at 8→32 threads).
   * Buffers only grow (power-of-2) and are reused forever; only the arrays
   * that ESCAPE into output rows are freshly allocated.
   */
  private final class Scratch {
    val shingles = new Hashing.ScratchLongSet(4096)
    val winnowPicked = new Hashing.ScratchLongSet(512)
    var hs: Array[Long] = new Array[Long](4096)
    var deque: Array[Int] = new Array[Int](4096)
    def ensureGrams(n: Int): Unit = if (hs.length < n) {
      val c = Integer.highestOneBit(n - 1) << 1
      hs = new Array[Long](c)
      deque = new Array[Int](c)
    }
  }
  private val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /**
   * Normalize for signature purposes ONLY (the stored `text` column is never
   * touched — byte-identity invariant): lowercase, collapse whitespace runs
   * to single spaces, trim. Mirrors the reference's derived-column char
   * cleanup (numericalizer.py:89-97) without its lossy 69-char alphabet.
   */
  def normalize(text: String): Array[Char] = {
    val n = text.length
    val out = new Array[Char](n)
    var j = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) {
        if (j > 0) pendingSpace = true
      } else {
        if (pendingSpace) { out(j) = ' '; j += 1; pendingSpace = false }
        out(j) = Character.toLowerCase(c); j += 1
      }
      i += 1
    }
    if (j == n) out else java.util.Arrays.copyOf(out, j)
  }

  /** Distinct k-shingle hashes of a normalized char array, sorted. */
  def shingleSet(cs: Array[Char], k: Int): Array[Long] = {
    if (cs.length < k) return Array.empty
    val set = scratch.get().shingles
    set.clear()
    var i = 0
    val last = cs.length - k
    while (i <= last) {
      set.add(hashChars(cs, i, i + k))
      i += 1
    }
    set.toSortedArray
  }

  /** Calls `f` with the hash of each word token of a normalized char array,
    * in order, and returns the token count. normalize() collapsed all
    * whitespace runs to single spaces, so token spans are the gaps between
    * ' ' chars. The one token walk: [[tokenHashSet]] and the SimHash vote. */
  private def foreachTokenHash(cs: Array[Char])(f: Long => Unit): Int = {
    var n = 0
    var start = 0
    var i = 0
    while (i <= cs.length) {
      if (i == cs.length || cs(i) == ' ') {
        if (i > start) { f(hashChars(cs, start, i)); n += 1 }
        start = i + 1
      }
      i += 1
    }
    n
  }

  /** Distinct word-token hashes of a normalized char array, sorted — the
    * word-token analog of [[shingleSet]]. Empty input → empty array. */
  def tokenHashSet(cs: Array[Char]): Array[Long] = {
    if (cs.length == 0) return Array.empty
    val set = scratch.get().shingles
    set.clear()
    foreachTokenHash(cs)(h => set.add(h))
    set.toSortedArray
  }

  /** Full signature bundle; single pass over the text. The shingle set is
    * counted, never materialized: exact verify recomputes it from the text.
    * `parts` limits which signature families are computed (see SigParts). */
  def compute(text: String, cfg: GraftConfig,
      parts: SigParts = SigParts.all): Sig = {
    if (text == null) return empty
    val cs = normalize(text)
    if (cs.length < cfg.shingleK) return empty

    // --- distinct shingle hashes + streaming MinHash (the 128-perm inner
    //     loop is the kernel's dominant cost) ---
    val k = cfg.shingleK
    val set = scratch.get().shingles
    set.clear()
    val sig = new Array[Long](cfg.numPerm)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    val last = cs.length - k
    val pa = perms.a
    val pb = perms.b
    while (i <= last) {
      val h = hashChars(cs, i, i + k)
      if (set.add(h)) {
        // sig holds SIGN-FLIPPED values during the scan (unsigned min via
        // signed compare); unflipped in one pass below — see perms doc
        var p = 0
        while (p < cfg.numPerm) {
          val v = (pa(p) * h + pb(p)) ^ Long.MinValue
          if (v < sig(p)) sig(p) = v
          p += 1
        }
      }
      i += 1
    }
    // unflip, and pack the 8-bit minhash lanes (see Sig.minhash8)
    val packed = new Array[Long]((cfg.numPerm + 7) / 8)
    var lane = 0
    while (lane < cfg.numPerm) {
      sig(lane) ^= Long.MinValue
      packed(lane >>> 3) |= (sig(lane) & 0xFFL) << ((lane & 7) * 8)
      lane += 1
    }
    val nShingles = set.size

    // --- LSH band keys: hash r consecutive sig rows per band, mix band idx
    //     so band 3's bucket space never collides with band 7's ---
    val bandKeys = new Array[Long](cfg.bands)
    var bnd = 0
    while (bnd < cfg.bands) {
      var h = mix64(bnd.toLong + cfg.seed)
      var r = 0
      while (r < cfg.rowsPerBand) {
        h = mix2(h, sig(bnd * cfg.rowsPerBand + r))
        r += 1
      }
      bandKeys(bnd) = h
      bnd += 1
    }

    // --- SimHash over word tokens (every occurrence votes) ---
    var simhash = 0L
    var nTokens = 0
    var chunks = Array.emptyLongArray
    if (parts.simhash) {
      val votes = new Array[Int](64)
      nTokens = foreachTokenHash(cs) { th =>
        var bit = 0
        while (bit < 64) {
          if (((th >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      var bit = 0
      while (bit < 64) {
        if (votes(bit) > 0) simhash |= (1L << bit)
        bit += 1
      }
      val chunkBits = 64 / cfg.simHashChunks
      val chunkMask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
      chunks = new Array[Long](cfg.simHashChunks)
      var c = 0
      while (c < cfg.simHashChunks) {
        // mix chunk idx so chunk key spaces are disjoint
        chunks(c) = mix2(c.toLong + 0xc0ffee, (simhash >>> (c * chunkBits)) & chunkMask)
        c += 1
      }
    }

    // --- winnowing fingerprints (Schleimer et al., MOSS): rolling g-gram
    //     hashes, keep the min of each w-window; guarantees any exact common
    //     substring of length >= w + g - 1 shares a selected fingerprint ---
    val spanKeys =
      if (parts.spans) winnow(cs, cfg.spanGramLen, cfg.winnowWindow)
      else Array.emptyLongArray

    Sig(sig, packed, bandKeys, if (nTokens == 0) 0L else simhash,
      chunks, spanKeys, nShingles, nTokens)
  }

  /** Winnowing fingerprint selection over g-gram hashes with window w.
    * All working buffers are per-thread scratch (see Scratch above); only
    * the returned fingerprint array is freshly allocated. */
  def winnow(cs: Array[Char], g: Int, w: Int): Array[Long] = {
    val nGrams = cs.length - g + 1
    if (nGrams < 1) return Array.empty
    val sc = scratch.get()
    sc.ensureGrams(nGrams)
    val hs = sc.hs
    var i = 0
    while (i < nGrams) { hs(i) = hashChars(cs, i, i + g); i += 1 }
    if (nGrams <= w) {
      var m = hs(0); i = 1
      while (i < nGrams) { if (hs(i) < m) m = hs(i); i += 1 }
      return Array(m)
    }
    val picked = sc.winnowPicked
    picked.clear()
    // classic O(n) sliding-window minimum via monotonic deque of indices
    val deque = sc.deque
    var head = 0; var tail = 0 // [head, tail)
    i = 0
    while (i < nGrams) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) picked.add(hs(deque(head)))
      i += 1
    }
    picked.toSortedArray
  }
}
