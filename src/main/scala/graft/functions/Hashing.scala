package graft.functions

/**
 * Deterministic 64-bit hashing primitives. Self-contained (zero-egress
 * sandbox), seeded, allocation-light — everything the signature kernel needs.
 *
 * splitmix64 finalizer (public domain, Steele et al. / Vigna) gives full
 * avalanche over the rolling polynomial pre-hash. The MinHash permutations
 * built from [[stream]] are the wraparound family a*x + b over Z/2^64 with
 * odd a (see TextSignatures.perms).
 */
object Hashing {

  /** splitmix64 finalizer: full-avalanche bijective mix of a 64-bit value. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Combine two 64-bit values into one (order-sensitive). */
  @inline def mix2(a: Long, b: Long): Long = mix64(a * 0x9e3779b97f4a7c15L + b)

  /** Deterministic stream of 64-bit values from a seed (splitmix64 stream). */
  def stream(seed: Long, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var s = seed
    var i = 0
    while (i < n) {
      s += 0x9e3779b97f4a7c15L
      out(i) = mix64(s)
      i += 1
    }
    out
  }

  /** Hash a char range with a polynomial roll + avalanche finalize. */
  def hashChars(cs: Array[Char], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h = h * 0x100000001b3L + cs(i)
      i += 1
    }
    mix64(h)
  }

  /**
   * Reusable generation-stamped open-addressing long set: `clear()` is O(1)
   * (bump the generation; stale slots are ignored), so ONE instance per
   * executor thread serves every document with zero steady-state
   * allocation. Motivation (profiled): per-document LongSet allocation was
   * ~2.2 GB per 60k pages, and small-object allocation bandwidth is the
   * resource that caps N→4N scaling on shared hosts — the signature kernel
   * must not spend it.
   */
  final class ScratchLongSet(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity * 2) - 1) << 1
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var stamp = new Array[Int](cap) // slot live iff stamp(i) == gen
    private var gen = 1
    private var n = 0

    def size: Int = n

    /** O(1) reset; reallocates nothing. */
    def clear(): Unit = {
      n = 0
      if (gen == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); gen = 1 }
      else gen += 1
    }

    /** Returns true if newly added. Keys may be any long incl. 0. */
    def add(k: Long): Boolean = {
      if (n * 4 >= cap * 3) grow()
      var i = (mix64(k) & mask).toInt
      while (stamp(i) == gen) {
        if (keys(i) == k) return false
        i = (i + 1) & mask
      }
      keys(i) = k; stamp(i) = gen; n += 1
      true
    }

    def contains(k: Long): Boolean = {
      var i = (mix64(k) & mask).toInt
      while (stamp(i) == gen) {
        if (keys(i) == k) return true
        i = (i + 1) & mask
      }
      false
    }

    private def grow(): Unit = {
      val ok = keys; val os = stamp; val og = gen
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); stamp = new Array[Int](cap)
      gen = 1; n = 0
      var i = 0
      while (i < ok.length) {
        if (os(i) == og) add(ok(i))
        i += 1
      }
    }

    /** Fresh exact-size sorted array (escapes into the output row). */
    def toSortedArray: Array[Long] = {
      val out = new Array[Long](n)
      var i = 0; var j = 0
      while (j < n) {
        if (stamp(i) == gen) { out(j) = keys(i); j += 1 }
        i += 1
      }
      java.util.Arrays.sort(out)
      out
    }
  }

  /** Exact Jaccard of two SORTED distinct long arrays (merge-intersect). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 && b.length == 0) return 0.0 // empty !~ empty (P13)
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
