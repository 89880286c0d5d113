package graft.functions

import graft.config.GraftConfig
import org.scalatest.funsuite.AnyFunSuite

class TextSignaturesSpec extends AnyFunSuite {
  val cfg = GraftConfig.default

  test("normalize lowercases, collapses whitespace, trims") {
    assert(new String(TextSignatures.normalize("  Hello\t\n WORLD  ")) == "hello world")
    assert(new String(TextSignatures.normalize("")) == "")
    assert(new String(TextSignatures.normalize("   ")) == "")
  }

  test("normalize is idempotent: span winnowing reads normalized text as is") {
    // per char: lowercasing a lowercased char is a no-op, and lowercasing
    // never turns a non-whitespace char into whitespace
    (Char.MinValue to Char.MaxValue).filterNot(Character.isWhitespace(_)).foreach { c =>
      val l = Character.toLowerCase(c)
      assert(Character.toLowerCase(l) == l && !Character.isWhitespace(l), c.toInt)
    }
    Seq("  Hello\t\n WORLD  ", "", "   ", "alpha-beta gamma, delta!",
      "tab\tseparated\nlines\r\n  here", "non\u00a0breaking space",
      "\u0130stanbul \u03a3\u039f\u03a3 \u212a").foreach { t =>
      val once = TextSignatures.normalize(t)
      assert(TextSignatures.normalize(new String(once)).sameElements(once), t)
    }
  }

  test("shingleSet is sorted, distinct, and edit-sensitive") {
    val a = TextSignatures.shingleSet("abcdefgh".toCharArray, 5)
    assert(a.length == 4) // abcde bcdef cdefg defgh
    assert(a.sameElements(a.sorted.distinct))
    val b = TextSignatures.shingleSet("abcdefgh".toCharArray, 5)
    assert(a.sameElements(b), "deterministic")
  }

  test("too-short / empty text yields empty signatures (P13 semantics)") {
    assert(TextSignatures.compute("", cfg).nShingles == 0)
    assert(TextSignatures.compute("abc", cfg).nShingles == 0)
    assert(TextSignatures.compute(null, cfg).nShingles == 0)
  }

  test("identical text => identical signatures; band keys collide fully") {
    val s1 = TextSignatures.compute("the quick brown fox jumps over the lazy dog", cfg)
    val s2 = TextSignatures.compute("The  quick Brown fox jumps over the lazy dog", cfg)
    // normalization makes these identical
    assert(s1.minhash.sameElements(s2.minhash))
    assert(s1.bandKeys.sameElements(s2.bandKeys))
    assert(s1.simhash == s2.simhash)
  }

  test("minhash agreement approximates exact jaccard (statistical)") {
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val edited = (1 to 200).map(i => if (i % 5 == 0) s"zzz$i" else s"tok$i").mkString(" ")
    val a = TextSignatures.compute(base, cfg)
    val b = TextSignatures.compute(edited, cfg)
    def shingles(t: String) = TextSignatures.shingleSet(TextSignatures.normalize(t), cfg.shingleK)
    val exact = Hashing.jaccardSorted(shingles(base), shingles(edited))
    val est = a.minhash.zip(b.minhash).count { case (x, y) => x == y }.toDouble / cfg.numPerm
    // sigma = sqrt(j(1-j)/128) <= 0.045; allow 4 sigma
    assert(math.abs(exact - est) < 0.18, s"exact=$exact est=$est")
  }

  test("simhash hamming distance small for near-dup token sets") {
    val base = (1 to 300).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 300).map(i => if (i == 7) "changed" else s"word$i").mkString(" ")
    val far = (1 to 300).map(i => s"other$i").mkString(" ")
    val a = TextSignatures.compute(base, cfg).simhash
    val b = TextSignatures.compute(nearDup, cfg).simhash
    val c = TextSignatures.compute(far, cfg).simhash
    assert(java.lang.Long.bitCount(a ^ b) <= 3)
    assert(java.lang.Long.bitCount(a ^ c) > 10)
  }

  test("winnowing: exact shared substring >= minSpanLen shares a fingerprint") {
    val shared = "x" * 10 + "this is an exact shared span of sufficient length!" + "y" * 10
    val cs1 = TextSignatures.normalize("aaa prefix one " + shared + " suffix one bbb")
    val cs2 = TextSignatures.normalize("ccc completely different lead " + shared + " tail ddd")
    val f1 = TextSignatures.winnow(cs1, cfg.spanGramLen, cfg.winnowWindow).toSet
    val f2 = TextSignatures.winnow(cs2, cfg.spanGramLen, cfg.winnowWindow).toSet
    assert(shared.length >= cfg.minSpanLen)
    assert(f1.intersect(f2).nonEmpty)
  }

  test("jaccardSorted: empty vs empty is 0 (empty must not match empty)") {
    assert(Hashing.jaccardSorted(Array.empty, Array.empty) == 0.0)
    assert(Hashing.jaccardSorted(Array(1L, 2L), Array(1L, 2L)) == 1.0)
    assert(Hashing.jaccardSorted(Array(1L, 2L), Array(2L, 3L)) == 1.0 / 3.0)
  }

  test("golden signatures: fixed texts pin every signature family") {
    // Recorded at formatVersion 2. If one of these changes, signature values
    // changed and TextSignatures.formatVersion must be bumped with it.
    def digest(a: Array[Long]): Long = a.foldLeft(a.length.toLong)((h, x) => h * 1000003L + x)
    // text -> (simhash, n_tokens, n_shingles, digests of band_keys, span_keys, minhash8)
    val golden = Seq(
      "  Hello   WORLD x " ->
        (8205082429629239435L, 3, 9, -782672531576688717L, 0L, -44031731564584524L),
      "" -> (0L, 0, 0, 0L, 0L, 0L),
      "alpha-beta gamma, delta!" ->
        (1973604812745100922L, 3, 20, -2990601973084568868L, -6897542178163277475L,
          5034188284346481487L),
      "tab\tseparated\nlines\r\n  here" ->
        (5548875414268879492L, 4, 20, -8759705651382107075L, -1386687246500818282L,
          6768453642776515430L),
      // NBSP is not whitespace (Character.isWhitespace): "non breaking" is one token
      "non\u00a0breaking space" ->
        (158753093587601L, 2, 14, 6346657154630471539L, 0L, -7961021427057269361L),
      "abc" -> (0L, 0, 0, 0L, 0L, 0L), // shorter than shingleK: no signatures
      "The quick brown fox jumps over the lazy dog, then naps in the warm afternoon sun." ->
        (2272096523324627813L, 16, 76, -3584822760366774979L, 4897078875542317159L,
          -5301979491178601546L))
    assert(TextSignatures.formatVersion == 2)
    golden.foreach { case (text, want) =>
      val s = TextSignatures.compute(text, cfg)
      assert((s.simhash, s.nTokens, s.nShingles, digest(s.bandKeys), digest(s.spanKeys),
        digest(s.minhash8)) == want, text)
      // word tokens are the single-space gaps of normalize: the same set as a
      // plain whitespace split of the lowercased text
      val words = text.toLowerCase.split("[ \t\n\r]+").filter(_.nonEmpty)
      val cs = TextSignatures.normalize(text)
      assert(TextSignatures.tokenHashSet(cs).toSeq ==
        words.map(w => Hashing.hashChars(w.toCharArray, 0, w.length)).distinct.sorted.toSeq, text)
      if (cs.length >= cfg.shingleK) assert(s.nTokens == words.length, text)
    }
  }

  test("signature constants keep the blocking stages complete") {
    assert(cfg.numPerm == cfg.bands * cfg.rowsPerBand)
    assert(cfg.hammingRadius < cfg.simHashChunks) // pigeonhole over the chunks
    assert(cfg.simHashBits == 64) // SimHash packs into one BIGINT
    assert(cfg.winnowWindow + cfg.spanGramLen - 1 <= cfg.minSpanLen) // winnowing guarantee
    intercept[IllegalArgumentException](GraftConfig(simThreshold = 1.5))
  }
}
