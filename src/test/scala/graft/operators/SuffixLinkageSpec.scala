package graft.operators

import graft.SparkSuite
import graft.config.GraftConfig
import graft.functions.SuffixArrays

class SuffixLinkageSpec extends SparkSuite {
  import spark.implicits._

  val cfg = GraftConfig.default

  test("SuffixArrays: build + lcp on a known string") {
    // classic "banana": SA = [5,3,1,0,4,2] (a, ana, anana, banana, na, nana)
    val s = "banana".map(_.toInt).toArray
    val sa = SuffixArrays.build(s)
    assert(sa.toList == List(5, 3, 1, 0, 4, 2))
    val lcp = SuffixArrays.lcp(s, sa)
    assert(lcp.toList == List(0, 1, 3, 0, 0, 2))
  }

  test("SuffixArrays.dupSpans finds exact shared span with correct length") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"prefix one $shared suffix one"),
      (2L, s"completely different lead-in $shared and different tail"),
      (3L, "no overlap here at all with anything"))
    val spans = SuffixArrays.dupSpans(docs, minLen = 20)
    assert(spans.map(p => (p.id1, p.id2)) == Seq((1L, 2L)))
    // found span must be at least the shared string (with surrounding spaces)
    assert(spans.head.spanLen >= shared.length)
    // emitted span content is a true common substring of the right length
    assert(spans.head.span.length == spans.head.spanLen)
    assert(docs(0)._2.contains(spans.head.span) && docs(1)._2.contains(spans.head.span))
    // the per-pair accumulator is quadratic in group size: > 1024 docs is rejected
    intercept[IllegalArgumentException](
      SuffixArrays.dupSpans((0L to 1024L).map(i => (i, shared)), minLen = 20))
  }

  test("dupSpans: long-span pair inside a weak run reports its TRUE length (RMQ, not run-min)") {
    // A and B share a 62-char span; C shares only its first 26 chars, so
    // C's suffix joins the same LCP run and drags the run minimum down to
    // ~26 — the exact per-pair interval min must still credit (A,B) with
    // the full span.
    val long = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789abcdefghijklmnopqrstuvwxyz"
    assert(long.length == 62)
    val weak = long.substring(0, 26)
    val docs = Seq(
      (1L, s"xx $long yy"),
      (2L, s"qq $long rr"),
      (3L, s"mm $weak nn"))
    val spans = SuffixArrays.dupSpans(docs, minLen = 20)
    val byPair = spans.map(p => ((p.id1, p.id2), p.spanLen)).toMap
    assert(byPair((1L, 2L)) >= long.length,
      s"pair (1,2) got ${byPair((1L, 2L))}, want >= ${long.length} — run-min bug")
    assert(byPair((1L, 3L)) >= weak.length && byPair((1L, 3L)) < long.length)
    assert(byPair((2L, 3L)) >= weak.length && byPair((2L, 3L)) < long.length)
    spans.foreach { p =>
      val t = docs.toMap
      assert(t(p.id1).contains(p.span) && t(p.id2).contains(p.span))
    }
  }

  test("SuffixSpans operator finds cross-doc boilerplate spans, exact lengths") {
    val boiler = "subscribe to our newsletter enter your email address submit now"
    val docs = Seq(
      (10L, s"alpha bravo charlie delta echo foxtrot golf hotel $boiler"),
      (20L, s"$boiler india juliet kilo lima mike november oscar papa"),
      (30L, "quebec romeo sierra tango uniform victor whiskey xray yankee zulu"))
      .toDF("id", "text")
    val got = SuffixSpans.spans(docs, cfg).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == 1)
    val (a, b, len) = got.head
    assert((a, b) == (10L, 20L))
    assert(len >= boiler.length && len <= boiler.length + 2)
  }

  test("Linkage: only cross-source pairs, oriented (left, right)") {
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val recs = Seq(
      (1L, base, "amazon"),
      (2L, base + " tiny change", "google"),
      (3L, base + " other change", "amazon"), // same-source near-dup of 1: excluded
      (4L, (1 to 80).map(i => s"zzz$i").mkString(" "), "google"))
      .toDF("id", "text", "source")
    val pairs = Linkage.linkagePairs(recs, cfg, leftSource = "amazon")
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 2L)),
      s"expected cross-source pairs oriented left-first, got $pairs")
  }

  test("Multimodal: batched feature extraction is deterministic, schema stable") {
    val media = Seq(
      (1L, "img", Array[Byte](1, 2, 3, 4)),
      (2L, "img", Array[Byte](1, 2, 3, 4)),
      (3L, "img", Array.empty[Byte]))
      .toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(media).collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getLong(3), r.getSeq[Float](4))).sortBy(_._1)
    assert(f(0)._2 == 4 && f(2)._2 == 0)
    assert(f(0)._3 == f(1)._3, "identical payloads => identical checksums")
    assert(f(0)._4 == f(1)._4, "identical payloads => identical features")
    assert(f(0)._4.length == Multimodal.StubCodec.featureDim)
  }
}
