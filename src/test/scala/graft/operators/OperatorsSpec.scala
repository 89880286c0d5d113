package graft.operators

import graft.SparkSuite
import graft.config.GraftConfig

class OperatorsSpec extends SparkSuite {
  import spark.implicits._

  val cfg = GraftConfig.default

  test("Dedup.exactDupGroups + exactDupPairs find planted exact duplicates") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "delta"),
      (4L, "alpha beta gamma"), (5L, "delta"), (6L, "unique")).toDF("doc_id", "text")
    val pairs = Dedup.exactDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L), (3L, 5L)))
  }

  test("Dedup.tokenJaccardPairs exact values") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")).toDF("doc_id", "text")
    val got = Dedup.tokenJaccardPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.6))) // |{a,b,c}| / |{a,b,c,d,e}| = 3/5
  }

  test("Dedup.minhashDupPairs matches tokenJaccard-style ground truth on near-identical docs") {
    val base = (1 to 100).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 100).map(i => if (i == 50) "CHANGED" else s"w$i").mkString(" ")
    val far = (1 to 100).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, far)).toDF("doc_id", "text")
    val (pairs, quiet) = warnings(BucketJoin.getClass.getName)(
      Dedup.minhashDupPairs(docs, cfg).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(pairs == Set((1L, 2L)))
    assert(quiet.isEmpty, quiet)
    // 257 identical docs: every band bucket is over the 256 cap and
    // degrades to star pairs around the min id — logged as one WARN
    val same = (0L to 256L).map(i => (i, base)).toDF("doc_id", "text")
    val (star, warns) = warnings(BucketJoin.getClass.getName)(
      Dedup.minhashDupPairs(same, cfg).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(star == (1L to 256L).map(j => (0L, j)).toSet)
    assert(warns.size == 1 && warns.head.startsWith("minhash: "), warns)
    assert(warns.head.contains("largest bucket_n 257"), warns)
    // the log itself: one row per capped band bucket, counted over all 257
    val log = CandidateGen.minhashStage(
      Signatures.compute(same, cfg, "doc_id"), cfg).oversizeLog.collect()
    assert(log.length == 32 && log.map(_.getAs[Long]("bucket")).distinct.length == 32)
    assert(log.forall(r => r.getAs[Long]("bucket_n") == 257L &&
      r.getAs[String]("stage") == "minhash" && r.getAs[String]("policy") == "Star"),
      log.mkString("\n"))
    // all three stages in one join: over-cap MinHash and SimHash buckets
    // star, over-cap span buckets emit nothing; each is logged by policy
    val all = CandidateGen.all(Signatures.compute(same, cfg, "doc_id"), cfg)
    val allPairs = all.candidates.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(allPairs == (1L to 256L).map(j => (0L, j, "minhash")).toSet)
    val policies = all.oversizeLog.collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[String]("policy")).toSet
    assert(policies == Set("minhash" -> "Star", "simhash" -> "Star", "span" -> "Drop"),
      policies)
    val spans = CandidateGen.spanStage(Signatures.compute(same, cfg, "doc_id"), cfg)
    assert(spans.candidates.isEmpty)
    val (_, spanWarns) = warnings(BucketJoin.getClass.getName)(
      BucketJoin.warnOversize(spans.oversizeLog))
    assert(spanWarns.size == 1 && spanWarns.head.startsWith("span: ") &&
      spanWarns.head.contains("policy Drop (largest bucket_n 257)"), spanWarns)
  }

  test("CandidateGen.all: span corroboration, stage tags, Hamming ball on SimHash rows only") {
    // hand-built signature rows: (id, band keys, SimHash chunk keys,
    // fingerprint, span keys); bucket values are disjoint per stage
    val far = -1L // 64 bits from 0
    val sigs = Seq(
      (1L, Seq(100L), Seq.empty[Long], 0L, Seq(1L, 2L)), // minhash + 2 span hits
      (2L, Seq(100L), Seq.empty[Long], far, Seq(1L, 2L)),
      (3L, Seq.empty[Long], Seq.empty[Long], 0L, Seq(5L, 6L)), // 2 span hits
      (4L, Seq.empty[Long], Seq.empty[Long], 0L, Seq(5L, 6L)),
      (5L, Seq.empty[Long], Seq.empty[Long], 0L, Seq(7L)), // 1 span hit
      (6L, Seq.empty[Long], Seq.empty[Long], 0L, Seq(7L)),
      (7L, Seq.empty[Long], Seq(200L), 0L, Seq.empty[Long]), // outside the ball
      (8L, Seq.empty[Long], Seq(200L), far, Seq.empty[Long]),
      (9L, Seq.empty[Long], Seq(201L), 0L, Seq.empty[Long]), // inside the ball
      (10L, Seq.empty[Long], Seq(201L), 1L, Seq.empty[Long]),
      (11L, Seq.empty[Long], Seq(202L), 0L, Seq(8L, 9L)), // simhash + span
      (12L, Seq.empty[Long], Seq(202L), 1L, Seq(8L, 9L)),
      (13L, Seq.empty[Long], Seq(203L), 0L, Seq(10L, 11L)), // span, outside the ball
      (14L, Seq.empty[Long], Seq(203L), far, Seq(10L, 11L)))
      .toDF("id", "band_keys", "simhash_chunks", "simhash", "span_keys")
      .withColumn("n_tokens", org.apache.spark.sql.functions.lit(5))
    val got = CandidateGen.all(sigs, cfg).candidates.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(cfg.minSpanHits == 2)
    assert(got == Set((1L, 2L, "minhash"), (3L, 4L, "span"), (9L, 10L, "simhash"),
      (11L, 12L, "simhash"), (13L, 14L, "span")), got)
  }

  test("CandidateGen.all: a pairFilter drops normal-bucket pairs, never star pairs") {
    // Linkage's cross-source filter: 257 same-source docs in one band
    // bucket star around the min id anyway; a same-source pair in a normal
    // bucket is dropped, a cross-source one kept
    val big = (0L to 256L).map(i => (i, Seq(1L), "L"))
    val small = Seq((1000L, Seq(2L), "L"), (1001L, Seq(2L), "L"),
      (1002L, Seq(3L), "L"), (1003L, Seq(3L), "R"))
    val sigs = (big ++ small).toDF("id", "band_keys", "source")
    val crossSource: CandidateGen.PairFilter = (a, b) =>
      org.apache.spark.sql.functions.col(s"$a.source") =!=
        org.apache.spark.sql.functions.col(s"$b.source")
    val got = CandidateGen.all(sigs, cfg, useSimhash = false, useSpans = false,
        extra = Seq("source"), pairFilter = Some(crossSource))
      .candidates.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (1L to 256L).map(j => (0L, j)).toSet + ((1002L, 1003L)))
  }

  test("Dedup.embeddingCosinePairs exact cosine") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.01f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosinePairs(emb, 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("Ann.bruteForceTopK: correct neighbors and deterministic tie-break") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val top1 = Ann.bruteForceTopK(emb, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(top1 == Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
  }

  test("Ann.lshTopK achieves high recall@k vs brute force") {
    // clustered embeddings (the realistic ANN workload): 20 centers, small
    // per-point noise — true neighbors are intra-cluster, high-cosine
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian()))
    val emb = (0L until 200L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.15).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Ann.bruteForceTopK(emb, 5).select("id", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.lshTopK(emb, 5).select("id", "neighbor")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(s"ann recall@5 = $recall")
    assert(recall >= 0.95, s"LSH ANN recall too low: $recall")
  }

  test("Ann.lshTopK mega-bucket is capped (star degradation, no O(n²) blowup)") {
    // every vector identical → every table's bucket holds all n vectors;
    // with n over the cap the candidate set must degrade to star pairs
    // (O(n) rows), never the O(n²) all-pairs the uncapped join would emit
    val nVec = Ann.BucketCap + 1
    val emb = (0L until nVec.toLong).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val n = Ann.lshTopK(emb, 3).count()
    // star pairs around the hub: hub has n-1 neighbors but keeps top-k;
    // members each see the hub only → total rows ≈ (n-1) + k, far below n²
    assert(n <= 2 * nVec, s"capped LSH emitted $n rows — cap not applied")
    assert(n >= nVec - 1, s"star degradation lost connectivity: $n rows")
  }

  test("TextAnalysis.profile: token counts, ratios, langId") {
    val docs = Seq(
      (1L, "The cat and the dog of the house is big"),
      (2L, "Der Hund und die Katze ist gross und der Baum"),
      (3L, ""),
      (4L, "zz qq ww")).toDF("doc_id", "text")
    val (p, warns) = warnings("")(
      TextAnalysis.profile(docs).collect().map(r => r.getLong(0) -> r).toMap)
    assert(!warns.exists(_.contains("trivially true")), warns)
    assert(p(1L).getAs[Long]("n_tokens_ws") == 10)
    assert(p(3L).getAs[Long]("n_tokens_ws") == 0)
    assert(p(1L).getAs[String]("lang_id") == "en")
    assert(p(2L).getAs[String]("lang_id") == "de")
    assert(p(4L).getAs[String]("lang_id") == "und")
    assert(p(1L).getAs[Double]("quality") > p(4L).getAs[Double]("quality"))
  }

  test("StatsJobs: maxStrLen even-rounding and vocabCount") {
    // reference fixture semantics (tests/test_utils.py:70-109): multitoken
    // max len 7 rounds to 8
    val df = Seq("abcdefg xy", "abc de").toDF("t")
    val ml = StatsJobs.maxStrLen(df, "t", multitoken = true).head().getLong(0)
    assert(ml == 8)
    val mlFull = StatsJobs.maxStrLen(df, "t", multitoken = false).head().getLong(0)
    assert(mlFull == 10)
    val vc = StatsJobs.vocabCount(df, "t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(vc == Map("abcdefg" -> 1L, "xy" -> 1L, "abc" -> 1L, "de" -> 1L))
  }

  test("PairAlgebra golden fixture: cluster → 19-pair expansion (reference test_utils.py:192-222)") {
    val clusters = Map(
      1L -> Seq(1L, 2L, 3L), 4L -> Seq(4L, 5L), 6L -> Seq(6L, 7L, 8L, 9L, 10L),
      11L -> Seq(11L, 18L), 12L -> Seq(12L, 13L, 15L), 14L -> Seq(14L, 16L))
    val assign = clusters.toSeq.flatMap { case (c, ms) => ms.map(m => (m, c)) }
      .toDF("id", "cluster")
    val pairs = PairAlgebra.clusterToPairs(assign).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set(
      (1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L),
      (6L, 7L), (6L, 8L), (6L, 9L), (6L, 10L), (7L, 8L), (7L, 9L), (7L, 10L),
      (8L, 9L), (8L, 10L), (9L, 10L), (11L, 18L),
      (12L, 13L), (12L, 15L), (13L, 15L), (14L, 16L))
    assert(pairs == expected)
    assert(pairs.size == 19)
  }

  test("Metrics: precision 0 when no TP; f1 0 when both 0 (evaluation.py:9-30)") {
    val found = Seq((1L, 2L)).toDF("id1", "id2")
    val pos = Seq((3L, 4L)).toDF("id1", "id2")
    val m = Metrics.evaluate(found, pos, nRecords = 4, threshold = 0.5)
    assert(m.precision == 0.0 && m.recall == 0.0 && m.f1 == 0.0)
    assert(Metrics.f1(0.0, 0.0) == 0.0)
    val m2 = Metrics.evaluate(found, found, nRecords = 4, threshold = 0.5)
    assert(m2.precision == 1.0 && m2.recall == 1.0 && m2.f1 == 1.0)
    assert(m2.pairEntityRatio == 0.25)
  }

  test("Metrics.sweep cumulates correctly in one pass") {
    val scored = Seq((1L, 2L, 0.9), (3L, 4L, 0.6), (5L, 6L, 0.3))
      .toDF("id1", "id2", "jaccard")
    val pos = Seq((1L, 2L), (5L, 6L), (7L, 8L)).toDF("id1", "id2")
    val ms = Metrics.sweep(scored, pos, nRecords = 8, thresholds = Seq(0.3, 0.5, 0.7))
    assert(ms.map(_.foundPairs) == Seq(3L, 2L, 1L))
    assert(ms.map(_.truePositives) == Seq(2L, 1L, 1L))
    assert(ms.map(_.recall) == Seq(2.0 / 3, 1.0 / 3, 1.0 / 3))
  }
}
