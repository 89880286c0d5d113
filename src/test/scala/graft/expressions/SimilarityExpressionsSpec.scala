package graft.expressions

import graft.SparkSuite

class SimilarityExpressionsSpec extends SparkSuite {
  import spark.implicits._

  test("JaccardSorted native expression: exact values incl. empty semantics") {
    val df = Seq(
      (Array(1L, 2L, 3L), Array(2L, 3L, 4L)), // 2/4
      (Array(1L, 2L), Array(1L, 2L)), // 1
      (Array.empty[Long], Array.empty[Long]), // 0 (P13)
      (Array(1L), Array(2L))) // 0
      .toDF("a", "b")
    val got = df.select(SimilarityExpressions.jaccardSorted($"a", $"b")).collect()
      .map(_.getDouble(0)).toList
    assert(got == List(0.5, 1.0, 0.0, 0.0))
  }

  test("interpreted eval matches codegen (both paths)") {
    val df = Seq((Array(1L, 5L, 9L), Array(5L, 9L, 11L))).toDF("a", "b")
    // jaccard 2/4; packed lanes over the first 16 of 24:
    // 1, 5, 9 vs 5, 9, 11 agree on the upper zero lanes of each long only
    val scores = Seq(
      SimilarityExpressions.jaccardSorted($"a", $"b"),
      SimilarityExpressions.minhashAgreementPacked($"a", $"b", 16))
    val expected = Seq(2.0 / 4.0, 14.0 / 16.0)
    def eval() = { val r = df.select(scores: _*).head(); scores.indices.map(r.getDouble) }
    // codegen path (wholestage on)
    assert(eval() == expected)
    // interpreted path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      assert(eval() == expected)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("DotProduct native expression: bitwise-identical to the HOF form, both eval paths") {
    import org.apache.spark.sql.functions._
    val df = Seq((Array(0.1, -2.5, 3.75, 0.0), Array(1.5, 0.25, -0.5, 9.0)))
      .toDF("a", "b")
    val hof = df.select(aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)).head().getDouble(0)
    assert(df.select(SimilarityExpressions.dotProduct($"a", $"b"))
      .head().getDouble(0) == hof)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      assert(df.select(SimilarityExpressions.dotProduct($"a", $"b"))
        .head().getDouble(0) == hof)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("wrong-typed arguments fail at analysis") {
    val df = Seq((Array("x"), Array("y"), 1.5)).toDF("a", "b", "d")
    Seq(
      SimilarityExpressions.jaccardSorted($"a", $"b"),
      SimilarityExpressions.minhashAgreementPacked($"a", $"b", 8),
      SimilarityExpressions.dotProduct($"d", $"d"),
      SimilarityExpressions.textShingleJaccard($"a", $"b", 5)).foreach { c =>
      intercept[org.apache.spark.sql.AnalysisException](df.select(c).collect())
    }
  }

  test("null inputs yield null (dropped by threshold filters)") {
    val df = Seq((Some(Array(1L, 2L)), Option.empty[Array[Long]])).toDF("a", "b")
    val r = df.select(SimilarityExpressions.jaccardSorted($"a", $"b")).head()
    assert(r.isNullAt(0))
  }

  test("MinHashAgreementPacked: lane equality matches the full-value agreement") {
    val cfg = graft.config.GraftConfig.default
    val rnd = new scala.util.Random(3)
    def doc() = (0 until 30 + rnd.nextInt(60)).map(_ => s"w${rnd.nextInt(50)}").mkString(" ")
    val pairs = (0 until 40).map { i =>
      val a = doc()
      val b = if (i % 2 == 0) a.replace("w1", "w2") else doc()
      (graft.functions.TextSignatures.compute(a, cfg),
        graft.functions.TextSignatures.compute(b, cfg))
    }
    val df = pairs.map { case (sa, sb) =>
      // full-lane agreement over the 64-bit values, the packed lanes' reference
      val full = sa.minhash.zip(sb.minhash).count { case (x, y) => x == y }.toDouble /
        cfg.numPerm
      (full, sa.minhash8, sb.minhash8)
    }.toDF("full", "pa", "pb")
    val got = df.select($"full",
      SimilarityExpressions.minhashAgreementPacked($"pa", $"pb", cfg.numPerm)).collect()
    got.foreach { r =>
      val full = r.getDouble(0); val packed = r.getDouble(1)
      // packed can only OVER-estimate (8-bit lane false-equals, p=1/256
      // per disagreeing lane) and by at most a few lanes
      assert(packed >= full && packed - full <= 4.0 / cfg.numPerm,
        s"full=$full packed=$packed")
    }
    // identical signatures agree exactly at 1.0
    val self = pairs.head._1
    val one = Seq((self.minhash8, self.minhash8)).toDF("pa", "pb")
      .select(SimilarityExpressions.minhashAgreementPacked($"pa", $"pb", cfg.numPerm))
      .head().getDouble(0)
    assert(one == 1.0)
    // numPerm NOT a multiple of 8: the padded tail lanes are excluded.
    // Synthetic 100-lane signatures packed like Sig.minhash8 (13 longs, the
    // last 4 lanes zero padding on both sides): lanes 0..24 agree, the rest
    // differ, so the score is 25/100 — not 29/104 from the padding.
    def pack(lane: Int => Long): Array[Long] = {
      val pk = new Array[Long]((100 + 7) / 8)
      (0 until 100).foreach(p => pk(p >>> 3) |= (lane(p) & 0xFFL) << ((p & 7) * 8))
      pk
    }
    val x = pack(p => p + 1)
    val y = pack(p => if (p < 25) p + 1 else p + 101)
    def packed100(a: Array[Long], b: Array[Long]) = Seq((a, b)).toDF("pa", "pb")
      .select(SimilarityExpressions.minhashAgreementPacked($"pa", $"pb", 100))
      .head().getDouble(0)
    assert(packed100(x, y) == 0.25)
    assert(packed100(x, pack(p => p + 150)) == 0.0) // disjoint: 0.0, not 4/104
  }
}
