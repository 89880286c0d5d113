package graft.operators

import graft.SparkSuite

/** Deterministic specs for the small operators the round-1 audit flagged as
  * implemented-but-untested: A6 source partition, the stats/feature
  * tokenizers. */
class CoverageSpec extends SparkSuite {
  import spark.implicits._

  test("A6: clusterToLinkagePairs partitions by source and orients (left, right)") {
    val assign = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L))
      .toDF("id", "cluster")
    val src = Seq((1L, "l"), (2L, "r"), (3L, "r"), (4L, "l"), (5L, "l"))
      .toDF("id", "source")
    val got = PairAlgebra.clusterToLinkagePairs(assign, src, "l")
      .as[(Long, Long)].collect().toSet
    // cluster 10: left {1} × right {2,3}; cluster 20: left {4,5} × right {} = ∅
    assert(got == Set((1L, 2L), (1L, 3L)))
  }

  test("Stats jobs and pair features use their fixed default tokenizers") {
    val d = Seq((1L, "aa bb-cc"), (2L, "bb dd")).toDF("id", "text")
    // default whitespace: tokens aa, bb-cc, bb, dd
    val defVocab = StatsJobs.vocabCount(d, "text")
      .collect().map(_.getString(0)).toSet
    assert(defVocab == Set("aa", "bb-cc", "bb", "dd"))
    // longest whitespace token "bb-cc" (5), rounded up to even
    assert(StatsJobs.maxStrLen(d, "text", multitoken = true).head().getLong(0) == 6)
    // Tokenize.default splits punctuation off: {aa,bb,-,cc} vs {bb,dd} = 1/5
    val feat = PairFeatures.enrich(Seq((1L, 2L)).toDF("id1", "id2"), d).head()
    assert(feat.getAs[Double]("token_jaccard") == 0.2)
  }
}
