package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Deterministic specs for the small operators the round-1 audit flagged as
  * implemented-but-untested: A6 source partition, tokenizer injection. */
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

  test("Column-level tokenizer injection: stats jobs accept any tokenizer") {
    import spark.implicits._
    val d = Seq((1L, "aa bb-cc"), (2L, "bb dd")).toDF("id", "text")
    // default whitespace: tokens aa, bb-cc, bb, dd
    val defVocab = StatsJobs.vocabCount(d, "text")
      .collect().map(_.getString(0)).toSet
    assert(defVocab == Set("aa", "bb-cc", "bb", "dd"))
    // injected tokenizer: split on non-letters (the reference's pluggable
    // tokenizer reaching the stats pass, utils.py:179/203)
    val injected = StatsJobs.vocabCount(d, "text",
      c => split(lower(c), "[^a-z]+"))
      .collect().map(_.getString(0)).toSet
    assert(injected == Set("aa", "bb", "cc", "dd"))
    val msl = StatsJobs.maxStrLen(d, "text", multitoken = true,
      c => split(c, "[^a-zA-Z]+")).head().getLong(0)
    assert(msl == 2)
    // pair features take the same injection point
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val feat = PairFeatures.enrich(pairs, d, tokenizer = c => split(lower(c), "[^a-z]+"))
      .head()
    // tokens {aa,bb,cc} vs {bb,dd}: jaccard 1/4
    assert(feat.getAs[Double]("token_jaccard") == 0.25)
  }
}
