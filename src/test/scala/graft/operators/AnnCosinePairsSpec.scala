package graft.operators

import graft.SparkSuite

/** LSH-blocked threshold-cosine pairs (reference J2 threshold semantics,
  * indexes.py:40) — the scale path replacing the brute-force O(n²) form. */
class AnnCosinePairsSpec extends SparkSuite {
  import spark.implicits._

  /** Deterministic embeddings: base vectors plus planted near-duplicates
    * (small perturbations → cosine ~0.95+). */
  private def corpus(n: Int, dim: Int = 32): org.apache.spark.sql.DataFrame = {
    val rows = (0L until n).map { i =>
      val rnd = new scala.util.Random(i * 7919 + 13)
      val base =
        if (i % 5 == 4) { // near-dup of the previous vector
          val prev = new scala.util.Random((i - 1) * 7919 + 13)
          val b = Array.fill(dim)(prev.nextGaussian().toFloat)
          b.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
        } else Array.fill(dim)(rnd.nextGaussian().toFloat)
      (i, base)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("tunePlanes: more planes at higher thresholds, recall bound holds") {
    val (b4, t4) = Ann.tunePlanes(0.4)
    val (b8, t8) = Ann.tunePlanes(0.8)
    assert(b8 > b4, "higher threshold must afford more planes")
    for ((t, (b, tt)) <- Seq(0.4 -> (b4, t4), 0.8 -> (b8, t8))) {
      val p = 1.0 - math.acos(t) / math.Pi
      val recall = 1.0 - math.pow(1.0 - math.pow(p, b), tt)
      assert(recall >= 0.99, s"tuned ($b, $tt) recall $recall at $t")
    }
  }

  test("lshCosinePairs: subset of brute force (exact rescore), recall >= 0.95") {
    val e = corpus(250).persist()
    val brute = Dedup.embeddingCosinePairs(e, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty, "fixture must plant pairs")
    // at the weak threshold (t=0.5 admits ~74% of random pairs) the planner
    // selects the brute exact scan, so the result equals brute force EXACTLY
    val fb = Ann.lshCosinePairs(e, 0.5, seed = 42L)
      .as[(Long, Long, Double)].collect().toSet
    assert(fb == brute, "weak-regime fallback must be the exact brute result")
    // planted near-dups (cosine ~0.95) must all be found at a high threshold
    val hi = Ann.lshCosinePairs(e, 0.85, seed = 42L)
      .as[(Long, Long, Double)].collect().toSet
    val bruteHi = Dedup.embeddingCosinePairs(e, 0.85)
      .as[(Long, Long, Double)].collect().toSet
    assert(hi == bruteHi,
      s"high-threshold pairs must be fully recalled (${hi.size}/${bruteHi.size})")
    e.unpersist()
    // an empty table: an empty result with the usual schema, from both
    // operators and both cosine regimes
    val empty = corpus(0)
    for (t <- Seq(0.5, 0.85)) {
      val r = Ann.lshCosinePairs(empty, t)
      assert(r.columns.toSeq == Seq("id1", "id2", "cosine") && r.isEmpty)
    }
    val topk = Ann.lshTopK(empty, 3)
    assert(topk.columns.toSeq == Seq("id", "neighbor", "cosine", "rank") && topk.isEmpty)
  }

  test("capped LSH buckets are logged: one WARN per call (no silent caps)") {
    // one more identical vector than the cap: every table's bucket is over it
    val same = (0L to Ann.BucketCap.toLong).map(i => (i, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val (_, got) = warnings(BucketJoin.getClass.getName) {
      Ann.lshCosinePairs(same, 0.85).collect()
      Ann.lshTopK(same, 3).collect()
      // the default corpus: nothing capped, nothing logged
      Ann.lshCosinePairs(corpus(250), 0.85).collect()
    }
    assert(got.size == 2, got)
    assert(got(0).startsWith("cosine_lsh: ") && got(1).startsWith("ann_lsh: "), got)
    assert(got.forall(_.contains("largest bucket_n")), got)
  }
}
