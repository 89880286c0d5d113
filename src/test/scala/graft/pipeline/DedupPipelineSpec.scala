package graft.pipeline

import graft.SparkSuite
import graft.config.GraftConfig
import graft.corpus.PageCorpus
import graft.eval.BruteForceOracle

/**
 * The correctness gate (SURVEY.md §5, BASELINE.md): dup-pair recall >= 0.99
 * vs the brute-force exact-Jaccard oracle at the same shingle/signature
 * config, and exact cluster-assignment match.
 */
class DedupPipelineSpec extends SparkSuite {
  import spark.implicits._

  val cfg = GraftConfig.default
  val nPages = 1500

  lazy val (pagesLocal, _) = PageCorpus.generateLocal(nPages, cfg.seed)
  lazy val pagesDf = {
    val (ds, _) = PageCorpus.generate(spark, nPages, cfg.seed)
    ds.toDF().cache()
  }
  lazy val oraclePairs = BruteForceOracle
    .duplicatePairs(pagesLocal.map(p => (p.id, p.text)).toSeq, cfg)
  lazy val result = new DedupPipeline(spark, cfg).run(pagesDf)
  lazy val foundPairs = result.verified
    .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("corpus sanity: planted duplicates exist and oracle finds them") {
    assert(pagesDf.count() == nPages)
    assert(oraclePairs.nonEmpty, "oracle must find planted duplicate pairs")
    assert(oraclePairs.size > 200, s"expected substantial dup pairs, got ${oraclePairs.size}")
  }

  test(s"dup-pair recall >= 0.99 vs brute-force oracle at same config") {
    val oracle = oraclePairs.map(p => (p.id1, p.id2)).toSet
    val tp = oracle.intersect(foundPairs).size
    val recall = tp.toDouble / oracle.size
    info(s"oracle=${oracle.size} found=${foundPairs.size} tp=$tp recall=$recall")
    assert(recall >= 0.99, f"recall $recall%.4f < 0.99")
  }

  test("precision: every found pair truly has jaccard >= threshold (exact verify)") {
    val oracle = oraclePairs.map(p => (p.id1, p.id2)).toSet
    val fp = foundPairs.diff(oracle)
    assert(fp.isEmpty,
      s"exact verification must admit no pair below threshold; got ${fp.take(5)}")
  }

  test("cluster assignments exactly match oracle union-find") {
    val expected = BruteForceOracle.clusters(pagesLocal.map(p => (p.id, p.text)).toSeq, cfg)
    val got = result.assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == nPages)
    // compare as partitions (cluster keys are min member ids in both)
    assert(got == expected)
  }

  test("pair canonicalization invariant: id1 < id2, no self pairs, distinct") {
    val bad = result.verified.filter($"id1" >= $"id2").count()
    assert(bad == 0)
    val dups = result.verified.groupBy("id1", "id2").count().filter($"count" > 1).count()
    assert(dups == 0)
  }

  test("byte-identity: text column is never rewritten by the pipeline") {
    // signatures/cluster outputs never carry text; writeback preserves it
    val wb = graft.operators.Clustering.writeback(pagesDf, result.assignments)
    val diff = wb.select($"url", $"text").exceptAll(pagesDf.select($"url", $"text")).count()
    assert(diff == 0)
    assert(wb.count() == nPages)
  }

  test("deterministic across runs: same input => same verified pair set") {
    val again = new DedupPipeline(spark, cfg).run(pagesDf)
    val p2 = again.verified.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == foundPairs)
  }

  test("planted-truth recall sanity (blocking quality on the corpus)") {
    val (_, truthDs) = PageCorpus.generate(spark, nPages, cfg.seed)
    val truthPairs = graft.operators.PairAlgebra.clusterToPairs(
      truthDs.toDF().select($"id", $"cluster"))
    val truth = truthPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted pairs whose jaccard happens to fall below threshold are not
    // the pipeline's fault — measure against the oracle-visible subset
    val oracleSet = oraclePairs.map(p => (p.id1, p.id2)).toSet
    val visible = truth.intersect(oracleSet)
    val tp = visible.intersect(foundPairs).size
    info(s"planted=${truth.size} oracle-visible=${visible.size} tp=$tp")
    assert(visible.nonEmpty && tp.toDouble / visible.size >= 0.99)
  }
}
