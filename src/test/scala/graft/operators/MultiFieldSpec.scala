package graft.operators

import graft.SparkSuite
import graft.operators.MultiField.FieldSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MultiFieldSpec extends SparkSuite {
  import spark.implicits._

  // ---- config parsing (reference field_config_parser.py error semantics) ----

  test("parseConfigs: happy path with defaults, weights, source remap") {
    val specs = MultiField.parseConfigs(
      """{"title": {"sig_type": "syntactic", "weight": 2.0},
         "title_tokens": {"source": "title", "sig_type": "semantic"},
         "body": {"shingle_k": 4}}""")
    assert(specs.map(_.field) == Seq("title", "title_tokens", "body"))
    assert(specs.head.weight == 2.0)
    assert(specs(1).source == "title" && specs(1).sigType == "semantic")
    assert(specs(2).weight == 1.0 && specs(2).shingleK == 4 && specs(2).sigType == "syntactic")
  }

  test("parseConfigs: error cases") {
    def err(json: String): String =
      intercept[IllegalArgumentException](MultiField.parseConfigs(json)).getMessage
    assert(err("{}").contains("empty"))
    assert(err("""{"title": {}}""").contains("Please set the value"))
    assert(err("""{"title": null}""").contains("Please set the value"))
    assert(err("""{"title": {"sig_type": "neural"}}""").contains("unknown sig_type"))
    assert(err("""{"title": {"weight": -1}}""").contains("weight must be > 0"))
    assert(err("""{"title": {"weight": "big"}}""").contains("weight must be a number"))
    assert(err("""{"t": {"weight": 1}, "t": {"weight": 2}}""").contains("duplicate field"))
    assert(err("""[1,2]""").contains("JSON object"))
  }

  // ---- weighted multi-field dedup vs brute force ----

  private def corpus(n: Int): DataFrame = {
    val rnd = new scala.util.Random(1234)
    def sentence(len: Int, r: scala.util.Random) =
      (0 until len).map(_ => s"w${r.nextInt(40)}").mkString(" ")
    val rows = (0L until n.toLong).map { i =>
      val r = new scala.util.Random(i * 101 + 9)
      if (i % 4 == 3) {
        // near-dup of predecessor: same title, slightly mutated body
        val p = new scala.util.Random((i - 1) * 101 + 9)
        (i, sentence(6, p), sentence(20, p) + " extra")
      } else (i, sentence(6, r), sentence(20, r))
    }
    val _ = rnd
    rows.toDF("id", "title", "body")
  }

  private val specs = Seq(
    FieldSpec("title", "title", "syntactic", 2.0),
    FieldSpec("body", "body", "syntactic", 1.0))

  private def bruteScores(d: DataFrame, t: Double): Set[(Long, Long, Double)] = {
    val g = d.select(col("id"),
      MultiField.gramCol(col("title"), specs(0)).as("gt"),
      MultiField.gramCol(col("body"), specs(1)).as("gb"))
    g.as("a").join(g.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        round((
          coalesce(size(array_intersect(col("a.gt"), col("b.gt"))).cast("double") /
            size(array_union(col("a.gt"), col("b.gt"))), lit(0.0)) * 2.0 +
          coalesce(size(array_intersect(col("a.gb"), col("b.gb"))).cast("double") /
            size(array_union(col("a.gb"), col("b.gb"))), lit(0.0)) * 1.0
        ) / 3.0, 6).as("score"))
      .filter(col("score") >= t)
      .as[(Long, Long, Double)].collect().toSet
  }

  test("dedupPairs == brute-force weighted score (exact, complete)") {
    val d = corpus(100).cache()
    for (t <- Seq(0.7, 0.5, 0.3)) {
      val got = MultiField.dedupPairs(d, specs, t)
        .as[(Long, Long, Double)].collect().toSet
      val want = bruteScores(d, t)
      assert(got == want, s"t=$t: got ${got.size}, want ${want.size}")
      assert(want.nonEmpty, s"t=$t should find planted pairs")
    }
    d.unpersist()
  }

  test("empty field scores 0 but keeps its weight in the denominator") {
    val d = Seq(
      (1L, "identical title here", ""),
      (2L, "identical title here", "")).toDF("id", "title", "body")
    val got = MultiField.dedupPairs(d, specs, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // title jaccard 1.0 × w=2, body empty → 0 × w=1 ⇒ score 2/3, NOT 1.0
    assert(got == Set((1L, 2L, 0.666667)))
  }

  test("semantic (token) field type + source remap over one column") {
    val sp = Seq(
      FieldSpec("text_sh", "text", "syntactic", 1.0),
      FieldSpec("text_tok", "text", "semantic", 1.0))
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zzz yyy xxx www")).toDF("id", "text")
    val got = MultiField.dedupPairs(d, sp, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)))
    // token jaccard = 4/5 = 0.8; shingle jaccard is high too; score in (0.5, 1)
    val s = got.head._3
    assert(s > 0.5 && s < 1.0)
    // a source column missing from the input fails fast, naming both
    val err = intercept[IllegalArgumentException](MultiField.dedupPairs(d,
      sp :+ FieldSpec("title_tok", "title", "semantic", 1.0), 0.5))
    assert(err.getMessage.contains("\"title_tok\"") &&
      err.getMessage.contains("\"title\""), err.getMessage)
  }

  test("LSH multi-field path: candidates cover the exact result (recall gate)") {
    val d = corpus(100).cache()
    val cfg = graft.config.GraftConfig.default
    val exact = MultiField.dedupPairs(d, specs, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val cands = MultiField.lshCandidates(d, specs, cfg)
    val rescored = MultiField.rescore(cands.candidates, d, specs, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // LSH coverage is probabilistic; at these sizes the planted near-dups
    // (high per-field jaccard, deep in the S-curve) must all be caught
    val got = rescored.map(p => (p._1, p._2))
    assert(exact.nonEmpty)
    val recall = exact.intersect(got).size.toDouble / exact.size
    info(s"multifield LSH recall = $recall (${got.size} found, ${exact.size} exact)")
    assert(recall >= 0.95, s"LSH multifield recall $recall")
    // rescore is exact, so no false positives vs the exact scorer
    val exactScores = MultiField.dedupPairs(d, specs, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(rescored.subsetOf(exactScores), "rescored pair outside exact result set")
    d.unpersist()
  }

  test("plan: no cartesian product in the multi-field join") {
    val d = corpus(30)
    // lazy variant: the public form eagerly checkpoints (cache hygiene),
    // which collapses executedPlan to a checkpoint-RDD scan and would make
    // this assertion vacuous (advisor finding)
    CacheScope.run { s =>
      val plan = MultiField.dedupPairsPlan(s, d, specs, 0.5)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("linkagePairs: cross-source only, oriented, == brute-force weighted score") {
    // left-source ids LARGER than right ids: orientation must follow the
    // source tag, not id magnitude (reference indexes.py:123-130)
    val d = corpus(100)
      .withColumn("source", when(pmod(col("id"), lit(2)) === 0, "right")
        .otherwise("left"))
      .withColumn("id",
        when(col("source") === "left", col("id") + 1000).otherwise(col("id")))
      .cache()
    val t = 0.5
    val got = MultiField.linkagePairs(d, specs, t, "left")
      .as[(Long, Long, Double)].collect().toSet
    // brute truth: weighted scores, cross-source, oriented left-first
    val src = d.select(col("id"), col("source"))
      .as[(Long, String)].collect().toMap
    val want = bruteScores(d, t).flatMap { case (a, b, s) =>
      (src(a), src(b)) match {
        case ("left", "right") => Some((a, b, s))
        case ("right", "left") => Some((b, a, s))
        case _ => None
      }
    }
    assert(want.nonEmpty, "planted cross-source pairs expected")
    assert(got == want, s"got ${got.size}, want ${want.size}")
    assert(got.forall { case (l, r, _) => src(l) == "left" && src(r) == "right" })
    d.unpersist()
  }
}
