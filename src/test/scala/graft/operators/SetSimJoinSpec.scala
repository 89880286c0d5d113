package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SetSimJoin (prefix-filter exact set-similarity join) must be
  * result-identical to the brute-force O(n²) compare at every threshold —
  * that is its whole contract (the DuckDB oracle stays brute-force). */
class SetSimJoinSpec extends SparkSuite {
  import spark.implicits._

  /** Deterministic pseudo-random token-set corpus with planted near-dups. */
  private def corpus(n: Int): DataFrame = {
    val vocab = (0 until 60).map(i => s"tok$i")
    val rows = (0L until n.toLong).map { i =>
      val rnd = new scala.util.Random(i * 7919 + 13)
      val base = (0 until (3 + rnd.nextInt(12))).map(_ => vocab(rnd.nextInt(vocab.size)))
      // every 5th doc is a mutated copy of its predecessor (a planted near-dup)
      val toks = if (i % 5 == 4) {
        val prev = new scala.util.Random((i - 1) * 7919 + 13)
        val pbase = (0 until (3 + prev.nextInt(12))).map(_ => vocab(prev.nextInt(vocab.size)))
        pbase :+ vocab(rnd.nextInt(vocab.size))
      } else base
      (i, toks.distinct.toArray)
    }
    rows.toDF("id", "g")
  }

  private def brute(d: DataFrame, t: Double): Set[(Long, Long, Double)] =
    d.as("a").join(d.as("b"), col("a.id") < col("b.id"))
      .withColumn("jaccard",
        size(array_intersect(col("a.g"), col("b.g"))).cast("double") /
          size(array_union(col("a.g"), col("b.g"))))
      .filter(col("jaccard") >= t)
      .select(col("a.id"), col("b.id"), round(col("jaccard"), 6))
      .as[(Long, Long, Double)].collect().toSet

  test("jaccardSelfJoin == brute force at high/medium/low thresholds") {
    val d = corpus(120).cache()
    for (t <- Seq(0.9, 0.6, 0.3, 0.05)) {
      val got = SetSimJoin.jaccardSelfJoin(d, t)
        .as[(Long, Long, Double)].collect().toSet
      val want = brute(d, t)
      assert(got == want, s"threshold $t: got ${got.size}, want ${want.size}")
      assert(want.nonEmpty, s"threshold $t oracle should be non-trivial")
    }
    d.unpersist()
  }

  test("empty and identical sets behave like brute force") {
    val d = Seq(
      (1L, Array("a", "b", "c")),
      (2L, Array("a", "b", "c")),       // identical → jaccard 1.0
      (3L, Array.empty[String]),        // empty → never paired
      (4L, Array("x"))
    ).toDF("id", "g")
    val got = SetSimJoin.jaccardSelfJoin(d, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0)))
  }

  test("plan has no cartesian / nested-loop join") {
    val d = corpus(30)
    // lazy plan: the public form eagerly checkpoints (cache hygiene),
    // which would hide the join plan from inspection
    val plan = CacheScope.run { s =>
      SetSimJoin.joinFromTable(SetSimJoin.prefixTable(s, d), 0.5)
        .queryExecution.executedPlan.toString
    }
    assert(!plan.contains("CartesianProduct"), "cartesian in plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
  }

  /** 60 docs of 6-15 words over a 25-word vocabulary; every 4th doc is
    * its predecessor plus one word (a planted near-dup). */
  private def trigramDocs: DataFrame = (0L until 60L).map { i =>
    val rnd = new scala.util.Random(i * 31 + 7)
    val words = (0 until (6 + rnd.nextInt(10)))
      .map(_ => s"w${rnd.nextInt(25)}")
    val text = if (i % 4 == 3) {
      val prev = new scala.util.Random((i - 1) * 31 + 7)
      ((0 until (6 + prev.nextInt(10))).map(_ => s"w${prev.nextInt(25)}") :+ "zz")
        .mkString(" ")
    } else words.mkString(" ")
    (i, text)
  }.toDF("doc_id", "text")

  /** The re-put notice BlockManager logs when two concurrent stages ask for
    * one kept partition before it is stored: the second task waits on the
    * first's block lock, then reads the stored block instead of adding its
    * own copy. */
  private val RePut = "Block rdd_\\d+_\\d+ already exists on this machine; not re-adding it"

  test("tokenJaccardPairs (trigram path) matches brute force on text") {
    val docs = trigramDocs
    val toks = split(lower(trim(col("text"))), "\\s+")
    val grams = array_distinct(transform(
      slice(toks, lit(1), greatest(size(toks) - 2, lit(0))),
      (_, i) => concat_ws(" ", slice(toks, i + 1, lit(3)))))
    val d = docs.select(col("doc_id").as("id"), grams.as("g"))

    val (got, warns) = warnings("org.apache.spark.storage.BlockManager")(
      Dedup.tokenJaccardPairs(docs, 0.2, ngram = 3).as[(Long, Long, Double)].collect().toSet)
    val want = brute(d, 0.2)
    assert(got == want)
    assert(want.nonEmpty)
    assert(warns.forall(_.matches(RePut)), warns)
  }

  /** How many times `tokenJaccardPairs` evaluates each doc's text, counted
    * by `count` applied to the text column of `docs`. */
  private def textEvals(docs: DataFrame,
      count: org.apache.spark.sql.expressions.UserDefinedFunction =>
        org.apache.spark.sql.expressions.UserDefinedFunction): Long = {
    val evals = spark.sparkContext.longAccumulator
    val counted = docs.select(col("doc_id"),
      count(udf((t: String) => { evals.add(1); t })).apply(col("text")).as("text"))
    Dedup.tokenJaccardPairs(counted, 0.2, ngram = 3).collect()
    evals.value
  }

  test("tokenJaccardPairs computes each doc's gram set once") {
    // above a repartition, so the optimizer cannot fold the projection
    // into the local relation and evaluate it on the driver
    assert(textEvals(trigramDocs.repartition(3), identity) == 60)
  }

  test("tokenJaccardPairs evaluates a projection over a local relation once per doc (known failure)") {
    // The optimizer folds a projection over a local relation into a new
    // local relation, evaluating it on the driver, each time a plan over it
    // is optimized. ConfScope sizes the input from its optimized plan, and
    // the join optimizes its own plan: 120 evaluations for 60 docs, with or
    // without nondeterminism, while the executors read the kept gram table
    // once (the test above).
    assert(textEvals(trigramDocs, _.asNondeterministic()) == 120)
    pendingUntilFixed {
      assert(textEvals(trigramDocs, identity) == 60)
    }
  }
}
