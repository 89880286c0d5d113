package graft.expressions

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Bit-exact fixture for the word n-gram kernel: `wordNgramHashes(text, n)`
 * must return exactly the hash set of the Catalyst chain it replaced in
 * Dedup.tokenJaccardPairs, kept here as the oracle. The chain returned the
 * distinct grams in first-occurrence order and SetSimJoin sorted them; the
 * kernel returns them sorted, so the oracle is compared after `sort_array`.
 * Any difference is a bug in the kernel.
 */
class WordNgramHashesSpec extends SparkSuite {
  import spark.implicits._

  /** The replaced chain: trim spaces, lowercase, split on `\s+` (limit -1),
    * xxhash64 per token, then xxhash64 of each run of n token hashes. */
  private def oracle(text: Column, ngram: Int): Column = {
    val th = transform(split(lower(trim(text)), "\\s+"), t => xxhash64(t))
    val grams =
      if (ngram == 1) array_distinct(th)
      else when(size(th) >= ngram,
        array_distinct(transform(
          sequence(lit(1), size(th) - (ngram - 1)),
          i => xxhash64((0 until ngram).map(j => element_at(th, i + j)): _*))))
        .otherwise(array().cast("array<long>"))
    sort_array(grams)
  }

  private val cases: Seq[String] = Seq(
    null, "", " ", "   ", "\t", "\n", " \t\n\r\f\u000B ", "\t \n",
    "a", "A", "Hello World", "  lead and trail  ", "\tlead tab", "trail newline\n",
    "\n\tboth ends\t\n", "a \t\n\r\f\u000B b", "a  b\t\tc\n\nd", "x\r\ny",
    "one two", "one two three", "one two three four five",
    "a b a b a b a b", "the the the the", "a b c a b c a b c",
    "MiXeD CaSe MIXED case", "punct, and; more: punct!", "digits 1 2 3 1 2 3",
    "a\u00A0b c", "\u00A0lead nbsp", "nbsp trail\u00A0", "a b\u2003c\u3000d\u2028e",
    "a\u0085b c", "\u001C\u001D\u001E\u001F sep chars", "a\u001Cb c",
    "İstanbul İ ı I i", "STRASSE straße ß SS", "ΟΔΟΣ οδος Σ σ ς ΣΑΣ",
    "Café CAFÉ café", "日本語 テキスト 日本語 テキスト", "emoji 😀 😀 text",
    "x" * 9000 + " " + "y" * 9000, Seq.fill(3000)("w").mkString(" "))

  /** Seeded random strings over ASCII letters, every `\s` byte, spaces,
    * NBSP and other Unicode spaces, and non-ASCII case pairs. */
  private def generated(n: Int): Seq[String] = {
    val pool = "aAbBzZ09 .\t\n\r\f\u000B\u00A0\u2003\u3000\u0130\u0131\u00DF\u03A3\u03C3\u03C2\u00C9\u00E9\u65E5"
    val rnd = new scala.util.Random(20261020L)
    (0 until n).map { _ =>
      val len = rnd.nextInt(24)
      // a third of the strings stay ASCII
      val p = if (rnd.nextInt(3) == 0) pool.filter(_ < 128) else pool
      (0 until len).map(_ => p(rnd.nextInt(p.length))).mkString
    }
  }

  private def check(texts: Seq[String]): Unit = {
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val rows = df.select(col("text"), SimilarityExpressions.wordNgramHashes(col("text"), n),
        oracle(col("text"), n)).collect()
      for (r <- rows) {
        val got = Option(r.getSeq[Long](1)).map(_.toList)
        val want = Option(r.getSeq[Long](2)).map(_.toList)
        assert(got == want, s"n = $n, text = ${Option(r.getString(0)).map(
          _.take(80).flatMap(c => if (c < 32 || c > 126) "U+%04X".format(c.toInt) else c.toString))}")
      }
    }
  }

  test("kernel == the Catalyst chain on the edge cases, n = 1, 2, 3") {
    check(cases)
  }

  test("kernel == the Catalyst chain on seeded random text, n = 1, 2, 3") {
    check(generated(400))
  }

  test("interpreted eval == codegen") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check(cases)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("the result is sorted and distinct; null text follows the chain") {
    val r = Seq("b a b a b a", null).toDF("text")
      .select(SimilarityExpressions.wordNgramHashes(col("text"), 1),
        SimilarityExpressions.wordNgramHashes(col("text"), 2)).collect()
    val (one, two) = (r(0).getSeq[Long](0), r(0).getSeq[Long](1))
    assert(one.size == 2 && two.size == 2, s"$one $two")
    assert(one == one.sorted && two == two.sorted)
    // null for n = 1, an empty array for n > 1, as the chain did
    assert(r(1).isNullAt(0) && r(1).getSeq[Long](1).isEmpty)
    intercept[IllegalArgumentException](SimilarityExpressions.wordNgramHashes(col("text"), 0))
  }
}
