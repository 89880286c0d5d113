package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * counting, quality scoring, language-ID, document fingerprinting. All
 * column-level (whole-stage codegen; no UDF except the rolling-hash
 * fingerprint), so they fuse into the scan projection at 100 TB scale.
 */
object TextAnalysis {

  /** Whitespace token count (codegen'd; empty text → 0). */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /**
   * BPE-ish subword token count: word chunks + digits + punctuation counted
   * separately, long words cost extra tokens per 4 chars (a deterministic
   * approximation of byte-pair tokenizer output length).
   */
  def tokenCountBpe(text: Column): Column = {
    val words = size(regexp_extract_all(text, lit("[A-Za-z]+"), lit(0)))
    val longWordExtra = aggregate(
      transform(regexp_extract_all(text, lit("[A-Za-z]+"), lit(0)),
        w => greatest(ceil(length(w) / 4.0).cast("long") - 1, lit(0L))),
      lit(0L), (acc, x) => acc + x)
    val digits = size(regexp_extract_all(text, lit("[0-9]"), lit(0)))
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
    (words.cast("long") + longWordExtra + digits.cast("long") + punct.cast("long"))
      .as("bpe_tokens")
  }

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      size(regexp_extract_all(text, lit("[^\\p{L}\\p{N}\\s]"), lit(0)))
        .cast("double") / length(text))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  /** Fraction of whitespace tokens that are english stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    when(length(trim(text)) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks))
  }

  /** Mean whitespace-token length. */
  def meanWordLen(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(length(trim(text)) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /**
   * Composite quality score in [0,1]: length sweet spot, low punctuation,
   * some stopwords, sane word lengths — the standard cheap pre-filter for
   * web-text training corpora.
   */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val wordLen = meanWordLen(text)
    val wordScore = when(wordLen >= 3.0 && wordLen <= 10.0, lit(1.0)).otherwise(lit(0.5))
    round((lenScore * 0.3 + punctScore * 0.3 + stopScore * 0.2 + wordScore * 0.2), 6)
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "de" -> Seq(" der ", " und ", " die ", " ist "),
    "es" -> Seq(" el ", " los ", " las ", " es "),
    "fr" -> Seq(" le ", " les ", " et ", " est "))

  /** Occurrences of a marker substring (split-count trick — SQL-portable). */
  private def markerCount(text: Column, marker: String): Column =
    size(split(concat(lit(" "), lower(text), lit(" ")),
      java.util.regex.Pattern.quote(marker))) - 1

  /**
   * Language-ID heuristic: argmax of per-language function-word marker
   * counts; 'und' (undetermined) when no marker hits. Pure built-ins so the
   * same logic is expressible in the DuckDB oracle.
   */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, ms) =>
      lang -> ms.map(m => markerCount(text, m)).reduce(_ + _)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // the first language (in fixed order) is the outermost `when`, so it
    // wins ties for the max
    scores.foldRight(lit("und")) { case ((lang, s), rest) =>
      when(s > 0 && s === best, lit(lang)).otherwise(rest)
    }
  }

  /** 64-bit content fingerprint: rolling hash over normalized text (UDF). */
  val fingerprintUdf = udf { (text: String) =>
    if (text == null) 0L
    else {
      val cs = graft.functions.TextSignatures.normalize(text)
      graft.functions.Hashing.hashChars(cs, 0, cs.length)
    }
  }

  /** Full text-profile projection over a (doc_id, text) table. */
  def profile(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      tokenCountWs(col("text")).as("n_tokens_ws"),
      tokenCountBpe(col("text")).as("n_tokens_bpe"),
      round(punctRatio(col("text")), 6).as("punct_ratio"),
      round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
      qualityScore(col("text")).as("quality"),
      langId(col("text")).as("lang_id"),
      fingerprintUdf(col("text")).as("fingerprint"))
}
