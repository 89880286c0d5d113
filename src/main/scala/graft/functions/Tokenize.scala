package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Tokenizers (reference P2: entity_embed/numericalizer.py:73-77
 * `default_tokenizer`, regex `[\w--_]+|[^[\w--_]\s]+` — i.e. runs of word
 * chars EXCLUDING underscore, or runs of punctuation INCLUDING underscore).
 *
 * Java regex lacks Python's character-class subtraction, so the equivalent
 * classes are spelled out: \w minus _ == [\p{L}\p{Nd}] (unicode letters +
 * decimal digits); its complement-minus-whitespace keeps _ as punctuation.
 *
 * PairFeatures tokenizes with `default`; StatsJobs splits on whitespace
 * runs. The signature kernel has one fixed tokenization: the single-space
 * gaps of TextSignatures.normalize.
 */
object Tokenize {

  val defaultPattern = "[\\p{L}\\p{Nd}]+|[^\\p{L}\\p{Nd}\\s]+"

  /** Reference-equivalent default tokenizer (lowercases like the configs do). */
  def default(text: Column): Column =
    regexp_extract_all(lower(text), lit(defaultPattern), lit(0))
}
