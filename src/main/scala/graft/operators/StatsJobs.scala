package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Corpus profiling jobs — the reference's pre-execution stats pass
 * (entity_embed/data_utils/utils.py:179-208, driven by
 * field_config_parser.py:75-118): global max string length (rounded up to
 * even, utils.py:193-198) and token vocabulary counts, as standalone corpus
 * profiling (no field config is bound to them: this engine has no neural
 * model to size).
 */
object StatsJobs {

  /** A1: max (token) string length over a column, rounded up to even;
    * multitoken splits on whitespace runs. */
  def maxStrLen(df: DataFrame, textCol: String, multitoken: Boolean): DataFrame = {
    val base =
      if (multitoken)
        df.select(explode(split(trim(col(textCol)), "\\s+")).as("t"))
          .agg(max(length(col("t"))).as("raw"))
      else df.agg(max(length(col(textCol))).as("raw"))
    // round up to even (utils.py:193-198)
    base.select((col("raw") + pmod(col("raw"), lit(2))).cast("long").as("max_str_len"))
  }

  /** A2: token frequency table (vocab counter, utils.py:203-208) over the
    * lowercased whitespace tokens. */
  def vocabCount(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
}
