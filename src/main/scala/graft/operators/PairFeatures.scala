package graft.operators

import graft.functions.Tokenize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Post-blocking pair enrichment (reference J5: the notebook `compare_pairs` /
 * SIM_FUNC_DICT stage, End-to-End-Matching-Example.ipynb cells 30-43):
 * for each candidate pair fetch both records and compute similarity
 * features — token jaccard, overlap coefficient, normalized Levenshtein.
 * All built-ins (levenshtein is a native Catalyst expression).
 */
object PairFeatures {

  /**
   * pairs(id1, id2) x docs(id, text) → pair feature table. Two pair-keyed
   * equi-joins (uniform keys); at scale the docs side is the big one — the
   * joins shuffle by id which is the layout the verify stage already used.
   */
  def enrich(pairs: DataFrame, docs: DataFrame,
      idCol: String = "id", textCol: String = "text"): DataFrame = {
    val d = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
    val toks = (c: org.apache.spark.sql.Column) => array_distinct(Tokenize.default(c))
    pairs.select(col("id1"), col("id2"))
      .join(d.select(col("id").as("id1"), col("t").as("t1")), "id1")
      .join(d.select(col("id").as("id2"), col("t").as("t2")), "id2")
      .withColumn("tok1", toks(col("t1")))
      .withColumn("tok2", toks(col("t2")))
      .select(
        col("id1"), col("id2"),
        round(size(array_intersect(col("tok1"), col("tok2"))).cast("double") /
          greatest(size(array_union(col("tok1"), col("tok2"))), lit(1)), 6)
          .as("token_jaccard"),
        round(size(array_intersect(col("tok1"), col("tok2"))).cast("double") /
          greatest(least(size(col("tok1")), size(col("tok2"))), lit(1)), 6)
          .as("overlap_coef"),
        round(lit(1.0) - levenshtein(col("t1"), col("t2")).cast("double") /
          greatest(length(col("t1")), length(col("t2")), lit(1)), 6)
          .as("levenshtein_sim"),
        round(lit(1.0) - dlUdf(col("t1"), col("t2")).cast("double") /
          greatest(length(col("t1")), length(col("t2")), lit(1)), 6)
          .as("damerau_levenshtein_sim"))
  }

  /** Unrestricted Damerau–Levenshtein (graft.functions.EditDistance). A
    * Scala UDF is acceptable here: it runs once per VERIFIED pair (cold
    * path), never inside blocking/verification. NULL on either side yields
    * NULL — matching the adjacent built-in levenshtein column and DuckDB's
    * damerau_levenshtein NULL semantics. */
  private val dlUdf = udf((a: String, b: String) =>
    if (a == null || b == null) None
    else Some(graft.functions.EditDistance.damerauLevenshtein(a, b)))

  /**
   * J5 extension — corpus-weighted token similarity per pair: tf-idf cosine.
   * Relational formulation (no vectors materialized per pair): token
   * weights w(id,t) = tf · (ln((N+1)/(df+1)) + 1); per-pair dot product via
   * an equi-join on token restricted to the candidate pairs; norms from one
   * aggregation. Every shuffle is keyed (token or id) — scales like the
   * verify stage.
   */
  def tfidfCosine(pairs: DataFrame, docs: DataFrame,
      idCol: String = "id", textCol: String = "text"): DataFrame = {
    val d = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
    val n = d.count() // idf needs the corpus size
    val toks = d.select(col("id"), explode(Tokenize.default(col("t"))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = toks.join(dfreq, "tok")
      .select(col("id"), col("tok"),
        (col("tf") * (log(lit(n + 1.0) / (col("df") + 1.0)) + 1.0)).as("w"))
    val norms = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val dots = pairs.select("id1", "id2")
      .join(w.select(col("id").as("id1"), col("tok"), col("w").as("w1")), "id1")
      .join(w.select(col("id").as("id2"), col("tok"), col("w").as("w2")),
        Seq("id2", "tok"))
      .groupBy("id1", "id2").agg(sum(col("w1") * col("w2")).as("dot"))
    // norms joined LEFT: a doc with zero tokens has no norm row, and the
    // contract is one score per input pair — token-less docs score 0.0
    // (try_divide: 0-norm → null → 0) instead of silently dropping the pair
    pairs.select("id1", "id2")
      .join(dots, Seq("id1", "id2"), "left")
      .join(norms.select(col("id").as("id1"), col("norm").as("n1")), Seq("id1"), "left")
      .join(norms.select(col("id").as("id2"), col("norm").as("n2")), Seq("id2"), "left")
      .select(col("id1"), col("id2"),
        round(coalesce(
          try_divide(coalesce(col("dot"), lit(0.0)), col("n1") * col("n2")),
          lit(0.0)), 6).as("tfidf_cosine"))
  }

  /**
   * W1 pair cap (reference ann_k, entity_embed/indexes.py:43-48): keep at
   * most k best-scoring partners per record — bounds pair-entity ratio
   * exactly like the reference's k-NN k. Applied symmetrically: a pair
   * survives if it is within the top-k of EITHER endpoint (HNSW semantics:
   * found-by-either-side). `scored` carries (id1, id2, jaccard, ...); rows
   * keep their columns.
   */
  def capPairsPerRecord(scored: DataFrame, k: Int): DataFrame = {
    val both = scored.select(col("id1").as("anchor"), col("id2").as("partner"),
        col("jaccard").as("s"))
      .union(scored.select(col("id2"), col("id1"), col("jaccard")))
    val w = Window.partitionBy("anchor").orderBy(desc("s"), asc("partner"))
    val kept = both.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(
        least(col("anchor"), col("partner")).as("id1"),
        greatest(col("anchor"), col("partner")).as("id2"))
      .distinct()
    scored.join(kept, Seq("id1", "id2"), "left_semi")
  }
}
