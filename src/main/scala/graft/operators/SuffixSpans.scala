package graft.operators

import graft.config.GraftConfig
import graft.functions.{SuffixArrays, TextSignatures}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Suffix-array substring stage (north-rule addition): find pairs of
 * documents sharing an EXACT common substring of length >= cfg.minSpanLen,
 * with the span length — catches boilerplate/quotation overlap that
 * set-based Jaccard dilutes away on long documents.
 *
 * Distributed shape: winnowing fingerprints (TextSignatures.winnow) guarantee
 * any common substring of length >= winnowWindow + spanGramLen - 1
 * (<= minSpanLen, pinned by the GraftConfig constants) shares a selected fingerprint,
 * so docs are exploded by
 * fingerprint, co-shuffled into fingerprint groups (each group small — the
 * fingerprint is 64-bit content-derived), and a per-group suffix array
 * (prefix-doubling + Kasai, graft.functions.SuffixArrays) recovers exact
 * span lengths. Pairs found via several fingerprints are max-merged.
 *
 * This is the one operator where built-in Spark relational ops genuinely
 * cannot express the semantics (exact common-substring extents), so the
 * per-group kernel runs in flatMapGroups over a typed Dataset — the
 * documented (SURVEY.md §4) "mapPartitions-style last resort", still fully
 * distributed and shuffle-planned by Catalyst.
 */
object SuffixSpans {

  final case class SpanRow(id1: Long, id2: Long, span_len: Int, span: String)

  /** Members kept per fingerprint group; within the 1024-member bound of
    * SuffixArrays.dupSpans. */
  val GroupCap = 64

  /**
   * docs(id, text) → (id1, id2, span_len, span) for every pair sharing an
   * exact normalized substring >= cfg.minSpanLen. [[GroupCap]] bounds
   * degenerate fingerprint groups (identical boilerplate across millions of
   * pages): larger groups are truncated to the first GroupCap members by id
   * (deterministic) — star-connectivity for those is still provided by the
   * MinHash stage. Truncated groups are logged as one WARN (north rule: no
   * silent caps; BucketJoin.warnOversize over a log shaped like
   * BucketJoin's).
   */
  def spans(docs: DataFrame, cfg: GraftConfig): DataFrame =
    CacheScope.run { s =>
    val spark = docs.sparkSession

    val winnowUdf = udf { (text: String) =>
      if (text == null) Array.empty[Long]
      else TextSignatures.winnow(TextSignatures.normalize(text),
        cfg.spanGramLen, cfg.winnowWindow)
    }
    val normUdf = udf { (text: String) =>
      if (text == null) "" else new String(TextSignatures.normalize(text))
    }

    val d = s.keep(docs.select(col("id").cast("long").as("id"),
      normUdf(col("text")).as("ntext")))

    // materializes the cache the chain reads 2-3 times anyway, and sizes
    // the small-input fast path (ConfScope.spanScope): at or below
    // ConfScope.SpanFastPathDocs the ENTIRE chain — including both
    // localCheckpoint materializations — runs with AQE off and the shuffle
    // width matched to the doc count. Below that size the chain's cost is
    // pure per-stage overhead — ~10 tiny shuffles each paying AQE
    // re-planning + session-width task scheduling. A/B (best-of-2 warm,
    // local[32], AQE-off fast path vs session confs): 2k docs 1.9 vs
    // 4.7 s, 10k 5.1 vs 6.4 s, 30k 8.8 vs 9.1 s, 80k 18.8 vs 11.2 s —
    // AQE's coalescing starts earning its keep between 30k and 80k docs,
    // so the threshold sits at 40k.
    val nDocs = d.count()
    ConfScope.spanScope(spark, nDocs)(runChain(s, d, cfg, winnowUdf, spark))
    }

  private def runChain(s: CacheScope, d: DataFrame, cfg: GraftConfig,
      winnowUdf: org.apache.spark.sql.expressions.UserDefinedFunction,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._

    // (id, fingerprint) memberships — ids only, text stays out of this shuffle
    val memberships = d
      .select(col("id"), explode(winnowUdf(col("ntext"))).as("bucket"))

    // scale hygiene: cap bucket membership BEFORE any collect_list — a
    // universal-boilerplate fingerprint at web scale can have 10^8 members
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("id")
    val capped = memberships
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= GroupCap)

    // truncation log (north rule: no silent caps): one row per capped
    // fingerprint group, same shape as BucketJoin's oversize log
    val oversize = memberships.groupBy("bucket")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > GroupCap)
      .select(lit("suffix_span_groups").as("stage"), col("bucket"),
        col("bucket_n"), lit("Truncate").as("policy"))

    // Many fingerprints of the same near-dup doc group produce the SAME
    // member set (every shared boilerplate yields dozens of fingerprints) —
    // dedupe to one suffix-array run per distinct group, the dominant cost
    // saver (observed ~10x on the bench corpus). A 64-bit group-key
    // collision would only merge two groups into one SA run — output spans
    // stay exact.
    val sets = s.keep(capped.groupBy("bucket")
      .agg(sort_array(collect_list(col("id"))).as("members"))
      .filter(size(col("members")) >= 2)
      .select(col("members")).distinct()
      .select(xxhash64(col("members")).as("gkey"), col("members")))

    // STRICT-SUBSET PRUNE: a group fully contained in another contributes
    // only pairs its superset re-derives — per-pair span extents are exact
    // functions of the two texts alone (SuffixArrays RMQ path), so
    // dropping subsets leaves the pair set and span lengths identical
    // (span CONTENT is "one maximal common substring": at equal-length
    // ties the surviving superset run may pick a different witness
    // string — the containment-style oracle tolerates this). Measured on
    // the bench corpus: 88% of distinct groups (3243/3694) are strict
    // subsets — the SA kernel was the stage's dominant cost and ran ~8x
    // too often. A superset of S must contain min(S) (members are sorted,
    // element 1), so superset candidates come from ONE equi-join on the
    // first member — O(groups x groups-per-doc) candidate pairs, not
    // O(member-rows²).
    val first = sets.select(col("gkey"), element_at(col("members"), 1).as("m0"),
      col("members"), size(col("members")).as("sz"))
    val containing = sets
      .select(col("gkey").as("sup_gkey"), explode(col("members")).as("m0"),
        col("members").as("sup_members"), size(col("members")).as("sup_sz"))
    val subsumed = first.join(containing, "m0")
      .filter(col("gkey") =!= col("sup_gkey") &&
        (col("sz") < col("sup_sz") ||
          (col("sz") === col("sup_sz") && col("gkey") < col("sup_gkey"))) &&
        size(array_except(col("members"), col("sup_members"))) === 0)
      .select(col("gkey").as("sub_gkey"), col("members").as("sub_members"))
      .distinct()
    // anti-join verifies the member ARRAY alongside gkey: a 64-bit gkey
    // collision between a subsumed set and an unrelated surviving set must
    // not drop the survivor (plausible birthday odds at 10^12-doc scale);
    // gkey stays the hash-distributed equi-key, the array check rides along.
    val groups = sets.join(subsumed,
        col("gkey") === col("sub_gkey") &&
          col("members") === col("sub_members"), "left_anti")
      .select(col("gkey"), explode(col("members")).as("id"))

    val grouped: Dataset[SpanRow] = groups.join(d, "id")
      .select(col("gkey"), col("id"), col("ntext"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val members = it.map(t => (t._2, t._3)).toArray.sortBy(_._1).distinct
        SuffixArrays.dupSpans(members.toSeq, cfg.minSpanLen)
          .iterator.map(p => SpanRow(p.id1, p.id2, p.spanLen, p.span))
      }

    // max over (span_len, span) struct: keeps the longest span's content,
    // deterministic tie-break on the span string itself.
    val out = grouped.toDF()
      .groupBy("id1", "id2")
      .agg(max(struct(col("span_len"), col("span"))).as("m"))
      .select(col("id1"), col("id2"),
        col("m.span_len").as("span_len"), col("m.span").as("span"))
      .localCheckpoint()
    BucketJoin.warnOversize(oversize)
    out
  }
}
