package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Shared candidate-pair machinery for every blocking stage: given a table of
 * (id, bucket) memberships, produce canonical candidate pairs (id1 < id2,
 * reference invariant entity_embed/indexes.py:58-60).
 *
 * Scale design (the engine's one wide exchange, SURVEY.md §4):
 *  - ONE shuffle keyed by bucket computes per-bucket count + min(id);
 *  - normal buckets (size <= cap) self-join on the bucket key — the join
 *    reuses the bucket partitioning, and output volume is bounded by
 *    cap^2/2 per bucket (AQE skew-join splits anything moderately hot);
 *  - oversize buckets (boilerplate/empty-ish content at web scale can put
 *    millions of pages in one bucket) would emit O(n^2) pairs and OOM any
 *    executor. They degrade to STAR pairs around the bucket's min id:
 *    n-1 pairs, computed with a plain join — never a collect_list, so no
 *    single-bucket memory hot spot. Star preserves connectivity for
 *    clustering; pairs that fail verification through the hub are a logged,
 *    recall-accounted tradeoff (no silent caps — see oversizeLog);
 *  - an optional pairFilter (e.g. the SimHash Hamming-ball radius check) is
 *    applied INSIDE the join stage, before the final distinct — so filtered
 *    pairs die streaming in the join task and never reach the pair-key
 *    exchange. Pushing it after the distinct would shuffle every raw
 *    collision pair.
 */
object BucketJoin {

  final case class Result(pairs: DataFrame, oversizeLog: DataFrame)

  /** What to do with buckets larger than the cap. */
  sealed trait OversizePolicy
  /** n−1 hub pairs around the bucket min — keeps the bucket connected for
    * clustering. Right when bucket membership implies true similarity
    * (MinHash band equality, SimHash chunk equality). */
  case object Star extends OversizePolicy
  /** Emit nothing (logged). Right when a universal bucket carries no
    * pair-level evidence — e.g. a boilerplate winnowing fingerprint shared
    * by every page of a site: the shared span is real but says nothing
    * about whole-document near-duplication, and star pairs there are pure
    * verify-stage waste (measured: 1.6M of 3.2M candidates at 160k pages). */
  case object Drop extends OversizePolicy

  /**
   * memberships: DataFrame(id: Long, bucket: Long [, payload...]). Returns
   * distinct candidate pairs (id1 < id2) + a log of capped buckets.
   * pairFilter receives the two join-side alias prefixes ("a", "b") and
   * builds a boolean Column over the payload columns, e.g.
   * (a, b) => bit_count(col(s"$a.fp") ^ col(s"$b.fp")) <= r.
   *
   * countHits = true: output carries a `hits` column (number of distinct
   * buckets the pair collided in) instead of plain distinct — same shuffle,
   * lets callers demand corroboration (e.g. >= 2 shared winnowing
   * fingerprints) to kill single-bucket coincidences.
   *
   * dedupe = false skips the final per-stage distinct: for callers that
   * union several stages' pairs into ONE downstream groupBy(id1, id2)
   * (CandidateGen.all), the per-stage exchange is redundant — the raw
   * collision rows partial-aggregate map-side inside the union's groupBy,
   * so the wire volume is the same and one full exchange per stage
   * disappears. Callers that consume a single stage's output directly must
   * keep the default (duplicate candidate rows would duplicate verify
   * output rows).
   */
  def pairs(memberships: DataFrame, cap: Int, stage: String,
      pairFilter: Option[(String, String) => Column] = None,
      oversize: OversizePolicy = Star,
      countHits: Boolean = false,
      dedupe: Boolean = true): Result = {
    val m = memberships.withColumn("id", col("id").cast("long"))
      .withColumn("bucket", col("bucket").cast("long"))
    // Per-bucket count + min via WINDOW functions, not groupBy + join-back:
    // the membership table (the engine's highest-row-count intermediate —
    // tens of keys per doc) then crosses ONE exchange instead of three
    // (groupBy, join probe, join build), and the bucket-hash partitioning
    // it establishes is exactly what the self-join below needs, so both
    // join sides reuse the same exchange instead of shuffling again.
    // Measured tradeoff: WindowExec buffers each bucket partition in a
    // spill-backed sorter before emitting, so a single uncapped mega-bucket
    // is buffered/spilled in one task here, where the old groupBy
    // partial-aggregated it map-side — but the OLD form then co-located the
    // same mega-bucket in one join task anyway, so both shapes serialize on
    // the hot key and the window form wins on total traffic (2371 vs 1875
    // docs/sec at the 120k-page 8-core measurement). WindowExec spills to
    // disk rather than OOMing; the star/drop policy below bounds the
    // emitted output either way.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val joined = m
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("bucket_min", min("id").over(w))

    val small = joined.filter(col("bucket_n") <= cap)
    val smallJoined = small.as("a")
      .join(small.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
    val smallFiltered = pairFilter match {
      case Some(f) => smallJoined.filter(f("a", "b"))
      case None => smallJoined
    }
    val smallPairs = smallFiltered.select(col("a.id").as("id1"), col("b.id").as("id2"))

    // star pairs skip pairFilter (the hub link is connectivity-only and is
    // verified downstream like every other candidate)
    val bigPairs = oversize match {
      case Star =>
        joined.filter(col("bucket_n") > cap)
          .filter(col("id") =!= col("bucket_min"))
          .select(col("bucket_min").as("id1"), col("id").as("id2"))
      case Drop =>
        val spark = memberships.sparkSession
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("id1", "id2")
    }

    // the log is read after the pairs (warnOversize, the pipeline's
    // oversize sink), so it must not re-run the window: a plain per-bucket
    // count partial-aggregates map-side and gives the same rows
    val oversizeLog = m.groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .select(lit(stage).as("stage"), col("bucket"), col("bucket_n"),
        lit(oversize.toString).as("policy"))

    val all = smallPairs.union(bigPairs)
    val out =
      if (countHits) all.groupBy("id1", "id2").agg(count(lit(1)).as("hits"))
      else if (dedupe) all.distinct()
      else all
    Result(out, oversizeLog)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** No silent caps: one WARN per stage of `oversizeLog` (a
    * [[Result.oversizeLog]]-shaped table, or a union of several) that
    * capped buckets — the stage, its policy, the number of capped buckets
    * and the largest bucket_n. One small job, AQE off, since under AQE each
    * of its exchanges would launch a job of its own. Call it while the
    * caches the log reads are still kept. */
  def warnOversize(oversizeLog: DataFrame): Unit =
    ConfScope.aqeOff(oversizeLog.sparkSession)(
      oversizeLog.groupBy("stage", "policy")
        .agg(count(lit(1)), max(col("bucket_n"))).collect()
    ).foreach { r =>
      log.warn(s"${r.getString(0)}: ${r.getLong(2)} buckets over the cap, " +
        s"policy ${r.getString(1)} (largest bucket_n ${r.getLong(3)})")
    }
}
