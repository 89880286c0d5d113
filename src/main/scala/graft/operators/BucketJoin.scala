package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Shared candidate-pair machinery for every blocking stage: given each
 * stage's (id, bucket) memberships, produce canonical candidate pairs
 * (id1 < id2, reference invariant entity_embed/indexes.py:58-60) tagged with
 * the stage that found them.
 *
 * Scale design (the engine's one wide exchange, SURVEY.md §4): all stages
 * run as ONE join over one membership table keyed by (bucket, stage);
 *  - ONE shuffle keyed by (bucket, stage) computes per-bucket count + min(id);
 *  - ONE self-join on that key reuses the window's partitioning. Normal
 *    buckets (size <= cap) pair all their members, bounded by cap^2/2 pairs
 *    per bucket;
 *  - oversize buckets (boilerplate/empty-ish content at web scale can put
 *    millions of pages in one bucket) would emit O(n^2) pairs and OOM any
 *    executor. Each stage's [[OversizePolicy]] handles them apart from the
 *    normal path, in the same pass (the heavy-key split of "CPU and GPU Hash
 *    Joins on Skewed Data", PAPERS.md): STAR pairs around the bucket's min id
 *    (n-1 pairs: the min id alone on one join side — never a collect_list,
 *    so no single-bucket memory hot spot), or nothing. Every capped bucket
 *    is logged (no silent caps — see oversizeLog);
 *  - an optional pairFilter (e.g. the SimHash Hamming-ball radius check) is
 *    applied INSIDE the join stage, before the final groupBy — so filtered
 *    pairs die streaming in the join task and never reach the pair-key
 *    exchange;
 *  - ONE groupBy(id1, id2) counts each pair's hits per stage and keeps the
 *    pair when some stage's hits reach its `minHits`.
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

  /** One blocking stage: `memberships` is DataFrame(id, bucket [, payload...]);
    * `name` tags its pairs and its log rows; a pair is kept when it collides
    * in at least `minHits` of the stage's buckets (>= 2 demands corroboration,
    * e.g. shared winnowing fingerprints, to kill single-bucket
    * coincidences). */
  final case class Stage(name: String, memberships: DataFrame,
      oversize: OversizePolicy, minHits: Int)

  /**
   * Returns distinct candidate pairs (id1, id2, stage) + a log of capped
   * buckets. A pair hit by several stages keeps the least stage name among
   * those whose hits reach their `minHits`.
   *
   * pairFilter receives the two join-side alias prefixes ("a", "b") and
   * builds a boolean Column over the payload columns of the normal-bucket
   * pairs, e.g. (a, b) => bit_count(col(s"$a.fp") ^ col(s"$b.fp")) <= r.
   * The stages' memberships are unioned by name, so a payload column one
   * stage lacks is null on that stage's rows. Star pairs skip pairFilter
   * (the hub link is connectivity-only and is verified downstream like
   * every other candidate).
   */
  def pairs(stages: Seq[Stage], cap: Int,
      pairFilter: Option[(String, String) => Column] = None): Result = {
    val m = stages.map { s =>
      s.memberships.withColumn("id", col("id").cast("long"))
        .withColumn("bucket", col("bucket").cast("long"))
        .withColumn("stage", lit(s.name))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // Per-bucket count + min via WINDOW functions, not groupBy + join-back:
    // the membership table (the engine's highest-row-count intermediate —
    // tens of keys per doc) then crosses ONE exchange instead of three
    // (groupBy, join probe, join build), and the (bucket, stage)
    // partitioning it establishes is exactly what the self-join below
    // needs, so both join sides reuse the same exchange instead of
    // shuffling again. The bucket leads the key so the sort prefix is the
    // bucket, not the few-valued stage tag. Measured tradeoff: WindowExec
    // buffers each bucket partition in a spill-backed sorter before
    // emitting, so a single uncapped mega-bucket is buffered/spilled in one
    // task here, where a groupBy would partial-aggregate it map-side — but
    // the groupBy form then co-locates the same mega-bucket in one join task
    // anyway, so both shapes serialize on the hot key and the window form
    // wins on total traffic (2371 vs 1875 docs/sec at the 120k-page 8-core
    // measurement; 72.6 vs 41.4 core-s at 80k). WindowExec spills to disk
    // rather than OOMing; the star/drop policy below bounds the emitted
    // output either way.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket", "stage")
    val joined = m
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("bucket_min", min("id").over(w))

    // ONE self-join emits both kinds of pair. A normal bucket joins all its
    // members with each other; an over-cap bucket of a Star stage joins its
    // min id (the only row it keeps on the "a" side) with every other
    // member (the "b" side), which is its n−1 star pairs; an over-cap
    // bucket of a Drop stage keeps no row. Both sides read the same window
    // columns, so they share one window plan and one exchange.
    val starred = col("stage").isin(stages.filter(_.oversize == Star).map(_.name): _*)
    val normal = col("bucket_n") <= cap
    val hubs = joined.filter(normal || (starred && col("id") === col("bucket_min")))
    val members = joined.filter(normal || (starred && col("id") =!= col("bucket_min")))
    val pairsJoined = hubs.as("a").join(members.as("b"), col("a.bucket") === col("b.bucket") &&
      col("a.stage") === col("b.stage") && col("a.id") < col("b.id"))
    val all = pairFilter.fold(pairsJoined)(f =>
        pairsJoined.filter(col("a.bucket_n") > cap || f("a", "b")))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("a.stage"))

    // one row per pair: its hits per stage, then the least qualifying stage
    // (coalesce over the names in ascending order)
    val hits = stages.map(s => count(when(col("stage") === s.name, 1)).as(s"hits_${s.name}"))
    val tag = coalesce(stages.sortBy(_.name).map(s =>
      when(col(s"hits_${s.name}") >= s.minHits, lit(s.name))): _*)
    val out = all.groupBy("id1", "id2").agg(hits.head, hits.tail: _*)
      .select(col("id1"), col("id2"), tag.as("stage"))
      .filter(col("stage").isNotNull)

    // the log is read after the pairs (warnOversize, the pipeline's
    // oversize sink), so it must not re-run the window: a plain per-bucket
    // count partial-aggregates map-side and gives the same rows
    val policy = coalesce(stages.map(s =>
      when(col("stage") === s.name, lit(s.oversize.toString))): _*)
    val oversizeLog = m.groupBy("stage", "bucket").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .select(col("stage"), col("bucket"), col("bucket_n"), policy.as("policy"))
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
