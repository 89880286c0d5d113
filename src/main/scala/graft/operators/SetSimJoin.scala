package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin:
 * Bayardo et al. WWW'07 "Scaling Up All Pairs Similarity Search";
 * Xiao et al. WWW'08 "Efficient Similarity Joins for Near Duplicate
 * Detection"). Produces EXACTLY the pairs with Jaccard >= threshold — same
 * result set as a brute-force O(n²) compare, but as a chain of equi-joins
 * that Catalyst can shuffle-partition, so it scales horizontally.
 *
 * The filter chain (each is a provable no-false-negative prune):
 *  1. length filter: J(a,b) >= t ⇒ min(|a|,|b|) >= t·max(|a|,|b|);
 *  2. prefix filter: order every set by a GLOBAL token order (ascending
 *     document frequency — rarest first, so prefixes fan out least). For
 *     Jaccard >= t, two sets must share >= 1 token within their first
 *     (n − ⌈t·n⌉ + 1) tokens: equi-join on exploded prefix tokens only;
 *  3. positional filter: the first common token at 0-based positions
 *     (pa, pb) bounds overlap by min(|a|−pa, |b|−pb), which must reach
 *     ⌈t/(1+t)·(|a|+|b|)⌉ — a pair's earliest-common-token row always
 *     satisfies this when the pair is a true match, so pruning is safe;
 *  4. exact verify: survivors re-join their sorted token-hash arrays and
 *     compute true Jaccard with the jaccardSorted merge kernel.
 *
 * Scale shape: shuffles are all equi (token-df groupBy, per-id sort-agg,
 * prefix-token equi-join, pair distinct, two id-keyed verify joins); no
 * cartesian/theta join anywhere. Worst case degrades with threshold → 0
 * (prefix → whole set), which is inherent to exact joins; the LSH stages
 * remain the approximate path for very low thresholds.
 */
object SetSimJoin {

  /**
   * d: DataFrame(id: any integral, g: array<string>, or the SORTED
   * DISTINCT array<bigint> of token hashes, read as is). Returns (id1, id2,
   * jaccard) with id1 < id2 and jaccard >= threshold, jaccard rounded to
   * 6 places (byte-compatible with the brute-force oracle form).
   */
  def jaccardSelfJoin(d0: DataFrame, threshold: Double): DataFrame =
    CacheScope.run { s =>
      joinFromTable(prefixTable(s, d0), threshold).localCheckpoint()
    }

  /**
   * Shared per-field prefix machinery (round 6): BOTH the planner's cost
   * estimate and the join itself need the (hashed set table, df-sorted
   * token list) pair, and computing them twice — once for the estimate,
   * once for the join — duplicated the most expensive shuffle chain of the
   * whole operator (tokenize → token-df groupBy → per-id sort agg). A
   * PrefixTable is built ONCE per field and consumed by
   * [[estimateFromTables]] and [[joinFromTable]].
   *
   *  - d: (id [,extra...], h sorted distinct hash array) — the verify side;
   *  - sorted: (id, st array<struct<df,tok>>, n [,extra...]) — the df-sorted
   *    token list every prefix derivation slices.
   * Both kept in the caller's scope (the pfx table that `sorted` replaces
   * was persisted for the same reason: consumed by both sides of the
   * candidate self-join).
   */
  private[graft] final case class PrefixTable(d: DataFrame, sorted: DataFrame)

  private[graft] def prefixTable(s: CacheScope, d0: DataFrame,
      extra: Seq[String] = Nil): PrefixTable = {
    extra.foreach(c => require(d0.columns.contains(c), s"extra column '$c' missing"))
    // Tokens ride as 64-bit hashes end to end (the engine-wide convention):
    // distinct/intersection counts over the hashes equal the counts over
    // the strings modulo 64-bit collisions, the shuffle payload is 8
    // bytes/token instead of a string, and verification runs in the
    // codegen'd merge kernel (jaccardSorted) instead of building a hash
    // set per pair. Callers that already hash (array<long> input) hand in
    // the sorted distinct set and it passes through as is — the gram
    // projection is the hottest part of the whole join and must not be
    // paid twice.
    val h = d0.schema("g").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => col("g")
      case _ => sort_array(array_distinct(transform(col("g"), t => xxhash64(t))))
    }
    // PERSISTED: the hashed-set table is consumed 4x (df count, per-id
    // sort, and both sides of the verify join) — without this the upstream
    // scan + tokenize + gram projection re-executes per consumer, which
    // measured as ~4x the cost of every join stage combined. At cluster
    // scale this is the stage checkpoint.
    val d = s.keep(d0.select(col("id") +: extra.map(col) :+ h.as("h"): _*))

    // 1 shuffle: global token order key = (document frequency, token hash).
    // Rarest-first prefixes minimize join fan-out: a token with df=k
    // contributes at most C(k,2) candidate rows, and low-df tokens
    // dominate the prefixes. Any total order preserves completeness.
    val toks = d.select(col("id") +: extra.map(col) :+ explode(col("h")).as("tok"): _*)
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))

    // per-id token list sorted by the global order, + set size (+ extras,
    // constant per id, reduced map-side by the partial agg). Persisted:
    // consumed by BOTH sides of the candidate self-join (the prefix slice
    // below is a cheap cache-read projection per side) and by the planner's
    // estimate job.
    val sorted = s.keep(toks.join(dfreq, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("st"),
        (count(lit(1)).as("n") +: extra.map(c => first(col(c)).as(c))): _*))
    PrefixTable(d, sorted)
  }

  /** The join half over a prebuilt [[PrefixTable]] (lazy; no extra caches —
    * the prefix explode is derived from the cached `sorted` per join side).
    * `extra` columns ride along on the prefix rows so `pairFilter(a, b)`
    * (MultiField linkage's cross-source test) prunes pairs inside the
    * candidate join, before the pair-distinct exchange. */
  private[graft] def joinFromTable(pt: PrefixTable, threshold: Double,
      extra: Seq[String] = Nil,
      pairFilter: Option[(String, String) => Column] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "0 < threshold <= 1")
    // prefix explode: first n − ⌈t·n⌉ + 1 tokens, with 0-based position
    val pfxLen = (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int")
    val pfx = pt.sorted
      .select(col("id") +: col("n") +: extra.map(col) :+
        posexplode(slice(col("st"), lit(1), pfxLen)).as(Seq("pos", "s")): _*)
      .select(col("id") +: col("n") +: col("pos") +: extra.map(col) :+
        col("s.tok").as("tok"): _*)

    // candidate equi-join on prefix token + length & positional filters
    // (+ the caller's pairFilter, e.g. linkage source-disjointness — pruned
    // pairs die here in the join task, never reaching the distinct exchange)
    val reqOverlap =
      ceil(lit(threshold) / (1 + threshold) * (col("a.n") + col("b.n")))
    val joined = pfx.as("a").join(pfx.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id")
          && least(col("a.n"), col("b.n")) >=
               lit(threshold) * greatest(col("a.n"), col("b.n"))
          && least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
               reqOverlap)
    val cands = pairFilter.fold(joined)(f => joined.filter(f("a", "b")))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()

    // exact verify: same |∩|/|∪| integers as the brute-force string form
    // (modulo 64-bit hash collisions), so the rounded value is identical
    cands
      .join(pt.d.select(col("id").as("id1"), col("h").as("h1")), "id1")
      .join(pt.d.select(col("id").as("id2"), col("h").as("h2")), "id2")
      .withColumn("jaccard",
        graft.expressions.SimilarityExpressions.jaccardSorted(col("h1"), col("h2")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * Cost estimate for planning (NOT a result bound): the raw prefix-join
   * output volume Σ_token C(df_prefix(token), 2) per (table, threshold), for
   * every table in ONE Spark job (the per-threshold prefix membership of a
   * token at 0-based position p in a set of size n is just
   * p <= n - ⌈τ·n⌉, so a single posexplode serves every τ). Over-counts
   * pairs sharing several prefix tokens and ignores the length/positional
   * filters — proportional to the join's dominant cost (raw candidate rows),
   * which is what MultiField's planner needs. The same `sorted` caches then
   * feed the chosen [[joinFromTable]], so the tokenize → token-df →
   * per-id-sort chain runs once, not twice.
   */
  private[operators] def estimateFromTables(
      tables: Seq[(String, PrefixTable, Seq[Double])]): Map[(String, Double), BigInt] = {
    require(tables.nonEmpty, "at least one table")
    require(tables.forall(_._3.nonEmpty), "each table needs >= 1 threshold")
    val allTs = tables.flatMap(_._3).distinct
    require(allTs.nonEmpty && allTs.forall(t => t > 0 && t <= 1), "0 < thresholds <= 1")
    val tagged = tables.map { case (name, pt, ts) =>
      // only positions inside the LOOSEST estimated threshold's prefix can
      // contribute to any count below (the per-threshold condition is
      // pos <= n - ceil(t·n), maximal at min(t)) — slicing before the
      // explode drops the tail rows exactly, cutting the estimate's
      // heaviest exchange roughly in half at typical thresholds
      val tMin = ts.min
      val pfxLen = (col("n") - ceil(lit(tMin) * col("n")) + 1).cast("int")
      pt.sorted
        .select(lit(name).as("tbl"), col("n"),
          posexplode(slice(col("st"), lit(1), pfxLen)).as(Seq("pos", "s")))
        .select(col("tbl"), col("n"), col("pos"), col("s.tok").as("tok"))
    }.reduce(_ unionByName _)
    val cnts = allTs.zipWithIndex.map { case (t, i) =>
      sum(when(col("pos") <= col("n") - ceil(lit(t) * col("n")), 1L)
        .otherwise(0L)).as(s"c$i")
    }
    val perTok = tagged.groupBy("tbl", "tok").agg(cnts.head, cnts.tail: _*)
    val sums = allTs.indices.map { i =>
      // cast BEFORE multiplying: a boilerplate token with prefix-df above
      // ~3e9 would overflow c*(c-1) in LongType and poison the plan cost
      val c = col(s"c$i").cast("decimal(38,0)")
      sum(c * (c - 1) / 2).as(s"s$i")
    }
    val rows = perTok.groupBy("tbl").agg(sums.head, sums.tail: _*).collect()
    val byTbl = rows.map(r => r.getString(0) ->
      allTs.indices.map(i => if (r.isNullAt(i + 1)) BigInt(0)
        else BigInt(r.getDecimal(i + 1).toBigInteger)).toIndexedSeq).toMap
    tables.flatMap { case (name, _, ts) =>
      ts.distinct.map { t =>
        (name, t) -> byTbl.get(name)
          .map(v => v(allTs.indexOf(t))).getOrElse(BigInt(0))
      }
    }.toMap
  }
}
