package graft.operators

import graft.expressions.SimilarityExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Multi-field record support — the reference's core ER shape: a record has
 * several text fields, each with its own signature config, blocking keys are
 * OR-unioned across fields, and the final pair score is a config-weighted
 * combination of per-field similarities.
 *
 * Reference mapping:
 *  - field config dict + validation: field_config_parser.py:29-150 (S4/P1);
 *    `source` below = the reference's `key` remap (n configs over one
 *    source column);
 *  - OR-blocking union across fields: record pooling, models.py:177-198 (P12);
 *  - weighted pair score: the attention-weighted record pool analog —
 *    deterministic config weights instead of learned attention;
 *  - "empty must not match empty" (models.py:253-256): an empty field scores
 *    0 against anything, while its weight stays in the denominator.
 *
 * EXACT by construction: weighted-average >= t implies max per-field
 * Jaccard >= t, so the union of per-field prefix-filter joins (SetSimJoin)
 * at threshold t is a COMPLETE candidate set — no LSH recall caveat. All
 * shuffles are equi-joins; scales like SetSimJoin.
 */
object MultiField {

  /** One field's signature config. `source` is the input column (defaults to
    * the field name — override to define several configs over one column). */
  final case class FieldSpec(
      field: String,
      source: String,
      sigType: String, // "syntactic" (char shingles) | "semantic" (word tokens)
      weight: Double,
      shingleK: Int = 5)

  val sigTypes: Set[String] = Set("syntactic", "semantic")

  /**
   * Parse + validate a field-config JSON object (reference
   * field_config_parser.py error semantics):
   * {"title": {"sig_type": "syntactic", "weight": 2.0},
   *  "title_tokens": {"source": "title", "sig_type": "semantic"}}
   * Other keys (the reference's neural-model settings such as
   * `max_str_len`) are ignored.
   */
  def parseConfigs(json: String): Seq[FieldSpec] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(json) match {
      case JObject(fields) => fields
      case _ => throw new IllegalArgumentException(
        "field config must be a JSON object of field -> config")
    }
    if (parsed.isEmpty)
      throw new IllegalArgumentException("field config dict is empty")
    val specs = parsed.map {
      case (field, JObject(cfg)) =>
        val m = cfg.toMap
        if (m.isEmpty) throw new IllegalArgumentException(
          s"""Please set the value of "$field" in the field config dict""")
        val sigType = m.get("sig_type") match {
          case Some(JString(s)) => s
          case None => "syntactic"
          case Some(other) => throw new IllegalArgumentException(
            s"""field "$field": sig_type must be a string, got $other""")
        }
        if (!sigTypes.contains(sigType)) throw new IllegalArgumentException(
          s"""field "$field": unknown sig_type "$sigType" (available: ${sigTypes.mkString(", ")})""")
        val weight = m.get("weight") match {
          case Some(JDouble(w)) => w
          case Some(JInt(w)) => w.toDouble
          case None => 1.0
          case Some(other) => throw new IllegalArgumentException(
            s"""field "$field": weight must be a number, got $other""")
        }
        if (weight <= 0) throw new IllegalArgumentException(
          s"""field "$field": weight must be > 0, got $weight""")
        val source = m.get("source") match {
          case Some(JString(s)) => s
          case None => field
          case Some(other) => throw new IllegalArgumentException(
            s"""field "$field": source must be a string, got $other""")
        }
        val k = m.get("shingle_k") match {
          case Some(JInt(v)) => v.toInt
          case None => 5
          case Some(other) => throw new IllegalArgumentException(
            s"""field "$field": shingle_k must be an int, got $other""")
        }
        if (k < 1) throw new IllegalArgumentException(
          s"""field "$field": shingle_k must be >= 1, got $k""")
        FieldSpec(field, source, sigType, weight, k)
      case (field, JNull) => throw new IllegalArgumentException(
        s"""Please set the value of "$field" in the field config dict""")
      case (field, other) => throw new IllegalArgumentException(
        s"""field "$field": config must be an object, got $other""")
    }
    val dup = specs.groupBy(_.field).collectFirst { case (f, ss) if ss.size > 1 => f }
    dup.foreach(f => throw new IllegalArgumentException(s"""duplicate field "$f""""))
    specs
  }

  /** Distinct token-set column for one field: char k-shingles (syntactic)
    * or whitespace word tokens (semantic) of the normalized text. Tokens
    * are emitted as 64-bit hashes (the engine-wide convention): set counts
    * equal the string-set counts modulo collisions, and every downstream
    * join/intersect moves 8 bytes per token instead of a string.
    *
    * Round 6: the projection runs in the allocation-free signature kernel
    * (TextSignatures scratch machinery) instead of a Catalyst
    * transform(sequence → substr → xxhash64) chain — the expression form
    * copied one k-char string per shingle position and measured ~115 µs/doc
    * at the bench shape (~0.57 s serialized on a single-split input) where
    * the kernel's rolling char hash is ~20x cheaper. Everything downstream
    * consumes only hash-set identities (join keys, intersection/union
    * SIZES), so swapping the hash family changes no result. */
  def gramCol(src: Column, spec: FieldSpec): Column = {
    val k = spec.shingleK
    val semantic = spec.sigType == "semantic"
    val kernel = udf { (s: String) =>
      if (s == null) Array.emptyLongArray
      else {
        val cs = graft.functions.TextSignatures.normalize(s)
        if (semantic) graft.functions.TextSignatures.tokenHashSet(cs)
        else graft.functions.TextSignatures.shingleSet(cs, k)
      }
    }
    kernel(src)
  }

  /**
   * records(idCol, <source columns>...) → (id1, id2, score) with
   * score = Σ_f w_f · jaccard_f / Σ_f w_f >= threshold, rounded to 6.
   * A missing/empty field contributes 0 to the numerator but its weight
   * stays in the denominator (reference empty-field zeroing).
   */
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /**
   * Per-field completeness threshold: a pair with weighted score >= t has
   * j_f >= (t·W − (W − w_f)) / w_f for EVERY field f (all other fields can
   * contribute at most their full weight), so when that bound is positive,
   * field f's prefix join at it is ALONE a complete candidate set.
   */
  def fieldThreshold(spec: FieldSpec, totalW: Double, t: Double): Double =
    (t * totalW - (totalW - spec.weight)) / spec.weight

  def dedupPairs(records: DataFrame, specs: Seq[FieldSpec], threshold: Double,
      idCol: String = "id"): DataFrame =
    ConfScope.smallInputScope(records.sparkSession, records) { CacheScope.run { s =>
      dedupPairsPlan(s, records, specs, threshold, idCol).localCheckpoint()
    } }

  /**
   * Multi-field record LINKAGE — the reference's linkage mode over a field
   * config (entity_embed.py:536-582 driving ANNLinkageIndex,
   * indexes.py:85-140): two tagged sources in one table, the same per-field
   * gram/blocking/weighted-rescore machinery as [[dedupPairs]], but only
   * CROSS-source pairs, emitted ORIENTED as (left_id, right_id, score)
   * regardless of id magnitude (indexes.py:123-130).
   *
   * Scale shape: source-disjointness is evaluated INSIDE each field's
   * prefix-filter candidate join (SetSimJoin pairFilter hook — intra-source
   * collisions, ~half of all candidates on balanced sources, never reach
   * the pair exchange), exactly like the single-column Linkage operator
   * pushes it into the bucket join. Completeness is unchanged: the filter
   * removes only pairs the output excludes by definition.
   */
  def linkagePairs(records: DataFrame, specs: Seq[FieldSpec], threshold: Double,
      leftSource: String, idCol: String = "id",
      sourceCol: String = "source"): DataFrame =
    ConfScope.smallInputScope(records.sparkSession, records) { CacheScope.run { s =>
    require(records.columns.contains(sourceCol),
      s"linkage needs source column '$sourceCol'")
    val crossSource: (String, String) => Column =
      (a, b) => col(s"$a.$sourceCol") =!= col(s"$b.$sourceCol")
    val plan = dedupPairsPlan(s, records, specs, threshold, idCol,
      extra = Seq(sourceCol), pairFilter = Some(crossSource))
    val src = records.select(col(idCol).cast("long").as("id"),
      col(sourceCol).as("source"))
    Linkage.orient(plan, src, leftSource, "score")
      .localCheckpoint()
    } }

  /** The un-checkpointed join plan over caches kept in `s` — plan-shape
    * tests assert on THIS (the public method's localCheckpoint collapses
    * executedPlan to a checkpoint-RDD scan, which would make a no-cartesian
    * assertion vacuous). */
  private[graft] def dedupPairsPlan(s: CacheScope, records: DataFrame,
      specs: Seq[FieldSpec], threshold: Double, idCol: String = "id",
      extra: Seq[String] = Nil,
      pairFilter: Option[(String, String) => Column] = None): DataFrame = {
    require(specs.nonEmpty, "at least one field spec required")
    specs.foreach(sp => require(records.columns.contains(sp.source),
      s"""field "${sp.field}": source column "${sp.source}" not in the input"""))
    val totalW = specs.map(_.weight).sum

    // ONE prefix table per field (SetSimJoin.PrefixTable: hashed-set side +
    // df-sorted token lists, both kept) — shared by the planner's cost
    // estimate, the chosen candidate join(s) AND the rescore below. Round-6
    // restructure: the estimate previously re-derived the tokenize →
    // token-df → per-id-sort chain from the raw gram tables, duplicating
    // the operator's most expensive shuffles; sharing the table removes a
    // full pass over every field. Lineage-cut after the keep: with N
    // fields x 3 consumers, Catalyst would otherwise re-analyze every
    // subtree per downstream Dataset (GraftSqlBridge scaladoc).
    val cut = org.apache.spark.sql.GraftSqlBridge.truncateLineageLocal _
    val fieldTables = specs.map { sp =>
      val pt = SetSimJoin.prefixTable(s,
        records.select(col(idCol).as("id") +: extra.map(col) :+
          gramCol(col(sp.source), sp).as("g"): _*), extra)
      SetSimJoin.PrefixTable(cut(pt.d), cut(pt.sorted))
    }
    // NOT worth it (measured): eagerly materializing the per-field caches
    // as concurrent count() jobs before the estimate — AQE already overlaps
    // the independent per-field stages inside the estimate job, and the
    // extra cache-scan pass made the interleaved A/B a wash-to-loss
    // (min 3.20 s with vs 2.98 s without at the bench shape).

    // ---- selectivity-aware blocking plan (both plans are provably
    // complete, so the choice only affects cost, never the result) ----
    //  union plan: every field joined at t (weighted avg >= t ⇒ max
    //    per-field jaccard >= t);
    //  single-field plan: field f alone at fieldThreshold(f) (see above).
    // An unselective field (templated boilerplate bodies at web scale) can
    // make its union branch emit orders of magnitude more candidates than
    // a selective field's single-field plan — the raw-candidate estimate
    // (one cheap pass over the shared prefix tables) picks the cheapest.
    def unionPlan(): DataFrame = fieldTables
      .map(pt => SetSimJoin.joinFromTable(pt, threshold, extra, pairFilter)
        .select("id1", "id2"))
      .reduce(_ union _)
      .distinct()

    val singles = specs.zip(fieldTables).flatMap { case (sp, pt) =>
      val tf = fieldThreshold(sp, totalW, threshold)
      if (tf > 0 && tf <= 1) Some((sp, pt, tf)) else None
    }
    val planned =
      if (singles.isEmpty || specs.size == 1) unionPlan()
      else {
        val est = SetSimJoin.estimateFromTables(
          specs.zip(fieldTables).map { case (sp, pt) =>
            val tfOpt = singles.collectFirst { case (s, _, tf) if s eq sp => tf }
            (sp.field, pt, threshold +: tfOpt.toSeq)
          })
        val unionCost = specs.map(sp => est((sp.field, threshold))).sum
        val (bsp, bpt, btf) = singles.minBy { case (sp, _, tf) => est((sp.field, tf)) }
        val bestCost = est((bsp.field, btf))
        if (bestCost < unionCost) {
          log.info(s"multifield plan: single-field '${bsp.field}' at " +
            f"$btf%.3f (est $bestCost raw candidates vs union $unionCost)")
          SetSimJoin.joinFromTable(bpt, btf, extra, pairFilter)
            .select("id1", "id2")
        } else {
          log.info(s"multifield plan: union of ${specs.size} field joins at " +
            f"$threshold%.3f (est $unionCost raw candidates; best single " +
            s"'${bsp.field}' was $bestCost)")
          unionPlan()
        }
      }
    val cands = cut(s.keep(planned))

    // weighted rescore over the SAME prefix tables (pt.d's `h` is the
    // sorted distinct hash array — intersection/union SIZES over it are
    // identical to the raw gram array's, so scores are unchanged)
    weightedScore(cands, specs.zip(fieldTables).map { case (sp, pt) =>
      (sp.weight, pt.d.select(col("id"), col("h").as("g")))
    }, threshold)
  }

  /** Σ_f w_f · jaccard_f / Σ_f w_f per candidate (id1, id2), rounded to 6
    * and filtered at `threshold`: one contribution row per pair and field,
    * summed per pair. `fields` holds each field's weight and its (id, g)
    * table of SORTED distinct hash sets; a pair missing a field's set
    * scores 0 for it. */
  private def weightedScore(cands: DataFrame, fields: Seq[(Double, DataFrame)],
      threshold: Double): DataFrame = {
    val contrib = fields.map { case (w, d) =>
      cands
        .join(d.select(col("id").as("id1"), col("g").as("g1")), Seq("id1"), "left")
        .join(d.select(col("id").as("id2"), col("g").as("g2")), Seq("id2"), "left")
        .select(col("id1"), col("id2"),
          // both callers' sets are sorted distinct hash arrays, the merge
          // kernel's input; empty-vs-empty scores 0 in the kernel and a
          // missing side is null → 0 (the reference's empty-field zeroing)
          (coalesce(SimilarityExpressions.jaccardSorted(col("g1"), col("g2")),
            lit(0.0)) * w).as("wj"))
    }.reduce(_ unionByName _)
    contrib.groupBy("id1", "id2")
      .agg(round(sum(col("wj")) / fields.map(_._1).sum, 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /**
   * 100 TB mode — LSH-blocked multi-field candidates: each field computes
   * its own MinHash band keys (graft.functions.TextSignatures at the shared
   * config), bucket spaces made disjoint per field by mixing the field
   * index into the key, all memberships unioned into ONE skew-capped bucket
   * join (the reference's OR-blocking record pool, models.py:177-198).
   * Candidate coverage is probabilistic (the LSH S-curve per field); pairs
   * are then weighted-rescored exactly like dedupPairs. Use when the exact
   * prefix-filter join's candidate volume is too high — blocking cost here
   * is independent of the similarity threshold.
   */
  def lshCandidates(records: DataFrame, specs: Seq[FieldSpec],
      cfg: graft.config.GraftConfig): CandidateGen.Result = {
    require(specs.nonEmpty, "at least one field spec required")
    val memberships = specs.zipWithIndex.map { case (sp, i) =>
      // band keys are all this reads: skip the SimHash and span passes
      val sigs = Signatures.compute(
        records.select(col("id"), col(sp.source).as("text")), cfg,
        parts = graft.functions.TextSignatures.SigParts.minhashOnly)
      sigs.select(col("id"),
        // field-mixed bucket: field i's bucket space never collides with
        // field j's (same trick as band-index mixing inside the kernel)
        explode(transform(col("band_keys"),
          k => xxhash64(lit(i), k))).as("bucket"))
    }.reduce(_ unionByName _)
    val r = BucketJoin.pairs(Seq(BucketJoin.Stage("multifield_lsh", memberships,
      BucketJoin.Star, 1)), cfg.maxBandBucket)
    CandidateGen.Result(r.pairs, r.oversizeLog)
  }

  /** Weighted rescore of an externally-supplied candidate set (the verify
    * half of dedupPairs, shared by the exact and LSH paths). */
  def rescore(cands: DataFrame, records: DataFrame, specs: Seq[FieldSpec],
      threshold: Double): DataFrame =
    weightedScore(cands.select("id1", "id2"), specs.map { sp =>
      (sp.weight, records.select(col("id"), gramCol(col(sp.source), sp).as("g")))
    }, threshold)
}
