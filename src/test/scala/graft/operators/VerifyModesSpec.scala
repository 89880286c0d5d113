package graft.operators

import graft.SparkSuite
import graft.config.GraftConfig
import graft.expressions.SimilarityExpressions
import org.apache.spark.sql.functions._

/** JaccardVerify exact-mode texts guard, the one signature bundle and its
  * packed-lane tier-1 estimate, SuffixSpans group-cap truncation log,
  * SparkEntry corpus-cache release. */
class VerifyModesSpec extends SparkSuite {
  import spark.implicits._

  val cfg = GraftConfig.default

  private def toyDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and keeps going for a while longer"),
    (2L, "the quick brown fox jumps over the lazy dog and keeps going for a bit longer"),
    (3L, "entirely unrelated content talking about distributed query engines and shuffles"))
    .toDF("id", "text")

  test("verify: narrow bundle without texts fails fast with the coupling spelled out") {
    val docs = toyDocs
    val cands = Seq((1L, 2L, "minhash")).toDF("id1", "id2", "stage")
    val sigs = Signatures.compute(docs, cfg)
    val e = intercept[IllegalArgumentException] {
      JaccardVerify.verify(cands, sigs, cfg)
    }
    assert(e.getMessage.contains("texts"))
    assert(e.getMessage.contains("estimate = true"))
    // estimate mode needs no shingles and no texts — must NOT throw
    assert(JaccardVerify.verify(cands, sigs, cfg, estimate = true).columns
      .contains("jaccard"))
  }

  test("Signatures.compute emits the one narrow bundle") {
    val narrow = Seq("id", "minhash8", "band_keys", "simhash", "simhash_chunks",
      "span_keys", "n_shingles", "n_tokens")
    assert(Signatures.compute(toyDocs, cfg).columns.toSeq == narrow)
    // the by-name parameter frozen callers still pass changes nothing
    assert(Signatures.compute(toyDocs, cfg, emitShingles = true).columns.toSeq == narrow)
  }

  test("verify estimate mode: packed-lane agreement") {
    val docs = toyDocs
    val sigs = Signatures.compute(docs, cfg).persist()
    val cands = Seq((1L, 2L, "minhash")).toDF("id1", "id2", "stage")
    val lowCfg = cfg.copy(simThreshold = 0.0) // keep the pair regardless of score
    def est(packed: Boolean): Double =
      JaccardVerify.verify(cands, sigs, lowCfg, estimate = true,
          packedEstimate = packed)
        .select("jaccard").head().getDouble(0)
    val packed = sigs.as("a").join(sigs.as("b"),
        col("a.id") === 1L && col("b.id") === 2L)
      .select(SimilarityExpressions.minhashAgreementPacked(
        col("a.minhash8"), col("b.minhash8"), cfg.numPerm))
      .head().getDouble(0)
    assert(est(packed = true) == packed)
    assert(est(packed = false) == packed, "packedEstimate has no effect")
    // against the full 64-bit lanes the 8-bit bias is one-sided: never below
    val texts = docs.as[(Long, String)].collect().toMap
    val (a, b) = (graft.functions.TextSignatures.compute(texts(1L), cfg),
      graft.functions.TextSignatures.compute(texts(2L), cfg))
    val full = a.minhash.zip(b.minhash).count { case (x, y) => x == y }.toDouble / cfg.numPerm
    assert(packed >= full && packed - full <= 4.0 / cfg.numPerm, s"full=$full packed=$packed")
    sigs.unpersist()
  }

  test("SuffixSpans: group-cap truncation is logged, spans stay exact") {
    // GroupCap + 1 docs share one long boilerplate block -> one
    // fingerprint-group family above the cap
    val boiler = "this exact boilerplate navigation footer block is repeated " +
      "verbatim across every page of the site and is long enough to winnow"
    val docs = (1L to SuffixSpans.GroupCap + 1L)
      .map(i => (i, s"unique lead $i $boiler unique tail $i"))
      .toDF("id", "text")
    val (spans, warns) = warnings(BucketJoin.getClass.getName)(
      SuffixSpans.spans(docs, cfg).collect())
    assert(warns.size == 1, warns)
    assert(warns.head.startsWith("suffix_span_groups: ") &&
      warns.head.contains("policy Truncate"), warns)
    // spans among the surviving members are still exact and cover the block
    assert(spans.nonEmpty)
    assert(spans.forall(_.getAs[Int]("span_len") >= cfg.minSpanLen))
  }

  test("runPairs minhash-only exact mode == minhashDupPairs (same stage, same result)") {
    val (pages, _) = graft.corpus.PageCorpus.generateLocal(300, cfg.seed)
    val df = spark.createDataset(pages.toSeq).toDF()
    val viaPipeline = new graft.pipeline.DedupPipeline(spark, cfg)
      .runPairs(df, exact = true, useSimhash = false, useSpans = false)
      .select("id1", "id2", "jaccard")
      .withColumn("jaccard", round(col("jaccard"), 6))
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.minhashDupPairs(df.withColumnRenamed("id", "doc_id"), cfg)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaPipeline == direct)
    assert(direct.nonEmpty)
    // estimate mode on the same slice: scores are tier-1 estimates at >= t,
    // so every estimate pair is a real band collision scored >= threshold
    val est = new graft.pipeline.DedupPipeline(spark, cfg)
      .runPairs(df, useSimhash = false, useSpans = false)
    assert(est.columns.toSet == Set("id1", "id2", "jaccard", "stage"))
    assert(est.filter(col("jaccard") < cfg.simThreshold).count() == 0)
  }

  test("SigParts: disabled families come back empty, enabled ones identical to full") {
    // MinHash is always computed: minhashOnly drops SimHash and spans
    val docs = toyDocs
    val full = Signatures.compute(docs, cfg).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    val mh = Signatures.compute(docs, cfg,
      parts = graft.functions.TextSignatures.SigParts.minhashOnly).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    for ((id, r) <- mh) {
      assert(r.getAs[scala.collection.Seq[Long]]("band_keys") == full(id).getAs[scala.collection.Seq[Long]]("band_keys"))
      assert(r.getAs[scala.collection.Seq[Long]]("minhash8") == full(id).getAs[scala.collection.Seq[Long]]("minhash8"))
      assert(r.getAs[scala.collection.Seq[Long]]("span_keys").isEmpty)
      assert(r.getAs[scala.collection.Seq[Long]]("simhash_chunks").isEmpty)
    }
  }

  test("SparkEntry corpus cache has a release path") {
    graft.SparkEntry.corpus(spark, 50)
    assert(graft.SparkEntry.cachedCorpusCount(spark) >= 1)
    graft.SparkEntry.releaseCorpus(spark)
    assert(graft.SparkEntry.cachedCorpusCount(spark) == 0)
  }
}
