package graft.streaming

import graft.SparkSuite
import graft.config.GraftConfig
import graft.corpus.PageCorpus
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSuite {
  import spark.implicits._

  val cfg = GraftConfig.default

  test("streaming pages find their near-duplicates in the static corpus") {
    // static corpus: pages 0..599; stream: fresh variants of the same clusters
    val (pages, truth) = PageCorpus.generateLocal(600, cfg.seed)
    val staticDf = spark.createDataset(pages.toSeq).toDF()
    val bands = IncrementalDedup.staticBandTable(staticDf, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // new crawl snapshot: unseen variants (variant index 90+) of clusters
    // that have >= 2 members in the static corpus
    val bigClusters = truth.groupBy(_.cluster).filter(_._2.length >= 3).keys.take(5).toSeq
    val newPages = bigClusters.zipWithIndex.map { case (c, i) =>
      (10000L + i, PageCorpus.makeText(cfg.seed, c, 90))
    }
    val stream = MemoryStream[(Long, String)](spark)
    val streamDf = stream.toDF().select(col("_1").as("id"), col("_2").as("text"))

    val cands = IncrementalDedup.candidates(streamDf, bands, cfg)
    val q = cands.writeStream.format("memory").queryName("inc_cands")
      .outputMode("append").start()
    stream.addData(newPages)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("inc_cands").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every streamed page must hit at least one member of its source cluster
    val clusterMembers = truth.groupBy(_.cluster).view.mapValues(_.map(_.id).toSet).toMap
    bigClusters.zipWithIndex.foreach { case (c, i) =>
      val hits = got.filter(_._1 == 10000L + i).map(_._2)
      assert(hits.intersect(clusterMembers(c)).nonEmpty,
        s"streamed variant of cluster $c found no static near-dup")
    }
    bands.unpersist()
  }

  test("streaming verify tier: scored pairs ⊇ batch-verified pairs for the same snapshot") {
    // snapshot: 500 static pages + 100 newer pages arriving as a stream
    val (pages, _) = PageCorpus.generateLocal(600, cfg.seed)
    val all = pages.toSeq
    val (staticPart, streamPart) = (all.take(500), all.drop(500))
    val staticDf = spark.createDataset(staticPart).toDF()
    val scoredTable = IncrementalDedup.staticScoredTable(staticDf, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val stream = MemoryStream[(Long, String)](spark)
    val streamDf = stream.toDF().select(col("_1").as("id"), col("_2").as("text"))
    val scored = IncrementalDedup.scoredCandidates(streamDf, scoredTable, cfg)
    val q = scored.writeStream.format("memory").queryName("inc_scored")
      .outputMode("append").start()
    stream.addData(streamPart.map(p => (p.id, p.text)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("inc_scored").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch authority: exact two-tier verify over the full snapshot,
    // restricted to (new, existing) cross pairs
    val unionDf = spark.createDataset(all).toDF()
    val newIds = streamPart.map(_.id).toSet
    val batch = graft.operators.Dedup
      .minhashDupPairs(unionDf, cfg, idCol = "id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (newIds(a) && !newIds(b)) Some((a, b))
        else if (newIds(b) && !newIds(a)) Some((b, a)) else None
      }.toSet
    assert(batch.nonEmpty, "fixture must have cross near-dups")
    val missed = batch -- streamed
    assert(missed.isEmpty,
      s"streamed scored pairs must cover batch-verified pairs; missed $missed")
    // and the tier actually filters: scored stream emits fewer rows than
    // raw band collisions
    val rawQ = IncrementalDedup.candidates(
      spark.createDataset(streamPart).toDF(),
      IncrementalDedup.staticBandTable(staticDf, cfg), cfg).count()
    assert(spark.table("inc_scored").count() < rawQ,
      "estimate filter must prune below-threshold collisions")
    scoredTable.unpersist()
  }

  test("stream-static band join is skew-capped: hot static band emits hub-only pairs") {
    // static corpus: 300 identical pages share every band bucket and would
    // multiply every matching micro-batch row x300 uncapped. Above the cap
    // (maxBandBucket = 256), the static table keeps only the bucket's
    // min-id hub for oversize buckets.
    val base = PageCorpus.makeText(cfg.seed, 1, 0)
    val staticDf = (0L until 300L).map(i => (i, base)).toDF("id", "text")
    assert(300 > cfg.maxBandBucket)
    val bands = IncrementalDedup.staticBandTable(staticDf, cfg)
    // identical docs share every band; all buckets oversize -> hub rows only
    val perBucket = bands.groupBy("bucket").count().agg(max("count")).head().getLong(0)
    assert(perBucket == 1, s"expected hub-only buckets, got max membership $perBucket")
    // the cap is logged, never silent
    assert(IncrementalDedup.oversizeLog(staticDf, cfg).count() > 0)

    val stream = MemoryStream[(Long, String)](spark)
    val streamDf = stream.toDF().select(col("_1").as("id"), col("_2").as("text"))
    val cands = IncrementalDedup.candidates(streamDf, bands, cfg)
    val q = cands.writeStream.format("memory").queryName("inc_capped")
      .outputMode("append").start()
    stream.addData(Seq((5000L, base)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("inc_capped").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // bounded: one pair per matching band bucket (the hub), not 300 per band
    assert(got.nonEmpty && got.forall(_._2 == 0L),
      s"stream rows must link only to the bucket hub (min id 0): ${got.take(5).toSeq}")
  }
}
