package graft.pipeline

import graft.SparkSuite
import graft.config.GraftConfig
import graft.corpus.PageCorpus
import java.nio.file.Files

/**
 * North-rule gate: "resumable from checkpoint" — a re-run skips completed
 * stages and produces byte-identical results; a killed-after-stage-k run
 * resumes from stage k+1.
 */
class ResumeSpec extends SparkSuite {

  val cfg = GraftConfig.default

  test("checkpointed run persists stages + lineage; resume skips completed stages") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    val (pages, _) = PageCorpus.generate(spark, 400, cfg.seed)
    val df = pages.toDF()

    val r1 = new DedupPipeline(spark, cfg, Some(dir)).run(df)
    val a1 = r1.assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // all stage outputs + markers + lineage exist
    for (stage <- Seq("signatures", "candidates", "verified", "clusters")) {
      assert(new java.io.File(s"$dir/$stage/_GRAFT_OK").exists(), s"$stage marker")
    }
    assert(new java.io.File(s"$dir/lineage").exists())
    val lineage = spark.read.parquet(s"$dir/lineage")
    assert(lineage.columns.toSet == Set("partition", "rows", "stage"))
    assert(lineage.count() > 0)

    // resume: delete the LAST stage's marker only — earlier stages must be
    // loaded, the deleted one recomputed, and results byte-identical
    new java.io.File(s"$dir/clusters/_GRAFT_OK").delete()
    val r2 = new DedupPipeline(spark, cfg, Some(dir)).run(df)
    val a2 = r2.assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a2 == a1, "resumed run must match original exactly")

    // full resume (all markers intact): instant stage loads, same output
    val r3 = new DedupPipeline(spark, cfg, Some(dir)).run(df)
    val a3 = r3.assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a3 == a1)
  }

  test("runPairs is resumable: completed pairs table short-circuits the job") {
    val dir = Files.createTempDirectory("graft_ckpt_pairs").toString
    val (pages, _) = PageCorpus.generate(spark, 300, cfg.seed)
    val df = pages.toDF()
    val p1 = new DedupPipeline(spark, cfg, Some(dir))
      .runPairs(df, exact = true)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(new java.io.File(s"$dir/pairs/_GRAFT_OK").exists(), "pairs marker")
    assert(p1.nonEmpty)
    // resume proof: poison the checkpoint table; the second run must READ
    // it (skip recomputation) and therefore return the poisoned content
    val spark2 = spark
    import spark2.implicits._
    Seq((-1L, -2L, 0.9, "minhash")).toDF("id1", "id2", "jaccard", "stage")
      .write.mode("overwrite").parquet(s"$dir/pairs")
    new java.io.File(s"$dir/pairs/_GRAFT_OK").createNewFile()
    val p2 = new DedupPipeline(spark, cfg, Some(dir))
      .runPairs(df, exact = true)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((-1L, -2L)), "completed pairs stage must be loaded, not recomputed")
  }

  test("resume fails fast on a signature-format version mismatch") {
    val dir = Files.createTempDirectory("graft_ckpt_fmt").toString
    val (pages, _) = PageCorpus.generate(spark, 200, cfg.seed)
    val df = pages.toDF()
    new DedupPipeline(spark, cfg, Some(dir)).run(df).assignments.count()
    // stamp written alongside the signatures stage
    assert(new java.io.File(s"$dir/signatures_format/_GRAFT_OK").exists())
    val spark2 = spark
    import spark2.implicits._
    // stale checkpoint from an older hash family: resume must refuse
    Seq(1L).toDF("format_version")
      .write.mode("overwrite").parquet(s"$dir/signatures_format")
    new java.io.File(s"$dir/signatures_format/_GRAFT_OK").createNewFile()
    val e = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, cfg, Some(dir)).run(df).assignments.count()
    }
    assert(e.getMessage.contains("signature format"), e.getMessage)
    // pre-versioning checkpoint (no format table at all): also refused
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    rmr(new java.io.File(s"$dir/signatures_format"))
    val pre = intercept[IllegalArgumentException] {
      new DedupPipeline(spark, cfg, Some(dir)).run(df).assignments.count()
    }
    // the error says how to recover: delete the stage (or the whole
    // checkpoint) to recompute
    assert(pre.getMessage.contains("delete the checkpoint's 'signatures' stage directory"),
      pre.getMessage)
  }

  test("checkpointed and un-checkpointed runs agree") {
    val dir = Files.createTempDirectory("graft_ckpt2").toString
    val (pages, _) = PageCorpus.generate(spark, 300, cfg.seed + 1)
    val df = pages.toDF()
    val ck = new DedupPipeline(spark, cfg, Some(dir)).run(df)
      .assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = new DedupPipeline(spark, cfg, None).run(df)
      .assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ck == mem)
  }

  test("TableIO seam: a custom backend drives the pipeline, operators untouched") {
    // wrap ParquetTables with a call recorder — proves every stage/lineage
    // IO goes through the seam (so swapping in an Iceberg TableIO is a
    // one-class change, SURVEY.md S7)
    val dir = Files.createTempDirectory("graft_tio").toString
    val inner = new graft.io.ParquetTables(spark, dir)
    val reads = scala.collection.mutable.ArrayBuffer.empty[String]
    val writes = scala.collection.mutable.ArrayBuffer.empty[String]
    val recording = new graft.io.TableIO {
      def read(t: String) = { reads += t; inner.read(t) }
      def write(df: org.apache.spark.sql.DataFrame, t: String,
          mode: org.apache.spark.sql.SaveMode) = { writes += t; inner.write(df, t, mode) }
      def isComplete(t: String) = inner.isComplete(t)
      def markComplete(t: String) = inner.markComplete(t)
    }
    val (pages, _) = PageCorpus.generate(spark, 300, cfg.seed + 7)
    val df = pages.toDF()
    val viaSeam = new DedupPipeline(spark, cfg, tableIO = Some(recording)).run(df)
    val a1 = viaSeam.assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Seq("signatures", "candidates", "verified", "clusters").forall(writes.contains),
      s"stage writes must go through the seam: $writes")
    assert(reads.contains("signatures"), s"stage reads must go through the seam: $reads")
    // identical to the in-session run
    val plain = new DedupPipeline(spark, cfg).run(df)
    val a2 = plain.assignments.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a1 == a2)
  }
}
