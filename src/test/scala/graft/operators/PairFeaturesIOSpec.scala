package graft.operators

import graft.SparkSuite
import graft.functions.Tokenize
import graft.io.PairIO
import java.nio.file.Files

class PairFeaturesIOSpec extends SparkSuite {
  import spark.implicits._

  test("Tokenize.default matches reference tokenizer semantics (P2)") {
    // reference default_tokenizer: word runs (no underscore) | punct runs
    val got = Seq("Foo_bar-baz 99!?x").toDF("t")
      .select(Tokenize.default($"t")).head().getSeq[String](0)
    assert(got == Seq("foo", "_", "bar", "-", "baz", "99", "!?", "x"))
  }

  test("PairFeatures.enrich computes jaccard/overlap/levenshtein") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "q r s")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val f = PairFeatures.enrich(pairs, docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(f((1L, 2L))._1 == 0.6) // 3/5
    assert(f((1L, 2L))._2 == 0.75) // 3/4
    assert(f((1L, 2L))._3 > 0.8) // 1 edit over 7 chars
    assert(f((1L, 3L))._1 == 0.0)
  }

  test("PairFeatures.capPairsPerRecord bounds pairs like ann_k (W1)") {
    // star around 1: pairs (1,x) scored descending; cap k=2 keeps best 2 per record
    val scored = Seq(
      (1L, 2L, 0.9), (1L, 3L, 0.8), (1L, 4L, 0.7), (1L, 5L, 0.6))
      .toDF("id1", "id2", "jaccard")
    val capped = PairFeatures.capPairsPerRecord(scored, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1's top-2 = (1,2),(1,3); but (1,4) survives via 4's own top-k (4 has
    // only one partner) — either-side semantics like bidirectional k-NN
    assert(capped == Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    val capped1 = PairFeatures.capPairsPerRecord(scored, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped1.contains((1L, 2L)))
  }

  test("S1 record CSV scan: id/cluster int coercion + non-int raises (cli.py:34-49)") {
    val dir = Files.createTempDirectory("graft-s1").toString

    val ok = s"$dir/records.csv"
    Files.writeString(java.nio.file.Paths.get(ok),
      "id,title,cluster\n3,alpha,10\n1,beta,10\n2,gamma,11\n")
    val recs = PairIO.readRecords(spark, ok, clusterField = Some("cluster"))
    assert(recs.schema("id").dataType.typeName == "long")
    assert(recs.schema("cluster").dataType.typeName == "long")
    assert(recs.schema("title").dataType.typeName == "string")
    assert(recs.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))

    // cluster field absent from header: no coercion, no error (reference
    // only coerces "if cluster_field in record")
    val noCluster = s"$dir/nocluster.csv"
    Files.writeString(java.nio.file.Paths.get(noCluster), "id,title\n1,x\n")
    assert(PairIO.readRecords(spark, noCluster, Some("cluster")).count() == 1)

    // non-int id raises, like the reference's int() ValueError
    val badId = s"$dir/badid.csv"
    Files.writeString(java.nio.file.Paths.get(badId), "id,title\n1,x\nSEVEN,y\n")
    intercept[Exception] {
      PairIO.readRecords(spark, badId).collect()
    }

    // non-int cluster raises (utils.py:33-38)
    val badCl = s"$dir/badcluster.csv"
    Files.writeString(java.nio.file.Paths.get(badCl),
      "id,title,cluster\n1,x,10\n2,y,none\n")
    intercept[Exception] {
      PairIO.readRecords(spark, badCl, Some("cluster")).collect()
    }

    // missing id column rejected up front
    val noId = s"$dir/noid.csv"
    Files.writeString(java.nio.file.Paths.get(noId), "title\nx\n")
    intercept[IllegalArgumentException] {
      PairIO.readRecords(spark, noId)
    }
  }
}
