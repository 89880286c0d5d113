package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * The local planning policy at its edges: session width below the floor of
 * 8, inputs without size statistics, streaming inputs, restoring prior conf
 * state (including "unset"), and nested scopes.
 */
class ConfScopeSpec extends SparkSuite {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Width = "spark.sql.shuffle.partitions"

  private def confs: (String, String) =
    (spark.conf.get(Aqe), spark.conf.get(Width))

  /** A small input with real plan statistics (a few KB). */
  private def known: DataFrame = spark.range(200).toDF("id")

  /** A frame built from an RDD: its plan reports spark.sql.defaultSizeInBytes. */
  private def statsless: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(Row(1L, "a"), Row(2L, "b"))),
    StructType(Seq(StructField("id", LongType), StructField("text", StringType))))

  test("a session narrower than 8 is never widened") {
    assert(spark.conf.get(Width) == "4")
    assert(ConfScope.width(spark, BigInt(0), 1L) == 4)
    ConfScope.smallInputScope(spark, known)(assert(spark.conf.get(Width) == "4"))
    ConfScope.pipelineScope(spark, known)(assert(confs == ("false", "4")))
    ConfScope.spanScope(spark, known, 100L)(assert(confs == ("false", "4")))
  }

  test("width rule: floor 8, then the session width caps it") {
    ConfScope.withConfs(spark, Width -> "32") {
      assert(ConfScope.width(spark, BigInt(0), 1L) == 8)
      assert(ConfScope.width(spark, BigInt(20 * 1500), 1500L) == 21)
      assert(ConfScope.width(spark, BigInt(Long.MaxValue) * 4, 1L) == 32)
    }
  }

  test("stats-unknown createDataFrame(rdd) input: AQE off at the session width") {
    ConfScope.withConfs(spark, Aqe -> "true", Width -> "32") {
      // a small input with statistics is right-sized ...
      ConfScope.smallInputScope(spark, known)(assert(spark.conf.get(Width) == "8"))
      ConfScope.pipelineScope(spark, known)(assert(confs == ("false", "8")))
      // ... one without keeps the session width, also when derived from it,
      // and the pipeline still takes the AQE-off regime
      for (df <- Seq(statsless, statsless.select("id"))) {
        ConfScope.smallInputScope(spark, df)(assert(confs == ("true", "32")))
        ConfScope.pipelineScope(spark, df)(assert(confs == ("false", "32")))
      }
    }
  }

  test("a streaming input leaves the session confs untouched") {
    val stream = spark.readStream.format("rate").load()
    assert(stream.isStreaming)
    ConfScope.withConfs(spark, Aqe -> "true", Width -> "32") {
      ConfScope.smallInputScope(spark, stream)(assert(confs == ("true", "32")))
      ConfScope.pipelineScope(spark, stream)(assert(confs == ("true", "32")))
      ConfScope.spanScope(spark, stream, 10L)(assert(confs == ("true", "32")))
    }
  }

  test("prior conf state is restored, including unset, also on failure") {
    val before = confs
    val unsetKey = "spark.sql.test.confScopeUnset"
    assert(!spark.conf.getAll.contains(unsetKey))
    ConfScope.withConfs(spark, unsetKey -> "x")(assert(spark.conf.get(unsetKey) == "x"))
    assert(!spark.conf.getAll.contains(unsetKey), "an unset key must stay unset")
    intercept[IllegalStateException] {
      ConfScope.pipelineScope(spark, known) {
        assert(confs != before)
        throw new IllegalStateException("body failed")
      }
    }
    assert(confs == before)
    // the engine's own keys: an unset AQE key is unset again afterwards
    spark.conf.unset(Aqe)
    try {
      ConfScope.pipelineScope(spark, statsless)(assert(spark.conf.get(Aqe) == "false"))
      assert(!spark.conf.getAll.contains(Aqe))
    } finally spark.conf.set(Aqe, before._1)
  }

  test("nested scopes (pipeline -> spans) restore each level") {
    ConfScope.withConfs(spark, Aqe -> "true", Width -> "32") {
      ConfScope.pipelineScope(spark, statsless) {
        assert(confs == ("false", "32"))
        ConfScope.spanScope(spark, known, 15000L) {
          assert(confs == ("false", "11"))
        }
        assert(confs == ("false", "32"))
        // a span input above the fast-path threshold keeps the outer scope
        ConfScope.spanScope(spark, known, ConfScope.SpanFastPathDocs + 1)(
          assert(confs == ("false", "32")))
      }
      assert(confs == ("true", "32"))
    }
  }
}
