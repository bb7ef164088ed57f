package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamTune

/** The drain-width derivation and its session-conf discipline (r15
  * optimization round): widths come from landing BYTES, clamp to the
  * session's own configuration, and the session width is restored on
  * every exit path — the e16 loop-width contract applied to drains. */
class StreamTuneSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  test("widthFor: ceil(bytes/target) clamped to [1, session width]") {
    val t = 512L << 10
    assert(StreamTune.widthFor(0L, 32, t) === 1)          // empty floor
    assert(StreamTune.widthFor(1L, 32, t) === 1)
    assert(StreamTune.widthFor(t, 32, t) === 1)           // exact fit
    assert(StreamTune.widthFor(t + 1, 32, t) === 2)       // ceil
    assert(StreamTune.widthFor(4L * t, 32, t) === 4)      // sf0.1 events shape
    assert(StreamTune.widthFor(1000L * t, 32, t) === 32)  // cluster clamp
    assert(StreamTune.widthFor(1000L * t, 8, t) === 8)    // session is the cap
  }

  test("withDrainWidth: narrow inside, session width restored after") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val inside = StreamTune.withDrainWidth(spark, 1L) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(inside === "1")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("withDrainWidth: restoration survives a failing body") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    intercept[RuntimeException] {
      StreamTune.withDrainWidth(spark, 1L) { sys.error("drain died") }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("sourceBytes: files sum, directories walk, missing paths count 0") {
    val dir = java.nio.file.Files.createTempDirectory("tune")
    val f1 = dir.resolve("a.parquet")
    val f2 = dir.resolve("b.parquet")
    java.nio.file.Files.write(f1, Array.fill[Byte](100)(1))
    java.nio.file.Files.write(f2, Array.fill[Byte](28)(1))
    assert(StreamTune.sourceBytes(f1) === 100L)
    assert(StreamTune.sourceBytes(dir) === 128L)
    assert(StreamTune.sourceBytes(dir.resolve("nope")) === 0L)
  }

  test("withDrainWidth: AQE disabled at width 1 only, restored after") {
    val spark = SparkTestSession.spark
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    StreamTune.withDrainWidth(spark, 1L) {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "false",
        "width-1 drains must run their foreachBatch jobs without AQE")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
    StreamTune.withDrainWidth(spark, 100L * StreamTune.DefaultPartBytes) {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0,
        "wide drains keep AQE (coalescing/skew handling)")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
  }

  test("spreadBatchIfWide: fires only at >=2 partitions of per-trigger bytes, explicit count") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val t = StreamTune.DefaultPartBytes
    // under the bar: the plan must be returned UNCHANGED (no exchange)
    val narrow = StreamTune.spreadBatchIfWide(df, org.apache.spark.sql.functions.col("doc_id"), t)
    assert(narrow.queryExecution.logical eq df.queryExecution.logical,
      "a sub-bar trigger must keep its exchange-free plan")
    // over the bar: a repartition with an EXPLICIT partition count
    // (AQE-coalesce-exempt — the sfx1 lesson) derived from the bytes
    val wide = StreamTune.spreadBatchIfWide(df, org.apache.spark.sql.functions.col("doc_id"), 4 * t)
    val rep = wide.queryExecution.logical.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(rep.nonEmpty, "an over-bar trigger must spread")
    assert(rep.head.optNumPartitions.contains(4),
      s"explicit count derived from bytes, got ${rep.head.optNumPartitions}")
  }
}
