package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** E29b — left-outer stream-stream interval join: null rows are the
  * WATERMARK-EMISSION contract, and this spec pins it at µs precision
  * on a hand-built timeline instead of trusting the fixture to happen
  * to exercise the boundary.
  *
  * Spark's watermark bookkeeping is millisecond-truncated
  * (EventTimeWatermark accumulates max eventTime µs / 1000; the final
  * global watermark is min over both sides of that ms value, minus the
  * 10-minute delay), and join-state eviction — which IS null emission
  * for the outer side — fires for clicks whose whole match window sits
  * below the watermark. The boundary click (click_ts + 6h == watermark
  * exactly) is constructed below on purpose: its presence/absence pins
  * the eviction inequality Spark actually uses, and the e29b oracle SQL
  * encodes the same inequality (a boundary drift after a Spark upgrade
  * fails THIS spec before it fails the driver gate).
  *
  * Timeline (all µs-precision, deliberately NOT ms-aligned so the ms
  * truncation is load-bearing):
  *   u1: click + purchase 1h later inside one bucket → matched pair;
  *   u2: click with click_ts + 6h == final watermark exactly;
  *   u3: click strictly below that boundary (must emit a null row);
  *   u4: click strictly above it (still in state — must emit NOTHING);
  *   u5: click/purchase at the stream end pinning both sides' max
  *       event time (and thus the final watermark) to a known value.
  */
class StreamLeftJoinSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val HourUs = 3600L * 1000000
  private val SixHUs = 6 * HourUs
  private val DelayMs = 600000L

  /** A self-contained fixture dir holding ONLY events.parquet, shaped
    * like the driver's events table. */
  private def writeFixture(): (String, Long, Long, Long) = {
    import spark.implicits._
    val t0 = 1600000000L * 1000000 + 777 // µs, off-ms on purpose
    val end = t0 + 48 * HourUs + 555     // both sides' max event time
    val wmUs = (end / 1000 - DelayMs) * 1000 // ms-truncated final watermark
    val boundary = wmUs - SixHUs         // click whose window ENDS at the wm
    val rows = Seq(
      // u1: matched pair, early enough that everything drains
      (1L, t0, 101L, "click", 1.0, "{}"),
      (2L, t0 + HourUs, 101L, "purchase", 2.0, "{}"),
      // u2: the exact boundary click
      (3L, boundary, 102L, "click", 1.0, "{}"),
      // u3: strictly below the boundary (1 ms) — null row must emit
      (4L, boundary - 1000, 103L, "click", 1.0, "{}"),
      // u4: strictly above (1 ms) — must stay in state, emit nothing
      (5L, boundary + 1000, 104L, "click", 1.0, "{}"),
      // u5: stream-end pins; purchase max == click max == end
      (6L, end, 105L, "click", 1.0, "{}"),
      (7L, end, 105L, "purchase", 2.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft-e29b-fix").toString
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events_tmp")
    // the bucketed staging expects a single events.parquet FILE
    val part = new java.io.File(s"$dir/events_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    (dir, wmUs, boundary, end)
  }

  /** Remove the temp fixture AND its staged bucket landing (keyed by
    * the fixture path, so every spec run would otherwise leave a new
    * landing under target/fixtures). */
  private def cleanup(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val landing = graft.util.PathKeys.fixturePath("stream-events-bucketed", dir, "-6")
    Seq(java.nio.file.Paths.get(dir), landing).foreach { root =>
      if (java.nio.file.Files.exists(root))
        scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
          st.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
    }
  }

  test("e29b: nulls emit only once the watermark clears the join window (µs-exact)") {
    val (dir, wmUs, boundary, _) = writeFixture()
    try testBody(dir, wmUs) finally cleanup(dir)
  }

  private def testBody(dir: String, wmUs: Long): Unit = {
    val out = EventStreams.e29bStreamLeftToTable(spark, dir).collect()
    val byClick = out.groupBy(_.getLong(0))

    // matched pair emits (and is never withheld by the outer machinery)
    val u1 = byClick(1L)
    assert(u1.length == 1 && u1.head.getLong(1) == 2L,
      "matched click must pair, not null")

    // u3 (strictly below the boundary): the watermark passed its window
    // — the null row MUST have been emitted before the stream stopped
    val u3 = byClick(4L)
    assert(u3.length == 1 && u3.head.isNullAt(1),
      s"click 1ms below the eviction boundary must emit a null row; got ${u3.toSeq}")

    // u4 (strictly above): its window is NOT cleared — still in state,
    // nothing may emit
    assert(!byClick.contains(5L),
      "click 1ms above the eviction boundary must remain unmatched-in-state")

    // u2 (exact boundary): presence pins the eviction inequality. The
    // e29b oracle uses STRICT '<' (click_ts + 6h < watermark emits);
    // the boundary click must therefore NOT emit. If a Spark upgrade
    // flips this to non-strict, this assertion fails before the driver
    // gate does — update the oracle's comparison with it.
    assert(!byClick.contains(3L),
      s"boundary click (window end == watermark $wmUs) emitted — " +
        "Spark's eviction inequality changed; align the e29b oracle")

    // u5's end-pinning click matches u5's end-pinning purchase (same
    // instant: pts >= cts holds at equality) — matched pairs emit
    // immediately, the watermark only gates NULL rows
    val u5 = byClick(6L)
    assert(u5.length == 1 && u5.head.getLong(1) == 7L,
      "the stream-end matched pair must emit despite its uncleared window")
  }

  test("e29b on the driver fixture: rows == batch left join under the watermark rule") {
    val sf = SparkTestSession.sf
    val streamed = EventStreams.e29bStreamLeftToTable(spark, sf)
    val ev = Tables.events(spark, sf)
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("click_ts_us"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("purchase_ts_us"))
    val maxC = c.agg(max("click_ts_us")).head().getLong(0)
    val maxP = p.agg(max("purchase_ts_us")).head().getLong(0)
    val wmUs = (math.min(maxC, maxP) / 1000 - DelayMs) * 1000
    val expected = c.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts_us") >= col("click_ts_us") &&
          col("purchase_ts_us") <= col("click_ts_us") + SixHUs,
        "left_outer")
      .where(col("purchase_id").isNotNull ||
        col("click_ts_us") + SixHUs < wmUs)
      .select("click_id", "purchase_id", "user_id",
        "click_ts_us", "purchase_ts_us")
    assert(streamed.exceptAll(expected).count() == 0 &&
      expected.exceptAll(streamed).count() == 0,
      "streamed left join must equal the batch join truncated by the final watermark")
  }
}
