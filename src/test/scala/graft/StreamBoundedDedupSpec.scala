package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** The bounded-state streaming dedup (e1sb) vs the unbounded seen-set
  * (e1s): same dedup semantics over its key, but
  * `dropDuplicatesWithinWatermark` EVICTS state once the watermark
  * passes a key's event time + delay. This spec drives the pipeline
  * directly (not through the declared-query drain) to read the state
  * metrics off the query progress:
  *
  *  - the staged replay really is multiple micro-batches (the single
  *    batch that makes any dedup trivially "bounded" would prove
  *    nothing);
  *  - rows are removed from state during the run (eviction happened);
  *  - the final state holds only a tail window of the keys, not the
  *    full seen-set — the property e1s structurally cannot have: its
  *    dropDuplicates state only ever grows (one entry per distinct key,
  *    nothing is ever removed).
  */
class StreamBoundedDedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("e1sb evicts state across the bucketed replay and final state is a tail window") {
    val ckpt = java.nio.file.Files.createTempDirectory("e1sb-spec-ckpt")
    val q = EventStreams.e1sbPipeline(spark, sf)
      .writeStream.format("memory").queryName("e1sb_spec").outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length >= 6,
      s"expected one micro-batch per staged bucket, got ${progress.length}")
    val state = progress.flatMap(_.stateOperators.headOption)
    val removed = state.map(_.numRowsRemoved).sum
    val finalRows = state.last.numRowsTotal
    val emitted = spark.table("e1sb_spec").count()
    // batch-global parity: the appended output is exactly the distinct keys
    val distinctKeys = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "to_date(ts) AS day")
      .distinct().count()
    assert(emitted == distinctKeys, s"emitted $emitted != distinct $distinctKeys")
    assert(removed > 0, "no state rows were ever evicted — state is not bounded")
    assert(finalRows < distinctKeys / 2,
      s"final state $finalRows should be a tail window, not the full seen-set $distinctKeys")
  }

  test("e1sb bounded state survives stop/restart across the bucketed timeline") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    // build (or reuse) the 6-bucket staging, then replay it as two
    // phases through the SAME checkpoint: buckets 0-2, stop, buckets
    // 3-5, restart. A day straddling the phase boundary has its first
    // occurrence before the stop and duplicates after — dedup across
    // that edge requires the recovered state store AND the recovered
    // watermark (memory sinks can't recover append checkpoints, so the
    // sink is the idempotent foreachBatch parquet pattern).
    EventStreams.eventsStreamBucketed(spark, sf, 6)
    val stagedDir = graft.util.PathKeys.fixturePath("stream-events-bucketed", sf, "-6")
    val staged = scala.util.Using.resource(Files.list(stagedDir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("events-")).toSeq
        .sortBy(_.getFileName.toString)
    }
    assert(staged.length == 6)
    val base = Files.createTempDirectory("e1sb-recov")
    val landing = base.resolve("landing")
    Files.createDirectories(landing)
    val ckpt = base.resolve("ckpt").toString
    val sink = base.resolve("sink").toString
    def runOnce(): Unit = {
      val q = spark.readStream.schema(Tables.eventsRawSchema(spark, landing.toString))
        .option("maxFilesPerTrigger", 1).parquet(landing.toString)
        .transform(Tables.normalizeEventTs)
        .withColumn("day", to_date(col("ts")))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$sink/batch=$id")
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // COPY_ATTRIBUTES keeps the staggered mtimes, so the file source
    // replays each phase's files in timeline order
    staged.take(3).foreach(p => Files.copy(p, landing.resolve(p.getFileName),
      StandardCopyOption.COPY_ATTRIBUTES))
    runOnce()
    staged.drop(3).foreach(p => Files.copy(p, landing.resolve(p.getFileName),
      StandardCopyOption.COPY_ATTRIBUTES))
    runOnce()
    val emitted = spark.read.parquet(s"$sink/batch=*")
      .select("user_id", "event_type", "day")
    val expected = graft.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "to_date(ts) AS day").distinct()
    assert(emitted.count() == expected.count(),
      s"restart broke global-dedup parity: ${emitted.count()} vs ${expected.count()}")
    assert(emitted.distinct().count() == emitted.count(),
      "a key was emitted twice across the restart — state or watermark was lost")
  }

  test("contrast: e1s's seen-set state only grows — it holds every key and evicts none") {
    // the same bucketed replay through e1s's dropDuplicates form: its
    // state must end at exactly the distinct-key count with zero
    // evictions — the unbounded growth e1sb exists to fix
    val ckpt = java.nio.file.Files.createTempDirectory("e1s-contrast-ckpt")
    val q = EventStreams.eventsStreamBucketed(spark, sf, 6)
      .dropDuplicates("user_id", "event_type")
      .writeStream.format("memory").queryName("e1s_contrast").outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val state = q.recentProgress.filter(_.numInputRows > 0)
      .flatMap(_.stateOperators.headOption)
    val distinctKeys = graft.Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    assert(state.map(_.numRowsRemoved).sum == 0,
      "dropDuplicates state must never evict")
    assert(state.last.numRowsTotal == distinctKeys,
      s"seen-set must hold every distinct key: ${state.last.numRowsTotal} vs $distinctKeys")
  }
}
