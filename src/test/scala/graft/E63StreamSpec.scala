package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.EventOps
import graft.streaming.EventStreams

/** e63s — streaming refresh cadence for the incremental-aggregate
  * state (r10 verdict ask #7, the e6s protocol on the e63 state).
  * Claims: the drained fold equals the one-shot batch refresh exactly
  * (shared oracle), a RESTARTED drain over the same checkpoint folds
  * nothing twice, and a simulated at-least-once REPLAY of a batch id
  * leaves the result bit-identical (idempotence by batch-dir
  * overwrite). */
class E63StreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("e63s drained state equals the batch refresh under the same grain") {
    val batch = rows(EventOps.e63IncrAgg(spark, sf))
    val stream = rows(EventStreams.e63sStreamIncrAgg(spark, sf))
    assert(stream.nonEmpty && stream == batch)
  }

  test("restart folds nothing twice; replayed batch id is idempotent") {
    import scala.jdk.CollectionConverters._
    EventOps.e63Ensure(spark, sf)
    val work = graft.util.PathKeys.fixturePath("stream-e63s-spec", sf, "-4")
    def wipe(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    wipe(work)
    EventStreams.e63sDrain(spark, sf, work)
    val once = rows(EventStreams.e63sResult(spark, sf, work))
    def batchDirs() = scala.util.Using.resource(
        java.nio.file.Files.list(work.resolve("partials"))) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq.sorted
    }
    val dirsOnce = batchDirs()
    assert(dirsOnce.nonEmpty)
    // RESTART: same checkpoint, no new source files — the resumed query
    // must commit no new batch dirs and the result must not move
    EventStreams.e63sDrain(spark, sf, work)
    assert(batchDirs() == dirsOnce, "a restart must not re-fold committed batches")
    assert(rows(EventStreams.e63sResult(spark, sf, work)) == once)
    // REPLAY: re-fold the LAST committed batch id with the exact rows
    // it consumed — the at-least-once window between sink write and
    // offset commit. The bucketed landing replays one time-bucket file
    // per micro-batch in timeline order (staggered mtimes), so batch i
    // IS file events-i through the boundary filter. Overwrite-by-layout
    // must keep the drained state bit-identical.
    val lastId = dirsOnce.last.stripPrefix("batch=").toLong
    val landing = graft.util.PathKeys.fixturePath("stream-events-bucketed", sf, "-4")
    val raw = spark.read.parquet(
        landing.resolve(f"events-$lastId%03d.parquet").toString)
      .where(col("ts") >= lit(EventOps.e63Boundary).cast("timestamp"))
    EventStreams.e63sFoldBatch(raw, lastId, work)
    assert(batchDirs() == dirsOnce)
    assert(rows(EventStreams.e63sResult(spark, sf, work)) == once,
      "a replayed batch must overwrite its own fold, never double-count")
  }

  test("compaction bounds the fold listing and keeps the drained state exact") {
    import scala.jdk.CollectionConverters._
    EventOps.e63Ensure(spark, sf)
    val work = graft.util.PathKeys.fixturePath("stream-e63s-compact-spec", sf, "-4")
    def wipe(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    wipe(work)
    EventStreams.e63sDrain(spark, sf, work)
    val once = rows(EventStreams.e63sResult(spark, sf, work))
    def dirs() = scala.util.Using.resource(
        java.nio.file.Files.list(work.resolve("partials"))) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("batch=") || n.startsWith("compact="))
        .toSeq.sorted
    }
    // 4 micro-batches with CompactEvery=3: batches 0..2 folded into
    // compact=2 at batch 3's entry, so the listing is BOUNDED
    assert(dirs().exists(_.startsWith("compact=")),
      s"the 4-batch drain must exercise compaction: ${dirs()}")
    assert(dirs().count(_.startsWith("batch=")) <= graft.streaming.FoldTree.CompactEvery,
      s"live batch dirs must stay bounded: ${dirs()}")
    // compaction is the key's own re-merge, so the answer cannot move
    assert(once == rows(EventOps.e63IncrAgg(spark, sf)))
    // the sum-valued double-count guard: a COMPACTED batch replayed
    // after a crash recreates its dir, but the `> c` read filter must
    // exclude it — the state stays exact even before the next cleanup
    val landing = graft.util.PathKeys.fixturePath("stream-events-bucketed", sf, "-4")
    val old = spark.read.parquet(landing.resolve("events-000.parquet").toString)
      .where(col("ts") >= lit(EventOps.e63Boundary).cast("timestamp"))
    EventStreams.e63sFoldBatch(old, 0L, work)
    assert(dirs().contains("batch=0"), "the stale replay must land on disk")
    assert(rows(EventStreams.e63sResult(spark, sf, work)) == once,
      "a compacted batch's late replay must be invisible to the read")
  }
}
