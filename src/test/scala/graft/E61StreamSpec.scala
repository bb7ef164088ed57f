package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.EventOps
import graft.streaming.EventStreams

/** e61s — streaming fold of the join-shaped retention state. Beyond
  * the e63s claims (drain = batch refresh, restart adds nothing), the
  * SET-VALUED state carries the stronger one: a true DOUBLE-DELIVERY —
  * the same rows re-folded under a brand-new batch id, the failure
  * the algebraic trilogy must prevent by id-overwrite layout — is
  * absorbed by the distinct union, bit-identically. */
class E61StreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("e61s drained matrix equals e61/e61b exactly") {
    val full = rows(EventOps.e61RetentionCohorts(spark, sf))
    val stream = rows(EventStreams.e61sStreamRetention(spark, sf))
    assert(stream.nonEmpty && stream == full)
  }

  test("set-valued state absorbs a true double-delivery (new batch id, same rows)") {
    import scala.jdk.CollectionConverters._
    EventOps.e61bEnsure(spark, sf)
    val work = graft.util.PathKeys.fixturePath("stream-e61s-spec", sf, "-4")
    def wipe(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    wipe(work)
    EventStreams.e61sDrain(spark, sf, work)
    val once = rows(EventStreams.e61sResult(spark, sf, work))
    def batchDirs() = scala.util.Using.resource(
        java.nio.file.Files.list(work.resolve("pairs"))) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq.sorted
    }
    val dirsOnce = batchDirs()
    assert(dirsOnce.nonEmpty)
    // restart: nothing new to fold
    EventStreams.e61sDrain(spark, sf, work)
    assert(batchDirs() == dirsOnce)
    assert(rows(EventStreams.e61sResult(spark, sf, work)) == once)
    // TRUE double-delivery: the last bucket's rows again, under a NEW
    // id — would double-count in any sum-valued state; the distinct
    // union must not move a single bit
    val lastId = dirsOnce.last.stripPrefix("batch=").toLong
    val landing = graft.util.PathKeys.fixturePath("stream-events-bucketed", sf, "-4")
    val replayed = spark.read.parquet(
        landing.resolve(f"events-$lastId%03d.parquet").toString)
      .where(col("ts") >= lit(EventOps.e63Boundary).cast("timestamp"))
    EventStreams.e61sFoldBatch(replayed, lastId + 1000, work)
    assert(batchDirs().size == dirsOnce.size + 1, "the duplicate fold must land")
    assert(rows(EventStreams.e61sResult(spark, sf, work)) == once,
      "set union must absorb the duplicated delivery bit-identically")
  }
}
