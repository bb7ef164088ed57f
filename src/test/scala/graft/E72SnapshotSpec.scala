package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.EventOps
import graft.streaming.{EventStreams, SnapshotFolds}

/** e72 — snapshot manifests over the incremental fold layout (the
  * Delta/Iceberg read-at-version discipline on the batch=/compact=
  * protocol). Claims:
  *  (1) TIME TRAVEL: for every retained snapshot k, readAtSnapshot(k)
  *      re-merged equals a one-shot fold of the batch prefix ≤ k
  *      (recomputed from the staged bucket files directly);
  *  (2) PINNED UNDER COMPACTION: batch 3's step compacts batches 0..2
  *      out of the CURRENT read set (readSet lists compact=2 +
  *      batch=3 only), yet the covered dirs survive on disk because
  *      retained manifests reference them — so snapshot 2 still reads;
  *  (3) RETENTION EXPIRY: manifest 0 (older than the Retain=3 window)
  *      is gone and readAtSnapshot(0) fails loudly naming the range;
  *  (4) REPLAY: re-folding a committed batch id leaves every retained
  *      snapshot read bit-identical (idempotence extends to the past);
  *  (5) no _tmp- manifest litter (atomic rename either lands or not).
  */
class E72SnapshotSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  private val work = graft.util.PathKeys.fixturePath("stream-e72-spec", sf, "-4")
  private val partials = EventStreams.partialsTree(work)
  private val landing = graft.util.PathKeys.fixturePath("stream-events-bucketed", sf, "-4")

  private def wipe(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
  }

  /** One-shot fold of bucket files 0..k through the boundary filter —
    * the ground truth a snapshot-k read must equal. */
  private def prefixFold(k: Long) = {
    val files = (0L to k).map(i =>
      landing.resolve(f"events-$i%03d.parquet").toString)
    EventStreams.e63sMerge(EventOps.e63Partials(
      spark.read.parquet(files: _*)
        .where(col("ts") >= lit(EventOps.e63Boundary).cast("timestamp"))))
  }

  private lazy val drained: Unit = {
    EventOps.e63Ensure(spark, sf)
    wipe(work)
    SnapshotFolds.e72Drain(spark, sf, work)
  }

  test("time travel: every retained snapshot equals its prefix fold") {
    drained
    val snaps = partials.snaps
    assert(snaps == Seq(1L, 2L, 3L),
      s"4 batches at Retain=3 must retain exactly 1..3, got $snaps")
    snaps.foreach { k =>
      val got = rows(SnapshotFolds.readAtSnapshot(spark, partials, k)
        .orderBy("event_type", "d"))
      val want = rows(prefixFold(k).orderBy("event_type", "d"))
      assert(got == want, s"snapshot $k diverged from its prefix fold")
    }
  }

  test("pinned dirs survive the compaction that removed them from the current read set") {
    drained
    import scala.jdk.CollectionConverters._
    val onDisk = scala.util.Using.resource(
        java.nio.file.Files.list(partials.root)) { st =>
      st.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    }
    val current = partials.readSet()
      .map(p => java.nio.file.Paths.get(p).getFileName.toString).sorted
    assert(current == Seq("batch=3", "compact=2"),
      s"batch-3's compaction must own the current read set, got $current")
    Seq("batch=0", "batch=1", "batch=2").foreach(d =>
      assert(onDisk.contains(d),
        s"$d is referenced by a retained manifest and must be spared"))
  }

  test("expired snapshots fail loudly; no tmp-manifest litter") {
    drained
    val ex = intercept[IllegalArgumentException](
      SnapshotFolds.readAtSnapshot(spark, partials, 0L))
    assert(ex.getMessage.contains("retained"))
    import scala.jdk.CollectionConverters._
    val litter = scala.util.Using.resource(
        java.nio.file.Files.list(partials.root.resolve("_manifests"))) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_tmp")).toSeq
    }
    assert(litter.isEmpty, s"manifest writes must be atomic: $litter")
  }

  test("a replayed batch id leaves every retained snapshot bit-identical") {
    drained
    val before = partials.snaps
      .map(k => k -> rows(SnapshotFolds.readAtSnapshot(spark, partials, k)
        .orderBy("event_type", "d")))
    val raw = spark.read
      .parquet(landing.resolve("events-002.parquet").toString)
      .where(col("ts") >= lit(EventOps.e63Boundary).cast("timestamp"))
    EventStreams.e63sFoldBatch(raw, 2L, work)
    before.foreach { case (k, want) =>
      assert(rows(SnapshotFolds.readAtSnapshot(spark, partials, k)
        .orderBy("event_type", "d")) == want,
        s"replay of batch 2 moved snapshot $k")
    }
  }
}
