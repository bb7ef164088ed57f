package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimOps
import graft.streaming.DocStreams

import java.nio.file.Files

/** The streaming similarity ingest (e6s): per-row signatures must equal
  * the batch aggregation's, the drained stream must verify to exactly
  * the batch e6 rows FROM AN EMPTY INITIAL INDEX (the index grows per
  * micro-batch — r6 verdict ask #2), and the probe must survive a
  * stop/restart without losing or duplicating collisions. */
class StreamSimilaritySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("per-row band signatures equal the batch aggregation's band rows") {
    // the stream side computes shingles/minhashes with higher-order
    // array functions, the batch side with windows + aggregation — the
    // two formulations must agree row-for-row or stream/batch parity is
    // built on sand. Docs with <3 tokens surface as null band hashes on
    // the per-row side and as absent rows on the batch side.
    val batch = SimOps.minhashRelations(spark, sf,
      mh = (h, sh) => md5(concat(lit(s"$h:"), sh)),
      bandHash = (a, b) => md5(concat(a, b))).bands
    val perRow = SimOps.perRowBands(Tables.documents(spark, sf))
      .where(col("bh").isNotNull)
    assert(perRow.exceptAll(batch).count() == 0,
      "per-row bands produced rows the batch aggregation did not")
    assert(batch.exceptAll(perRow).count() == 0,
      "batch aggregation produced rows the per-row form did not")
  }

  test("e6s drained output equals batch e6 exactly (full row parity)") {
    val stream = DocStreams.e6sMinhashStream(spark, sf)
    val batch = SimOps.e6MinhashLsh(spark, sf)
    assert(stream.exceptAll(batch).count() == 0,
      "stream ingest surfaced pairs batch e6 does not have")
    assert(batch.exceptAll(stream).count() == 0,
      "stream ingest missed pairs batch e6 has")
    assert(batch.count() > 0, "parity is vacuous on an empty pair set")
  }

  test("incremental index: restart-safe, exactly-once, and cross-micro-batch pairing") {
    val base = Files.createTempDirectory("graft-e6s-recov")
    val landing = base.resolve("landing")
    val work = base.resolve("work")
    Files.createDirectories(landing)

    // the staged bucket files (created once by the declared pipeline's
    // staging) arrive in two phases with a STOP between them
    DocStreams.docsStreamBucketed(spark, sf, 4) // ensure staging exists
    val staged = graft.util.PathKeys.fixturePath("stream-docs-bucketed", sf, "-4")
    val parts = Files.list(staged)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sorted().toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(parts.length == 4)

    def runOnce(): Unit = DocStreams.e6sIncrementalDrain(spark,
      spark.readStream.schema(DocStreams.docsSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing.toString),
      work)

    // phase A: half the corpus arrives (buckets 0-1), probe runs, STOPS
    parts.take(2).foreach(p => Files.copy(p, landing.resolve(p.getFileName)))
    runOnce()
    // phase B: the rest arrives; restart from the SAME checkpoint —
    // already-probed files must not re-emit their collisions
    parts.drop(2).foreach(p => Files.copy(p, landing.resolve(p.getFileName)))
    runOnce()

    val drained = DocStreams.drainedMatches(spark, work)
    // EXACTLY-ONCE at the collision level, stronger than the static-
    // index form's once-per-direction: a (pair, band) collision is
    // emitted by exactly one batch — the later doc's (cross-batch) or
    // the shared one (within-batch, d_new < d_idx) — so ANY repeat is a
    // replay bug
    val dupEmits = drained
      .groupBy("d1", "d2", "band").agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
    assert(dupEmits.count() == 0,
      "a band collision was emitted more than once — replay or double-probe")
    val streamPairs = drained.distinct()
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_bands"))
    val batchPairs = SimOps.e6MinhashLsh(spark, sf)
      .select("d1", "d2", "n_bands")
    assert(streamPairs.exceptAll(batchPairs).count() == 0)
    assert(batchPairs.exceptAll(streamPairs).count() == 0)

    // THE r6 ASK: docs absent from the initial index (it starts EMPTY)
    // arriving in DIFFERENT micro-batches must pair. Recompute each
    // doc's bucket (the staging's contiguous-range formula) and require
    // a surfaced pair spanning two distinct PHASE-B buckets — a pair a
    // frozen pre-built index would still find via replay parity, but an
    // empty-start incremental index only finds by growing mid-stream.
    val b = Tables.documents(spark, sf)
      .agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
    def bucket(c: org.apache.spark.sql.Column) = (c - lo) * 4 / span
    val crossLate = streamPairs
      .where(bucket(col("d1")) =!= bucket(col("d2")) &&
        bucket(col("d1")) >= 2 && bucket(col("d2")) >= 2)
    assert(crossLate.count() > 0,
      "no pair spanning two distinct phase-B micro-batches — the index is not growing")
  }

  test("index compaction: O(CompactEvery) probe listings, parity and exactly-once intact across restart") {
    val base = Files.createTempDirectory("graft-e6s-compact")
    val landing = base.resolve("landing")
    val work = base.resolve("work")
    Files.createDirectories(landing)

    // 7 buckets → with CompactEvery=3 the drain compacts twice (at
    // batches 3 and 6), including once on each side of the restart
    DocStreams.docsStreamBucketed(spark, sf, 7)
    val staged = graft.util.PathKeys.fixturePath("stream-docs-bucketed", sf, "-7")
    val parts = Files.list(staged)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sorted().toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(parts.length == 7)

    def runOnce(): Unit = DocStreams.e6sIncrementalDrain(spark,
      spark.readStream.schema(DocStreams.docsSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing.toString),
      work)
    parts.take(4).foreach(p => Files.copy(p, landing.resolve(p.getFileName)))
    runOnce() // batches 0-3; compaction fires at batch 3
    parts.drop(4).foreach(p => Files.copy(p, landing.resolve(p.getFileName)))
    runOnce() // batches 4-6 resume over the compacted index

    // layout: compaction actually happened, and the un-compacted tail
    // stays bounded by CompactEvery (listings per probe are O(K), not
    // O(batches) — the property that keeps a long-lived ingest viable)
    import scala.jdk.CollectionConverters._
    val dirs = scala.util.Using.resource(Files.list(work.resolve("index"))) {
      st => st.iterator().asScala.map(_.getFileName.toString).toList }
    assert(dirs.exists(_.startsWith("compact=")),
      s"no compact dir materialized: $dirs")
    assert(dirs.count(_.startsWith("batch=")) <= graft.streaming.FoldTree.CompactEvery,
      s"uncompacted batch dirs exceed CompactEvery: $dirs")

    // semantics unchanged: exactly-once at the collision level, full
    // pair parity with batch e6
    val drained = DocStreams.drainedMatches(spark, work)
    assert(drained.groupBy("d1", "d2", "band")
      .agg(count(lit(1)).as("n")).where(col("n") > 1).count() == 0,
      "a band collision was emitted more than once after compaction")
    val streamPairs = drained.distinct()
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_bands"))
    val batchPairs = SimOps.e6MinhashLsh(spark, sf)
      .select("d1", "d2", "n_bands")
    assert(streamPairs.exceptAll(batchPairs).count() == 0)
    assert(batchPairs.exceptAll(streamPairs).count() == 0)
    DocStreams.deleteTree(base)
  }
}
