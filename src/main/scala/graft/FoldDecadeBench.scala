package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.streaming.EventStreams

/** Fourth-decade probe for the streaming refresh folds (r11 verdict
  * ask #8): the DECLARED e63s/e61s drains exercise 4 micro-batches —
  * enough to prove the protocol, not enough to make compaction
  * load-bearing. This main replays a `nBatches`-way split of the
  * post-boundary delta through the EXACT per-batch fold + compaction
  * calls the drains make (`maybeCompactFolds` then `e63sFoldBatch` /
  * `e61sFoldBatch`), measuring per batch:
  *
  *  - the fold-dir listing a refresh would read
  *    ([[EventStreams.foldDirsToRead]]) — must stay
  *    O(RefreshCompactEvery), NOT O(batches);
  *  - the wall cost of fold+compaction — must stay flat across the
  *    run (a growing per-batch cost would mean the listing or the
  *    compaction re-merge scales with history).
  *
  * Exactness at this batch count is re-asserted beside the cost: the
  * re-merged fold content must equal a one-shot computation over the
  * whole delta (compaction and slicing may relocate, never change).
  *
  * Prints one JSON line with quartile means of per-batch seconds,
  * max/final dir listings, and the two equality booleans. */
object FoldDecadeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx10")
    val nBatches = if (args.length > 1) args(1).toInt else 64
    // quartiles() divides slice sums by nBatches/4 — fewer than 4
    // batches would divide by zero and emit NaN/Infinity JSON (r12
    // advice)
    require(nBatches >= 4, s"nBatches must be >= 4, got $nBatches")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val delta = Tables.events(spark, sfDir)
      .where(col("ts") >= lit(graft.ops.EventOps.e63Boundary).cast("timestamp"))
      .withColumn("__b", pmod(xxhash64(col("event_id")), lit(nBatches.toLong)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaRows = delta.count()
    val base = Files.createTempDirectory("graft-fold-decade")

    /** Replay one side; returns (per-batch secs, per-batch dir listings). */
    def replay(root: java.nio.file.Path, sub: String,
        schema: org.apache.spark.sql.types.StructType,
        merge: DataFrame => DataFrame,
        fold: (DataFrame, Long) => Unit): (Vector[Double], Vector[Int]) = {
      var times = Vector.empty[Double]
      var dirs = Vector.empty[Int]
      (0 until nBatches).foreach { id =>
        val b = delta.where(col("__b") === id).drop("__b")
        val t0 = System.nanoTime()
        EventStreams.maybeCompactFolds(spark, root.resolve(sub), id.toLong,
          schema, merge)
        fold(b, id.toLong)
        times :+= (System.nanoTime() - t0) / 1e9
        dirs :+= EventStreams.foldDirsToRead(root.resolve(sub)).length
      }
      (times, dirs)
    }

    val w63 = base.resolve("e63")
    val (t63, d63) = replay(w63, "partials", EventStreams.partialsSchema,
      EventStreams.e63sMerge,
      (df, id) => EventStreams.e63sFoldBatch(df, id, w63))
    val w61 = base.resolve("e61")
    val (t61, d61) = replay(w61, "pairs", EventStreams.pairsSchema,
      _.distinct(),
      (df, id) => EventStreams.e61sFoldBatch(df, id, w61))

    def rowsOf(df: DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // exactness: re-merged folds == the one-shot computation
    val ok63 = rowsOf(EventStreams.e63sMerge(spark.read.parquet(
        EventStreams.foldDirsToRead(w63.resolve("partials")): _*))) ==
      rowsOf(graft.ops.EventOps.e63Partials(delta.drop("__b")))
    val ok61 = rowsOf(spark.read.parquet(
        EventStreams.foldDirsToRead(w61.resolve("pairs")): _*).distinct()) ==
      rowsOf(delta.drop("__b")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct())

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def quartiles(ts: Vector[Double]): String = {
      val q = nBatches / 4
      (0 until 4).map(i => fmt(ts.slice(i * q, (i + 1) * q).sum / q))
        .mkString("[", ",", "]")
    }
    println(s"""{"sf":"$sfDir","batches":$nBatches,"delta_rows":$deltaRows,""" +
      s""""compact_every":${EventStreams.RefreshCompactEvery},""" +
      s""""e63_batch_quartile_means_s":${quartiles(t63)},""" +
      s""""e63_dirs_max":${d63.max},"e63_dirs_final":${d63.last},""" +
      s""""e61_batch_quartile_means_s":${quartiles(t61)},""" +
      s""""e61_dirs_max":${d61.max},"e61_dirs_final":${d61.last},""" +
      s""""e63_exact":$ok63,"e61_exact":$ok61}""")
    graft.streaming.DocStreams.deleteTree(base)
    spark.stop()
  }
}
