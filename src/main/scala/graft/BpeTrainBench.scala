package graft

import org.apache.spark.sql.SparkSession

/** Measurement harness for the e48b trainer's PER-MERGE cost contract
  * (r9 verdict ask #1: "per-iteration cost stays at/below linear in the
  * corpus" — and flat in the iteration index). Runs the parameterized
  * loop at several merge counts on one fixture and prints the
  * incremental seconds-per-merge between consecutive counts: a trainer
  * whose later merges cost more than its earlier ones (the lazy-lineage
  * quadratic this loop exists to avoid) shows a RISING increment; the
  * rotated-persist loop shows a flat one. SCALE.md records the output.
  *
  * Usage: runMain graft.BpeTrainBench <sfDir> [mergeCounts=2,4,8] [trainer=e48b|e48c]
  *
  * The r10 delta trainer (e48c) runs under the identical protocol so
  * its per-merge increment is directly comparable to the recount
  * loop's. */
object BpeTrainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val counts = args.lift(1).getOrElse("2,4,8").split(",").map(_.trim.toInt)
    val trainerName = args.lift(2).getOrElse("e48b")
    val trainer: (SparkSession, String, Int) => org.apache.spark.sql.DataFrame =
      trainerName match {
        case "e48b" => graft.ops.CurationOps.e48bBpeTrainN
        case "e48c" => graft.ops.CurationOps.e48cBpeDeltaN
        case other => sys.error(s"unknown trainer '$other' (e48b|e48c)")
      }
    val spark = GraftSession.local(GraftSession.cores())
    // one warm pass (reader/codegen caches), then one timed pass per count
    trainer(spark, sfDir, 2).collect()
    val timed: Seq[(Int, Double)] = counts.toSeq.map { m =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = trainer(spark, sfDir, m).collect()
      require(rows.length == m)
      m -> (System.nanoTime() - t0) / 1e9
    }
    val incr = timed.sliding(2).collect {
      case Seq((m1, t1), (m2, t2)) => s""""m${m1}_to_m$m2":${
        String.format(java.util.Locale.ROOT, "%.3f", Double.box((t2 - t1) / (m2 - m1)))}"""
    }.mkString(",")
    val totals = timed.map { case (m, t) => s""""m$m":${
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))}""" }.mkString(",")
    println(s"""{"metric":"${trainerName}_per_merge","sf":"$sfDir","totals":{$totals},"sec_per_merge":{$incr}}""")
    spark.stop()
  }
}
