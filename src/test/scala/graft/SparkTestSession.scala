package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole suite. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // the engine configuration every main runs under, plus two
    // test-only confs: the app name and the forced-spill threshold
    val s = GraftSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      // force Spark's external sorters onto their real spill path once a
      // task holds >16k rows (core conf, fixed at context creation) — lets
      // TopKOperatorSpec prove the sort-based final survives actual
      // spilling; suite tasks are small enough that other specs rarely
      // cross it, and a forced spill is correctness-neutral by contract
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "16384")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
