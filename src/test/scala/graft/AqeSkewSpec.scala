package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE's runtime skew-join splitting — the automatic complement to
  * plans.ScaleJoins.saltedJoin: a sort-merge join whose probe side is
  * dominated by one hot key gets its oversized partition split into
  * parallel sub-reads at runtime (visible as `skew=true` in the final
  * plan), with no query rewrite. */
class AqeSkewSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("hot-key sort-merge join is split by AQE (skew=true in final plan)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      // thresholds scaled down so test-sized data triggers the same
      // mechanism that fires on multi-GB partitions in production
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      // a real skewed FIXTURE on disk (not an in-memory range): 10% of
      // rows pile onto key 0, the layout a production fact table with a
      // hot entity actually has. Rewritten EVERY run (~1 s) — an
      // existence gate would silently pin the test to a stale
      // distribution after the generator expression changes.
      val fixDir = graft.util.PathKeys.fixtureRoot +
        "/skewed_fact"
      spark.range(200000)
        .select((col("id") % 1000).cast("int").as("noise"),
          when(col("id") % 10 === 0, 0).otherwise(pmod(col("id"), lit(97)).cast("int") + 1)
            .as("k"))
        .write.mode("overwrite").parquet(fixDir)
      val hot = spark.read.parquet(fixDir)
      val dim = spark.range(98).select(col("id").cast("int").as("k"),
        concat(lit("name"), col("id")).as("name"))
      val joined = hot.join(dim.hint("merge"), "k")
      // collect() drives THIS DataFrame's QueryExecution (count() would
      // plan a separate one and leave this plan unfinalized)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.contains("skew=true"),
        s"AQE should have split the hot partition:\n${plan.toString.take(2000)}")
      // the hot partition must actually have been SPLIT: the AQE shuffle
      // read on the probe side exposes >1 partial-reducer spec for the
      // skewed reducer
      import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
      import org.apache.spark.sql.execution.PartialReducerPartitionSpec
      val splitCounts = PlanWalk.allNodes(plan).collect {
        case r: AQEShuffleReadExec =>
          r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
      }
      assert(splitCounts.exists(_ >= 2),
        s"expected a skewed partition split into >=2 partial reads, got $splitCounts")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
