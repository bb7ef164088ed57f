package graft

import graft.SyntheticOrd._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Job budgets of the `OrdApi` requests on the synthetic fixture, which
  * spreads its rows over three parquet files. Each read mode (build plus
  * collect) is one job with no exchange that reads three reaction
  * leaves; saveFormatted is two (the row-cap guard, then the collect).
  * These requests are bound by job count, not bytes. Budgets only
  * ratchet down. */
class OrdApiJobBudgetSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  locally(api) // writes the fixture before any job is counted

  private val reads: Seq[(String, () => DataFrame)] = Seq(
    "all_reactions" -> (() => api.allReactions(spark)),
    "all_reactions scoped" -> (() => api.allReactions(spark, Some(single))),
    "specific_datasets" -> (() =>
      api.specificDatasets(spark, Seq("ds-b", "ds-shared"))),
    "uniform_range" -> (() => api.uniformRange(spark, 0, 3, 2, 9)),
    "uniform_range scoped" -> (() =>
      api.uniformRange(spark, 1, 2, 1, 2, Some(three))),
    "custom_ranges" -> (() =>
      api.customRanges(spark, Map("ds-c" -> (1, 2), "ds-z" -> (2, 9)))),
    "single_target" -> (() => api.singleTarget(spark, "ds-z", 3)))

  for ((name, read) <- reads) test(s"$name: 1 job, no exchange") {
    val (df, jobs) = jobsOf(spark) {
      val df = read()
      df.collect()
      df
    }
    assert(jobs == 1, s"$name ran $jobs jobs")
    val nodes = PlanWalk.allNodes(df.get.queryExecution.executedPlan)
    val exchanges = nodes.collect { case e: Exchange => e.nodeName }
    assert(exchanges.isEmpty, s"$name plans ${exchanges.mkString(", ")}")
    // nested pruning: of the reaction tree, only the three leaves returned
    val scans = nodes.collect { case f: FileSourceScanExec => f.requiredSchema }
    assert(scans.size == 1)
    val reactions = scans.head("reactions").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(reactions.fieldNames.toSet == Set("rx_pos", "reaction_id", "success"))
  }

  test("saveFormatted: 2 jobs") {
    for ((corpus, ids) <- Seq((Some(three), Nil), (None, Seq("ds-z", "ds-c")))) {
      val p = Files.createTempFile("graft-budget-save", ".json")
      try {
        val (out, jobs) = jobsOf(spark)(
          api.saveFormatted(spark, p.toString, corpus, ids))
        out.get
        assert(jobs == 2, s"saveFormatted($corpus, $ids) ran $jobs jobs")
      } finally Files.delete(p)
    }
  }
}
