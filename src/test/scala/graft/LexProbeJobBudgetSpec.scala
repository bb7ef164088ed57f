package graft

import graft.sources.LexIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the lexical serve probes: one declared probe over the
  * staged `LexIndex` layout (staged by a first run), collected, counted
  * with a listener. Each probe reads the layout with declared schemas
  * (no footer-inference job), looks its query terms up in-plan (no
  * broadcast of a local relation) and finishes its ordered top-5 tail
  * in one partition (no range exchange, no sampling job). Budgets only
  * ratchet down. */
class LexProbeJobBudgetSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private val probes: Seq[(String, (SparkSession, String) => DataFrame, Int)] = Seq(
    ("e35s_bm25_serve", LexIndex.e35sBm25Serve, 5),
    ("e35a_filtered_bm25", LexIndex.e35aFilteredBm25, 5),
    ("e35q_adhoc_terms", LexIndex.e35qAdhocTerms, 4),
    ("e35p_phrase_query", LexIndex.e35pPhraseQuery, 5),
    ("e35w_prefix_query", LexIndex.e35wPrefixQuery, 5))

  for ((key, run, budget) <- probes) {
    test(s"$key: $budget jobs per probe") {
      run(spark, sf).collect()
      val (rows, jobs) = SyntheticOrd.jobsOf(spark)(run(spark, sf).collect())
      assert(rows.get.nonEmpty)
      assert(jobs == budget, s"$key ran $jobs jobs")
    }

    test(s"$key: no range exchange, no broadcast of a local relation") {
      val df = run(spark, sf)
      df.collect()
      val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
      val range = nodes.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      val localBroadcast = nodes.collect {
        case b: BroadcastExchangeExec
          if PlanWalk.allNodes(b.child).exists(_.isInstanceOf[LocalTableScanExec]) => b
      }
      assert(range.isEmpty && localBroadcast.isEmpty, df.queryExecution.executedPlan.toString)
    }
  }
}
