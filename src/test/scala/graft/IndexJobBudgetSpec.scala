package graft

import graft.streaming.{LexStreams, VecStreams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the four drained index-mutation keys: one declared run
  * (fresh drain of the six-batch CDC landing, then the probe, collected)
  * counted with a listener. A first run stages the fold base and the
  * landing, so the counted run pays only the drain and the probe. The
  * deletes (e35d, e2d) and the updates (e35u, e2u) run through the same
  * upsert verb per index. Budgets only ratchet down. */
class IndexJobBudgetSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private val keys: Seq[(String, (SparkSession, String) => DataFrame, Int)] = Seq(
    ("e35d_lex_tombstone", LexStreams.e35dLexTombstone, 44),
    ("e35u_lex_upsert", LexStreams.e35uLexUpsert, 48),
    ("e2d_vec_tombstone", VecStreams.e2dVecTombstone, 32),
    ("e2u_vec_upsert", VecStreams.e2uVecUpsert, 32))

  for ((key, run, budget) <- keys) test(s"$key: $budget jobs per declared run") {
    run(spark, sf).collect()
    val (rows, jobs) = SyntheticOrd.jobsOf(spark)(run(spark, sf).collect())
    assert(rows.get.nonEmpty)
    assert(jobs == budget, s"$key ran $jobs jobs")
  }
}
