package graft

import graft.ops.RetrievalOps
import graft.streaming.{DocStreams, EventStreams, LexStreams, SnapshotFolds, VecStreams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the drained fold-tree keys: one declared run (a fresh
  * drain, then the result read, collected) counted with a listener. A
  * first run stages the fold base, the state and the landing, so the
  * counted run pays only the drain and the read. The index-mutation keys
  * drain the six-batch CDC landing; their deletes (e35d, e2d) and updates
  * (e35u, e2u) run through the same upsert verb per index. The other
  * keys drain a four-batch landing through the same fold-tree protocol:
  * the e6s ingest index, the e10s gate, the e63s/e61s/e72 refresh folds,
  * the e35t/e2tm tier merges, the e35f/e2f append drains with their live
  * probes, e35z/e2z probed at a pinned snapshot, and e71v, which drains
  * both indexes and fuses their two pinned legs. Budgets only ratchet
  * down. */
class IndexJobBudgetSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private val keys: Seq[(String, (SparkSession, String) => DataFrame, Int)] = Seq(
    ("e35d_lex_tombstone", LexStreams.e35dLexTombstone, 26),
    ("e35u_lex_upsert", LexStreams.e35uLexUpsert, 26),
    ("e2d_vec_tombstone", VecStreams.e2dVecTombstone, 31),
    ("e2u_vec_upsert", VecStreams.e2uVecUpsert, 31),
    ("e6s_minhash_stream", DocStreams.e6sMinhashStream, 39),
    ("e10s_quality_stream", DocStreams.e10sQualityStream, 12),
    ("e63s_incr_stream", EventStreams.e63sStreamIncrAgg, 12),
    ("e61s_retention_stream", EventStreams.e61sStreamRetention, 18),
    ("e72_snapshot_read", SnapshotFolds.e72SnapshotRead, 12),
    ("e35t_tier_merge", LexStreams.e35tTierMerge, 16),
    ("e2tm_vec_tier_merge", VecStreams.e2tmVecTierMerge, 19),
    ("e35f_postings_fold", LexStreams.e35fPostingsFold, 14),
    ("e35z_lex_snapshot", LexStreams.e35zLexSnapshot, 14),
    ("e2f_ivf_fold", VecStreams.e2fIvfFoldStream, 18),
    ("e2z_fold_snapshot", VecStreams.e2zFoldSnapshot, 18),
    ("e71v_hybrid_snapshot", RetrievalOps.e71vHybridAtSnapshot, 36))

  for ((key, run, budget) <- keys) test(s"$key: $budget jobs per declared run") {
    run(spark, sf).collect()
    val (rows, jobs) = SyntheticOrd.jobsOf(spark)(run(spark, sf).collect())
    assert(rows.get.nonEmpty)
    assert(jobs == budget, s"$key ran $jobs jobs")
  }
}
