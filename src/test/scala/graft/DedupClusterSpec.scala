package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ClusterOps

/** e16's connected-components loop: correctness on a known graph shape
  * (a deep chain — the worst case for label propagation), the
  * path-halving round bound (~log diameter, not diameter), and the
  * one-driver-action-per-round job budget (the convergence count rides
  * the checkpoint action as an observe metric; r3's loop paid a
  * separate count job every round). */
class DedupClusterSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  /** Fixture: 10 chain docs (12 tokens each, stride 4 → adjacent docs
    * share 8 tokens = 7 bigrams ≥ the e8 threshold; docs two apart share
    * 4 tokens = 3 bigrams < threshold, so the ONLY near-dup links are
    * chain-adjacent: one component of diameter 9), plus a 5-doc
    * exact-duplicate clique, plus 3 singletons that must not appear. */
  private lazy val fixtureDir: String = {
    val dir = s"${graft.util.PathKeys.fixtureRoot}/test-e16chain"
    val chain = (0 until 10).map { i =>
      val toks = (4 * i until 4 * i + 12).map(t => f"tok$t%03d")
      (100L + i, toks.mkString(" "), "en", "chain", toks.mkString(" ").length.toLong)
    }
    val clique = (0 until 5).map { i =>
      (200L + i, "same exact duplicated text body here", "en", "clique", 36L)
    }
    val single = (0 until 3).map { i =>
      val toks = (0 until 12).map(t => f"lone$i%02dx$t%03d")
      (300L + i, toks.mkString(" "), "en", "solo", toks.mkString(" ").length.toLong)
    }
    import spark.implicits._
    (chain ++ clique ++ single)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("e16 labels a diameter-9 chain and an exact clique with component minima") {
    val out = ClusterOps.e16DedupClusters(spark, fixtureDir).collect()
    val byDoc = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byDoc.keySet == ((100L until 110L) ++ (200L until 205L)).toSet,
      "exactly the chain and clique docs are clustered; singletons excluded")
    (100L until 110L).foreach { d => assert(byDoc(d) == (100L, 10L)) }
    (200L until 205L).foreach { d => assert(byDoc(d) == (200L, 5L)) }
  }

  test("path halving converges in ~log(diameter) rounds with one action per round") {
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (df, rounds, snapshots) = ClusterOps.e16WithStats(spark, fixtureDir)
      df.write.format("noop").mode("overwrite").save()
      // listener events are queued; the job-start events of interest were
      // all posted synchronously before the eager loop returned — a short
      // drain is enough for the bus to deliver them
      Thread.sleep(500)
      // pure propagation needs 10 rounds on a diameter-9 chain (9 hops
      // + 1 convergence confirmation); halving closes distance ~2^r
      assert(rounds <= 6, s"expected ≤6 halving rounds, got $rounds")
      // budget: this tiny graph runs at loop width 1, where the r16
      // scale-adaptive cadence checkpoints EVERY round (a KB-sized
      // durable write is ~free and keeps each round's plan leaf-rooted —
      // the chained persists were measured re-inlining the prior round's
      // plan ~3× per cache round). One round = one checkpoint action
      // (≤2 jobs: materialize + checkpoint write); the AQE-planned edge
      // build outside the loop contributes ~28 more (one job per query
      // stage). Reintroducing a separate per-round convergence job (the
      // r3 loop shape, +1 job/round) trips the bound.
      val budget = 2 * rounds + 36
      assert(jobs <= budget, s"expected ≤$budget jobs for $rounds rounds, got $jobs")
      // width-1 cadence: init + one snapshot per round, no terminal
      // (convergence lands on a checkpoint round by construction)
      assert(snapshots <= rounds + 1,
        s"expected ≤${rounds + 1} durable label writes for $rounds rounds, got $snapshots")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("wide-graph checkpoint cadence stays every-3rd-round (the r6 slope fix)") {
    // the tiny fixture runs at width 1 where the r16 cadence is 1; the
    // WIDE regime (loopParts > 1) must keep the r5→r6 fix — durable
    // label snapshots every 3rd round, NOT every round, because the
    // per-round checkpoint I/O grows with the graph (e16 sf10a 39.8 s).
    // Pin it through the cadence parameter the derivation honors.
    val (df, rounds, snapshots) =
      ClusterOps.e16WithStats(spark, fixtureDir, ckptEvery = Some(3))
    df.write.format("noop").mode("overwrite").save()
    // snapshots: init + every 3rd round + possibly a terminal one —
    // rounds+1 writes means the cadence parameter was ignored
    val maxSnaps = rounds / 3 + 3
    assert(snapshots <= maxSnaps && snapshots < rounds + 1,
      s"expected ≤$maxSnaps durable label writes for $rounds rounds, got $snapshots")
  }

  test("a cadence or iteration cap below 1 is rejected before any job runs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2") // local: no job to build
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      intercept[IllegalArgumentException] {
        ClusterOps.componentsWithStats(spark, pairs, Nil, ckptEvery = Some(0))
      }
      intercept[IllegalArgumentException] {
        ClusterOps.componentsWithStats(spark, pairs, Nil, maxIters = 0)
      }
      Thread.sleep(500) // let the listener bus deliver any queued job start
      assert(jobs == 0, s"invalid loop parameters must fail before any job, $jobs ran")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a failed (non-converged) run leaks no checkpoint snapshots") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val ckptRoot = Paths.get(ClusterOps.ensureCheckpointDir(spark))
    def snapshots(): Set[String] =
      if (!Files.exists(ckptRoot)) Set.empty
      else Files.walk(ckptRoot).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .map(_.toString).toSet
    val before = snapshots()
    intercept[IllegalStateException] {
      ClusterOps.e16WithStats(spark, fixtureDir, maxIters = 1)._1.count()
    }
    val leaked = snapshots() -- before
    assert(leaked.isEmpty,
      s"non-converged run left checkpoint snapshots behind: $leaked")
  }

  test("the loop restores session confs it tunes") {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    ClusterOps.e16DedupClusters(spark, fixtureDir).count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe0)
  }
}
