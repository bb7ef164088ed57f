package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{TopKPerKey, TopKPerKeyExec}

import scala.util.Random

/** The custom TopKPerKey Catalyst operator: exactness vs the window
  * idiom on random data, the partial→exchange→final physical shape, and
  * the map-side row reduction that is its whole reason to exist. */
class TopKOperatorSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new Random(7)

  test("exact vs window row_number on random data (with ties and tiny groups)") {
    for (_ <- 1 to 3) {
      // values drawn from a small range so ties are common — the
      // tie-break column keeps the ordering total
      val rows = Seq.fill(5000)((rnd.nextInt(40).toLong, rnd.nextInt(20), rnd.nextInt(100000)))
      val df = rows.toDF("key", "score", "tiebreak").repartition(7)
      val viaOp = TopKPerKey.topKPerKey(df, 3,
        keys = Seq("key"), orderBy = Seq(("score", false), ("tiebreak", true)))
      val w = Window.partitionBy("key").orderBy(col("score").desc, col("tiebreak"))
      val viaWindow = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3).drop("rn")
      assert(viaOp.exceptAll(viaWindow).count() == 0)
      assert(viaWindow.exceptAll(viaOp).count() == 0)
      assert(viaOp.count() > 0)
    }
  }

  test("composite keys: top-1 per (key1, key2) matches the window form") {
    val rows = Seq.fill(3000)(
      (rnd.nextInt(6), rnd.nextInt(4).toString, rnd.nextInt(1000), rnd.nextInt(1000)))
    val df = rows.toDF("k1", "k2", "score", "tb").repartition(5)
    val viaOp = TopKPerKey.topKPerKey(df, 1,
      keys = Seq("k1", "k2"), orderBy = Seq(("score", true), ("tb", true)))
    val w = Window.partitionBy("k1", "k2").orderBy(col("score"), col("tb"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
    assert(viaOp.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaOp).count() == 0)
  }

  test("k larger than every group degenerates to the identity") {
    val df = Seq((1L, 10), (1L, 20), (2L, 30)).toDF("key", "score")
    val out = TopKPerKey.topKPerKey(df, 100,
      keys = Seq("key"), orderBy = Seq(("score", true)))
    assert(out.exceptAll(df).count() == 0 && df.exceptAll(out).count() == 0)
  }

  test("physical plan: partial heap -> exchange -> spill-safe sort -> streaming final") {
    val df = Seq.fill(100)((rnd.nextInt(5).toLong, rnd.nextInt())).toDF("key", "score")
      .repartition(4)
    val out = TopKPerKey.topKPerKey(df, 2,
      keys = Seq("key"), orderBy = Seq(("score", false)))
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
    // final consumes a (key, order)-sorted run: EnsureRequirements must
    // plant a SortExec (Spark's external, SPILLING sorter) between the
    // exchange and the final exec; the partial sits below the exchange
    val lines = p.linesIterator.toSeq
    val iFinal = lines.indexWhere(_.contains("TopKPerKeyFinal"))
    val iSort = lines.indexWhere(_.contains("Sort "), iFinal)
    val iEx = lines.indexWhere(_.contains("Exchange"), iSort)
    val iPartial = lines.indexWhere(_.contains("TopKPerKeyPartial"), iEx)
    assert(iFinal >= 0 && iSort > iFinal && iEx > iSort && iPartial > iEx,
      s"expected Final above Sort above Exchange above Partial:\n$p")
  }

  test("map side ships at most partitions*keys*k rows to the shuffle") {
    // 10k rows, 4 keys, 8 partitions, k=2 → partial output <= 8*4*2 = 64
    val df = Seq.fill(10000)((rnd.nextInt(4).toLong, rnd.nextInt())).toDF("key", "score")
      .repartition(8)
    val out = TopKPerKey.topKPerKey(df, 2,
      keys = Seq("key"), orderBy = Seq(("score", false)))
    out.collect()
    val partialRows = PlanWalk.allNodes(out.queryExecution.executedPlan).collectFirst {
      case t: TopKPerKeyExec if t.partial => t.metrics("numOutputRows").value
    }
    assert(partialRows.exists(n => n > 0 && n <= 64),
      s"partial output should be bounded by partitions*keys*k, got $partialRows")
  }

  test("under AQE: operator plans inside AdaptiveSparkPlanExec and stays exact") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val rows = Seq.fill(4000)((rnd.nextInt(25).toLong, rnd.nextInt(50), rnd.nextInt(100000)))
      val df = rows.toDF("key", "score", "tiebreak").repartition(6)
      val viaOp = TopKPerKey.topKPerKey(df, 3,
        keys = Seq("key"), orderBy = Seq(("score", false), ("tiebreak", true)))
      viaOp.collect()
      // the adaptively-executed plan must contain both exec phases —
      // PlanWalk unwraps AdaptiveSparkPlanExec/QueryStageExec
      val execs = PlanWalk.allNodes(viaOp.queryExecution.executedPlan)
        .collect { case t: TopKPerKeyExec => t.partial }
      assert(viaOp.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"),
        "expected the query to run under AQE")
      assert(execs.contains(true) && execs.contains(false),
        s"expected partial+final under AQE, got $execs")
      val w = Window.partitionBy("key").orderBy(col("score").desc, col("tiebreak"))
      val viaWindow = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3).drop("rn")
      assert(viaOp.exceptAll(viaWindow).count() == 0)
      assert(viaWindow.exceptAll(viaOp).count() == 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("a per-key window over the output reuses the top-k exchange (AQE)") {
    // the final exec keeps its child's hash partitioning on the key and
    // its (key, order) sort, so a rank window on the same key and order
    // needs no second exchange and no second sort
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val rows = Seq.fill(4000)((rnd.nextInt(25).toLong, rnd.nextInt(50), rnd.nextInt(100000)))
      val df = rows.toDF("key", "score", "tiebreak").repartition(6)
      val w = Window.partitionBy("key").orderBy(col("score").desc, col("tiebreak"))
      val ranked = TopKPerKey.topKPerKey(df, 3,
          keys = Seq("key"), orderBy = Seq(("score", false), ("tiebreak", true)))
        .withColumn("rn", row_number().over(w))
      val got = ranked.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      val nodes = PlanWalk.allNodes(ranked.queryExecution.executedPlan)
      val iFinal = nodes.indexWhere {
        case t: TopKPerKeyExec => !t.partial
        case _ => false
      }
      assert(iFinal > 0, s"no TopKPerKeyFinal in ${ranked.queryExecution.executedPlan}")
      val above = nodes.take(iFinal)
        .filter(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      assert(above.isEmpty,
        s"exchange above TopKPerKeyFinal: ${ranked.queryExecution.executedPlan}")
      val reference = df.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      assert(got.sorted.toSeq == reference.sorted.toSeq)
      assert(got.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("pathological key cardinality: every row its own key degenerates to identity") {
    val df = (1 to 20000).map(i => (i.toLong, i * 31 % 977)).toDF("key", "score")
      .repartition(8)
    val out = TopKPerKey.topKPerKey(df, 1,
      keys = Seq("key"), orderBy = Seq(("score", true)))
    assert(out.exceptAll(df).count() == 0 && df.exceptAll(out).count() == 0)
  }

  test("high cardinality under a tiny flush valve: both sides stay memory-bounded") {
    // every row its own key AND the partial valve forced to flush every
    // 128 held rows: the reduce side receives (nearly) the whole input,
    // which the r4 heap-map final would have held in memory at once —
    // the sort-based final walks it with O(1) state behind the spilling
    // SortExec and must still be exact
    val rows = (1 to 30000).map(i => (i.toLong, i * 17 % 10007, i))
    val df = rows.toDF("key", "score", "tb").repartition(8)
    val out = TopKPerKey.topKPerKey(df, 2,
      keys = Seq("key"), orderBy = Seq(("score", false), ("tb", true)),
      flushHeldRows = 128)
    // collect() executes out.queryExecution itself — the metric below
    // belongs to THIS execution (count() would plan a separate one)
    assert(out.collect().length == 30000)
    assert(out.exceptAll(df).count() == 0 && df.exceptAll(out).count() == 0)
    val finalRows = PlanWalk.allNodes(out.queryExecution.executedPlan).collectFirst {
      case t: TopKPerKeyExec if !t.partial => t.metrics("numOutputRows").value
    }
    assert(finalRows.contains(30000L), s"final output metric: $finalRows")
  }

  test("partial flush valve bounds map-side state and never changes the result") {
    val rows = Seq.fill(8000)((rnd.nextInt(2000).toLong, rnd.nextInt(1000), rnd.nextInt(100000)))
    val df = rows.toDF("key", "score", "tiebreak").repartition(4)
    // threshold far below keys*k forces many flushes per task
    val viaOp = TopKPerKey.topKPerKey(df, 2,
      keys = Seq("key"), orderBy = Seq(("score", false), ("tiebreak", true)),
      flushHeldRows = 64)
    viaOp.collect()
    val flushes = PlanWalk.allNodes(viaOp.queryExecution.executedPlan).collectFirst {
      case t: TopKPerKeyExec if t.partial => t.metrics("numFlushes").value
    }
    assert(flushes.exists(_ > 0), s"expected flushes at threshold 64, got $flushes")
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("tiebreak"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2).drop("rn")
    assert(viaOp.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaOp).count() == 0)
  }

  test("final-side SortExec takes its real spill path and the streaming final stays exact") {
    // SparkTestSession pins spark.shuffle.spill.numElementsForceSpillThreshold
    // to 16384; 100k distinct keys over 4 reduce partitions put ~25k rows
    // through each final-side SortExec — past the threshold, so the
    // external sorter genuinely spills (spillSize metric > 0) while the
    // tiny flush valve keeps the map side bounded at the same time
    val rows = (1 to 100000).map(i => (i.toLong, i * 13 % 99991, i))
    val df = rows.toDF("key", "score", "tb").repartition(8)
    val out = TopKPerKey.topKPerKey(df, 1, keys = Seq("key"),
      orderBy = Seq(("score", false), ("tb", true)), flushHeldRows = 256)
    // k=1 over all-distinct keys is the identity — exact iff nothing lost
    assert(out.collect().length == 100000)
    assert(out.exceptAll(df).count() == 0 && df.exceptAll(out).count() == 0)
    val plan = out.queryExecution.executedPlan
    val flushes = PlanWalk.allNodes(plan).collectFirst {
      case t: TopKPerKeyExec if t.partial => t.metrics("numFlushes").value
    }
    assert(flushes.exists(_ > 0), s"expected map-side flushes, got $flushes")
    val spills = PlanWalk.allNodes(plan).collect {
      case s: org.apache.spark.sql.execution.SortExec => s.metrics("spillSize").value
    }
    assert(spills.nonEmpty && spills.sum > 0,
      s"expected the final-side sort to spill under the forced threshold, got $spills")
  }

  test("unknown column fails fast with a clear message") {
    val df = Seq((1L, 1)).toDF("key", "score")
    val e = intercept[IllegalArgumentException] {
      TopKPerKey.topKPerKey(df, 1, Seq("nope"), Seq(("score", true)))
    }
    assert(e.getMessage.contains("nope"))
  }
}
