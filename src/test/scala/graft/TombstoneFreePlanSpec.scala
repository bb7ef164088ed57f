package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{FoldTree, LexStreams, VecStreams}

/** A probe over a tombstone-free read set plans like a probe that never
  * had tombstones: no left-anti join, and no broadcast over a local
  * relation (an empty stand-in for the missing tombstones). Each index
  * has one probe, so this holds for the append keys (e35f, e2f, e2z)
  * and for the text index's upsert lifecycle before its first update
  * (snapshot 3: first arrivals resolve no prior and write no
  * tombstone). The vector upsert verb tombstones every incoming key, so
  * its snapshot 3 carries tombstones and is not a case here. */
class TombstoneFreePlanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  /** The physical plan before execution, exchanges included. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def antiJoins(df: DataFrame): Seq[SparkPlan] =
    physical(df).collect { case j: BaseJoinExec if j.joinType == LeftAnti => j }

  private def assertTombstoneFree(df: DataFrame, what: String): Unit = {
    val plan = physical(df)
    assert(antiJoins(df).isEmpty, s"$what plans a left-anti join:\n$plan")
    val localBroadcasts = plan.collect {
      case b: BroadcastExchangeExec if b.child.exists(_.isInstanceOf[LocalTableScanExec]) => b
    }
    assert(localBroadcasts.isEmpty, s"$what broadcasts a local relation:\n$plan")
  }

  test("text index: the e35f probe and e35u's pre-update snapshot plan no tombstone join") {
    assertTombstoneFree(LexStreams.e35fPostingsFold(spark, sf), "e35f")
    val current = LexStreams.e35uLexUpsert(spark, sf)
    assert(antiJoins(current).nonEmpty, "e35u's current read set has tombstones")
    val work = graft.util.PathKeys.fixturePath("stream-e35u", sf, "-4")
    assert(LexStreams.tombTree(work).pinned(3L).isEmpty)
    assertTombstoneFree(LexStreams.probeAtSnapshot(spark, sf, work, 3L), "e35u at snapshot 3")
  }

  test("vector index: the e2f probe and the e2z pinned probe plan no tombstone join") {
    assertTombstoneFree(VecStreams.e2fIvfFoldStream(spark, sf), "e2f")
    assertTombstoneFree(VecStreams.e2zFoldSnapshot(spark, sf), "e2z")
    assert(antiJoins(VecStreams.e2uVecUpsert(spark, sf)).nonEmpty,
      "e2u's read set has tombstones")
  }

  test("every fold dir of the declared runs has exactly its tree's schema") {
    // footer inference over each batch/compact dir, spared dirs included:
    // one format per tree, whichever lifecycle wrote it
    def assertOneFormat(tree: FoldTree): Unit = {
      val dirs = scala.util.Using.resource(Files.list(tree.root))(
        _.iterator().asScala.toList.filterNot(_.getFileName.toString.startsWith("_")))
      assert(dirs.nonEmpty, s"no fold dirs under ${tree.root}")
      dirs.foreach(d => assert(spark.read.parquet(d.toString).schema == tree.schema,
        s"$d does not carry its tree's schema"))
    }
    def work(key: String) = graft.util.PathKeys.fixturePath(s"stream-$key", sf, "-4")
    LexStreams.e35fPostingsFold(spark, sf)
    LexStreams.e35uLexUpsert(spark, sf)
    Seq("e35f", "e35u").map(work).foreach { w =>
      assertOneFormat(LexStreams.segTree(w))
      assertOneFormat(LexStreams.lensTree(w))
    }
    VecStreams.e2fIvfFoldStream(spark, sf)
    VecStreams.e2uVecUpsert(spark, sf)
    Seq("e2f", "e2u").map(work).foreach(w => assertOneFormat(VecStreams.foldTree(w)))
  }
}
