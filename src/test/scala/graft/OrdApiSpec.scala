package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ord.OrdApi

/** The five reference scrape modes as library calls — range semantics
  * pinned to web_scrpaer_2.py (1-based, end-inclusive, clamped). */
class OrdApiSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  test("mode all: the full 237-reaction corpus") {
    assert(OrdApi.allReactions(spark).count() == 237)
  }

  test("mode specific_datasets filters to exactly the requested ids") {
    val all = OrdApi.allReactions(spark)
      .select("dataset_id").distinct().collect().map(_.getString(0))
    val pick = all.sorted.take(3).toSeq
    val out = OrdApi.specificDatasets(spark, pick)
    assert(out.select("dataset_id").distinct().collect()
      .map(_.getString(0)).toSet == pick.toSet)
  }

  test("mode uniform_range is 1-based, end-inclusive, clamped") {
    // reactions 2..3 of datasets 1..2 (each _one dataset has 5 reactions)
    val out = OrdApi.uniformRange(spark, 1, 2, 2, 3).collect()
    assert(out.map(_.getAs[Int]("ds_pos")).toSet.subsetOf(Set(1, 2)))
    assert(out.forall(r => {
      val p = r.getAs[Int]("rx_pos1"); p >= 2 && p <= 3
    }))
    // clamping: start below 1 and end beyond the corpus behave like the
    // reference's slice (all_ids[start-1 : end])
    val clamped = OrdApi.uniformRange(spark, 0, 9999, 0, 9999)
    assert(clamped.count() == 237)
  }

  test("mode custom_ranges applies a different slice per dataset") {
    val ids = OrdApi.allReactions(spark)
      .where(org.apache.spark.sql.functions.col("file") === "ord_formatted_data_one.json")
      .select("dataset_id").distinct().orderBy("dataset_id")
      .collect().map(_.getString(0))
    val ranges = Map(ids(0) -> (1, 2), ids(1) -> (4, 5))
    // dataset ids repeat across golden files - scope to the _one corpus
    val out = OrdApi.customRanges(spark, ranges,
      Some("ord_formatted_data_one.json")).collect()
    val byDs = out.groupBy(_.getAs[String]("dataset_id"))
      .map { case (k, v) => k -> v.map(_.getAs[Int]("rx_pos1")).sorted.toSeq }
    assert(byDs == Map(ids(0) -> Seq(1, 2), ids(1) -> Seq(4, 5)))
  }

  test("saveFormatted writes a byte-identical formatted-data file through Spark") {
    // the _one corpus has 50 datasets in UNSORTED key order — this also
    // proves the stored ds_pos survives the parquet round trip
    val f = "ord_formatted_data_one.json"
    val tmp = java.nio.file.Files.createTempFile("graft-save", ".json")
    OrdApi.saveFormatted(spark, tmp.toString, corpus = Some(f))
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(tmp),
      java.nio.file.Files.readAllBytes(graft.util.PathKeys.golden(f))))
    java.nio.file.Files.delete(tmp)
  }

  test("saveFormatted fails fast above the driver-side row cap") {
    // force the cap below the golden corpus size: the guard must refuse
    // BEFORE collect(), with a message that names the cap and the fix
    System.setProperty("graft.ord.saveMaxRows", "10")
    try {
      val tmp = java.nio.file.Files.createTempFile("graft-cap", ".json")
      val e = intercept[IllegalArgumentException] {
        OrdApi.saveFormatted(spark, tmp.toString,
          corpus = Some("ord_formatted_data_one.json"))
      }
      assert(e.getMessage.contains("driver-side cap"))
      assert(e.getMessage.contains("saveMaxRows"))
      java.nio.file.Files.delete(tmp)
    } finally System.clearProperty("graft.ord.saveMaxRows")
  }

  test("mode single_target returns exactly one reaction") {
    val first = OrdApi.allReactions(spark).limit(1).collect()(0)
    val out = OrdApi.singleTarget(spark,
      first.getAs[String]("dataset_id"), first.getAs[Int]("rx_pos1"),
      Some(first.getAs[String]("file"))).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("reaction_id") == first.getAs[String]("reaction_id"))
  }
}
