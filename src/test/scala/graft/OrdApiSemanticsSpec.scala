package graft

import graft.SyntheticOrd._
import graft.ord.{OrdJson, OrdMain}
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}

/** The five modes and the SAVE step on a synthetic nested fixture
  * (SyntheticOrd), each compared row for row and in order with a
  * plain-Scala model: catalog numbering, scoping, the reference's
  * 1-based end-inclusive clamped ranges, and saveFormatted's selection,
  * order, guard and duplicate-id error. Hermetic: no golden files. */
class OrdApiSemanticsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val corpora = Seq(None, Some(three), Some(single))

  private def inRange(v: Int, lo: Int, hi: Int) = v >= math.max(lo, 1) && v <= hi

  test("mode all numbers datasets in catalog order, within the corpus") {
    for (c <- corpora) assert(rows(api.allReactions(spark, c)) == all(c), c)
    // _three is first in the catalog although it sorts after _single, and
    // its empty second dataset still takes number 2
    val numbers = all(None).map(r => (r.file, r.id) -> r.ds).distinct
    assert(numbers == Seq((three, "ds-c") -> 1, (three, "ds-shared") -> 3,
      (three, "ds-b") -> 4, (single, "ds-shared") -> 5, (single, "ds-z") -> 6,
      (single, "ds-e") -> 7))
    assert(all(Some(single)).map(_.ds).distinct == Seq(1, 2, 3))
  }

  test("mode 1 with a corpus equals its bounded form in the API and the CLI") {
    for (c <- corpora) assert(rows(api.allReactions(spark, c)) ==
      rows(api.uniformRange(spark, 1, Int.MaxValue, 1, Int.MaxValue, c)), c)
    def cli(args: String*): String = { // the summary, past any prompts
      val out = new ByteArrayOutputStream()
      Console.withOut(out)(OrdMain.run(spark, args, () => "", api))
      val text = out.toString("UTF-8")
      text.substring(text.indexOf("ROWS="))
    }
    val plain = cli("1", "--corpus", single)
    assert(plain == cli("1", "1", "999", "--corpus", single))
    // numbered within the corpus: datasets 1..3, not 5..7
    assert(plain.contains(s"ROWS=${all(Some(single)).size}"))
    assert(plain.linesIterator.drop(1).toSeq == all(Some(single)).map(r =>
      Seq(r.file, r.id, r.ds, r.rx, r.reactionId, r.success).mkString("\t")))
  }

  test("mode specific_datasets keeps catalog numbers and order") {
    for (c <- corpora; ids <- Seq(Seq("ds-shared", "ds-b"), Seq("ds-e"),
        Seq("ds-a"), Seq("missing"))) {
      assert(rows(api.specificDatasets(spark, ids, c)) ==
        all(c).filter(r => ids.contains(r.id)), (c, ids))
    }
  }

  test("mode uniform_range is 1-based, end-inclusive and clamped") {
    val cases = Seq((0, 2, 0, 2), (2, 3, 2, 9999), (3, 3, 1, 1),
      (1, Int.MaxValue, 1, Int.MaxValue), (-5, 9999, 4, 9999), (4, 3, 1, 9),
      (2, 2, 1, 9)) // dataset 2 of the catalog is the empty one
    for (c <- corpora; (a, b, x, y) <- cases) {
      assert(rows(api.uniformRange(spark, a, b, x, y, c)) ==
        all(c).filter(r => inRange(r.ds, a, b) && inRange(r.rx, x, y)),
        (c, a, b, x, y))
    }
    assert(rows(api.uniformRange(spark, 2, 2, 1, 9, None)).isEmpty)
  }

  test("mode custom_ranges slices each dataset by its own clamped range") {
    val cases = Seq(
      Map("ds-c" -> (0, 2), "ds-shared" -> (2, 99), "ds-z" -> (4, 4),
        "ds-a" -> (1, 5), "nope" -> (1, 1)),
      Map("ds-b" -> (3, 2)), // empty range
      Map.empty[String, (Int, Int)])
    for (c <- corpora; ranges <- cases) {
      assert(rows(api.customRanges(spark, ranges, c)) ==
        all(c).filter(r => ranges.get(r.id).exists { case (lo, hi) =>
          inRange(r.rx, lo, hi) }), (c, ranges))
    }
  }

  test("mode single_target returns one reaction, or none past the end") {
    val cases = Seq(("ds-b", 4), ("ds-b", 5), ("ds-shared", 1), ("ds-z", 0),
      ("ds-a", 1))
    for (c <- corpora; (id, k) <- cases) {
      assert(rows(api.singleTarget(spark, id, k, c)) ==
        all(c).filter(r => r.id == id && r.rx == k), (c, id, k))
    }
    assert(rows(api.singleTarget(spark, "ds-b", 5)).isEmpty)
    assert(rows(api.singleTarget(spark, "ds-shared", 1)).map(_.file) ==
      Seq(three, single))
  }

  private def tmpJson(): Path = {
    val p = Files.createTempFile("graft-synthetic-save", ".json")
    Files.delete(p)
    p
  }

  test("saveFormatted writes the selection in (file, stored position) order") {
    val picks = Seq(
      (Some(three), Nil),
      (None, Seq("ds-z", "ds-c", "ds-a")),
      (Some(single), Seq("ds-shared", "ds-e")))
    for ((c, ids) <- picks) {
      val p = tmpJson()
      try {
        api.saveFormatted(spark, p.toString, c, ids)
        val expected = datasets
          .filter(d => c.forall(_ == d.file) && (ids.isEmpty || ids.contains(d.dataset_id)))
          .sortBy(d => (d.file, d.ds_pos))
        assert(Files.readAllBytes(p).sameElements(OrdJson.renderBytes(expected)),
          (c, ids))
      } finally Files.deleteIfExists(p)
    }
    // _single sorts before _three by name: the document's key order
    val p = tmpJson()
    try {
      api.saveFormatted(spark, p.toString, None, Seq("ds-c", "ds-z"))
      val keys = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(p.toFile).fieldNames()
      assert(Iterator.continually(keys).takeWhile(_.hasNext).map(_.next())
        .toSeq == Seq("ds-z", "ds-c"))
    } finally Files.deleteIfExists(p)
  }

  test("saveFormatted refuses an id shared by two files") {
    val p = tmpJson()
    val e = intercept[IllegalArgumentException] {
      api.saveFormatted(spark, p.toString, None, Seq("ds-shared"))
    }
    assert(e.getMessage.contains("multiple source files"))
    assert(e.getMessage.contains("ds-shared"))
    assert(!Files.exists(p))
  }

  test("saveFormatted's row cap fires before any collect") {
    // _three holds 9 reactions; a cap of 8 must refuse with the guard's
    // one job and nothing collected or written
    System.setProperty("graft.ord.saveMaxRows", "8")
    try {
      val p = tmpJson()
      val (out, jobs) = jobsOf(spark)(
        api.saveFormatted(spark, p.toString, Some(three)))
      val e = intercept[IllegalArgumentException](out.get)
      assert(e.getMessage.contains("9 reactions"))
      assert(e.getMessage.contains("driver-side cap of 8"))
      assert(jobs == 1, s"the guard ran $jobs jobs")
      assert(!Files.exists(p))
      // at the cap exactly, the save goes through
      System.setProperty("graft.ord.saveMaxRows", "9")
      api.saveFormatted(spark, p.toString, Some(three))
      assert(Files.exists(p))
      Files.delete(p)
    } finally System.clearProperty("graft.ord.saveMaxRows")
  }
}
