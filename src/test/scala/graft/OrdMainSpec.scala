package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ord.{OrdApi, OrdMain}

import java.io.ByteArrayOutputStream
import java.nio.file.Files

/** The CLI closes the reference's last uncovered surface: an executable
  * main over the five scrape modes (web_scrpaer_2.py:291-334,509-527).
  * Each mode runs end-to-end through OrdMain.run and must agree with the
  * OrdApi call it wraps; the --save path must byte-equal a golden file. */
class OrdMainSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val corpus = "ord_formatted_data_three.json"

  /** Run the CLI core, capturing stdout; scripted stdin lines feed the
    * interactive path. */
  private def cli(args: String*)(stdin: String*): String = {
    val out = new ByteArrayOutputStream()
    val lines = stdin.iterator
    Console.withOut(out) {
      OrdMain.run(spark, args.toSeq,
        () => if (lines.hasNext) lines.next() else "")
    }
    out.toString("UTF-8")
  }

  private def rowsOf(output: String): Int =
    """ROWS=(\d+)""".r.findFirstMatchIn(output)
      .map(_.group(1).toInt)
      .getOrElse(fail(s"no ROWS= marker in:\n$output"))

  test("mode 1 (all) matches OrdApi.allReactions") {
    assert(rowsOf(cli("1")()) == OrdApi.allReactions(spark).count())
  }

  test("mode 2 (specific datasets) matches OrdApi.specificDatasets") {
    val ids = OrdApi.allReactions(spark)
      .where(org.apache.spark.sql.functions.col("file") === corpus)
      .select("dataset_id").distinct().collect().map(_.getString(0)).take(2)
    val expected = OrdApi.specificDatasets(spark, ids.toSeq, Some(corpus)).count()
    assert(rowsOf(cli("2", ids.mkString(","), "--corpus", corpus)()) == expected)
  }

  test("mode 3 (uniform range) matches OrdApi.uniformRange") {
    val expected = OrdApi.uniformRange(spark, 2, 4, 1, 3).count()
    assert(expected > 0)
    assert(rowsOf(cli("3", "2", "4", "1", "3")()) == expected)
  }

  test("mode 5 (single target) is the reference's degenerate range") {
    val expected = OrdApi.uniformRange(spark, 3, 3, 1, 1).count()
    assert(expected == 1)
    assert(rowsOf(cli("5", "3")()) == 1) // rx defaults to 1 like the reference
  }

  test("interactive prompt loop drives mode 3 from stdin") {
    val viaArgs = rowsOf(cli("3", "1", "2", "1", "5")())
    val viaStdin = rowsOf(cli()("3", "1", "2", "1", "5"))
    assert(viaArgs == viaStdin && viaArgs > 0)
  }

  test("mode 4 (custom ranges) matches OrdApi.customRanges") {
    val id = OrdApi.allReactions(spark)
      .where(org.apache.spark.sql.functions.col("file") === corpus)
      .select("dataset_id").distinct().orderBy("dataset_id")
      .collect().map(_.getString(0)).head
    val expected = OrdApi.customRanges(spark, Map(id -> (1, 2)), Some(corpus)).count()
    assert(expected > 0)
    assert(rowsOf(cli("4", s"$id=1-2", "--corpus", corpus)()) == expected)
  }

  test("--save writes the byte-exact golden document for a corpus-scoped mode 1") {
    val tmp = Files.createTempFile("graft-ordmain", ".json")
    val out = cli("1", "--corpus", corpus, "--save", tmp.toString)()
    assert(out.contains(s"SAVED=$tmp"))
    assert(java.util.Arrays.equals(
      Files.readAllBytes(tmp),
      Files.readAllBytes(graft.util.PathKeys.golden(corpus))),
      s"saved document differs from golden $corpus")
    Files.delete(tmp)
  }
}
