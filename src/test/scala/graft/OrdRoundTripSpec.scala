package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import graft.ord.OrdFixtures

import scala.jdk.CollectionConverters._

/** The lossless-model proof: parse every golden file into the
  * normalized ORD model, render it back to the reference's exact JSON
  * shape, and deep-compare against the original tree — objects by key
  * set, ARRAYS ORDER-SENSITIVE (the assoc-list order is load-bearing,
  * web_scraper.py:471-477), numbers by value (the source mixes int and
  * float literals for the same fields). */
class OrdRoundTripSpec extends AnyFunSuite {

  private def diff(path: String, a: JsonNode, b: JsonNode): Option[String] = {
    if (a.isNumber && b.isNumber) {
      if (a.asDouble == b.asDouble) None
      else Some(s"$path: number ${a.asDouble} != ${b.asDouble}")
    } else if (a.isObject && b.isObject) {
      val ka = a.fieldNames.asScala.toSet
      val kb = b.fieldNames.asScala.toSet
      if (ka != kb)
        Some(s"$path: keys ${ka.diff(kb)} only in original, ${kb.diff(ka)} only in rebuilt")
      else ka.toSeq.sorted.iterator
        .flatMap(k => diff(s"$path.$k", a.get(k), b.get(k))).nextOption()
    } else if (a.isArray && b.isArray) {
      if (a.size != b.size) Some(s"$path: array size ${a.size} != ${b.size}")
      else (0 until a.size).iterator
        .flatMap(i => diff(s"$path[$i]", a.get(i), b.get(i))).nextOption()
    } else if (a == b) None
    else Some(s"$path: $a != $b")
  }

  test("parse ∘ render = id for all five golden files") {
    val mapper = new ObjectMapper()
    val (datasets, _) = OrdFixtures.parseAll()
    val byFile = datasets.groupBy(_.file)
    assert(byFile.size == 5)
    for ((file, ds) <- byFile) {
      val original = mapper.readTree(graft.util.PathKeys.golden(file).toFile)
      val rebuilt = OrdFixtures.renderFile(mapper, ds)
      val d = diff(file, original, rebuilt)
      assert(d.isEmpty, d.getOrElse(""))
    }
  }
}
