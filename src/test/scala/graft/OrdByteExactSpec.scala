package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ord.{OrdFixtures, OrdJson}

import java.nio.file.Files

/** Byte-exact sink fidelity: the normalized model, rendered back through
  * OrdFixtures.renderFile + OrdJson's `json.dump(indent=2,
  * ensure_ascii=False)` formatting, must reproduce every golden file
  * byte-for-byte (`/root/reference/web_scrpaer_2.py:545-548`). This is
  * strictly stronger than OrdRoundTripSpec's tree-equality: it also pins
  * key order, layout, float lexemes, and escaping. */
class OrdByteExactSpec extends AnyFunSuite {

  private val files = Seq(
    "ord_formatted_data.json", "ord_formatted_data_one.json",
    "ord_formatted_data_two.json", "ord_formatted_data_three.json",
    "ord_formatted_data_single.json")

  test("regenerated documents byte-equal all five golden files") {
    val (datasets, _) = OrdFixtures.parseAll()
    val byFile = datasets.groupBy(_.file) // groupBy preserves seq order
    files.foreach { f =>
      val orig = Files.readAllBytes(graft.util.PathKeys.golden(f))
      val regen = OrdJson.renderBytes(byFile(f))
      if (!java.util.Arrays.equals(regen, orig)) {
        val o = new String(orig, "UTF-8"); val r = new String(regen, "UTF-8")
        val i = o.zip(r).indexWhere { case (a, b) => a != b }
        val at = if (i < 0) math.min(o.length, r.length) else i
        fail(s"$f differs at byte $at (orig ${orig.length}B, regen ${regen.length}B):" +
          s" ...${o.slice(at - 60, at + 60)}... vs ...${r.slice(at - 60, at + 60)}...")
      }
    }
  }

  test("writeFile round-trips through disk") {
    val (datasets, _) = OrdFixtures.parseAll()
    val f = "ord_formatted_data_three.json"
    val tmp = Files.createTempFile("graft-ordjson", ".json")
    OrdJson.writeFile(tmp.toString,
      datasets.filter(_.file == f))
    assert(java.util.Arrays.equals(
      Files.readAllBytes(tmp), Files.readAllBytes(graft.util.PathKeys.golden(f))))
    Files.delete(tmp)
  }

  test("pyFloatRepr matches CPython float repr across notation regimes") {
    // fixed-notation window is [-4, 16) in decimal exponent — wider than
    // Java's Double.toString window, which is the whole reason this
    // formatter exists
    assert(OrdJson.pyFloatRepr(0.0001429999974789098) == "0.0001429999974789098")
    assert(OrdJson.pyFloatRepr(10.699999809265137) == "10.699999809265137")
    assert(OrdJson.pyFloatRepr(0.07000000029802322) == "0.07000000029802322")
    assert(OrdJson.pyFloatRepr(-0.5) == "-0.5")
    assert(OrdJson.pyFloatRepr(1e-5) == "1e-05")
    assert(OrdJson.pyFloatRepr(1.25e-7) == "1.25e-07")
    assert(OrdJson.pyFloatRepr(1e22) == "1e+22")
    assert(OrdJson.pyFloatRepr(1.5) == "1.5")
    assert(OrdJson.pyFloatRepr(123456.0) == "123456.0")
    // signed zeros: CPython prints them distinctly
    assert(OrdJson.pyFloatRepr(0.0) == "0.0")
    assert(OrdJson.pyFloatRepr(-0.0) == "-0.0")
  }

  test("ensure_ascii=False escaping: unicode raw, control chars escaped like Python") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("a", "h\u00e9llo\nw\u00f6rld\t\"q\"\\")
    node.put("b", "\u0001")
    node.putNull("nul")
    // python: json.dumps(..., indent=2, ensure_ascii=False)
    val expected =
      "{\n  \"a\": \"h\u00e9llo\\nw\u00f6rld\\t\\\"q\\\"\\\\\",\n  \"b\": \"\\u0001\",\n  \"nul\": null\n}"
    assert(OrdJson.prettyPrint(node) == expected)
  }
}
