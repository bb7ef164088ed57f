package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One knob inventory: every environment variable and system property
  * `src/main/scala` reads is a row of README's Configuration table, and
  * the row names the one file that reads it. A new knob cannot land
  * unlisted, a deleted one cannot linger in the table, and a second
  * reader of a listed key fails the suite.
  *
  * A read is `sys.env`, `sys.props`, `System.getenv` or
  * `System.getProperty` with a string-literal key; a read whose key is
  * not a literal fails on its own, since its key cannot be checked.
  * JVM-defined properties (`java.*`, e.g. `java.io.tmpdir`) are the
  * JVM's settings, not the engine's, and are not listed. */
class KnobTableSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")
  private val readme = Paths.get("README.md")

  private val readSite =
    """(?:sys\.env|sys\.props|System\.getenv|System\.getProperty)\b""".r
  private val literalKey =
    """^(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]+)"""".r.unanchored

  /** (key or the offending text, file) per read site. */
  private lazy val reads: Seq[(Either[String, String], String)] = {
    require(Files.isDirectory(mainRoot), s"run from the repo root: $mainRoot missing")
    val files = scala.util.Using.resource(Files.walk(mainRoot)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    files.flatMap { p =>
      val text = Files.readString(p)
      val file = mainRoot.relativize(p).toString
      readSite.findAllMatchIn(text).map { m =>
        val rest = text.substring(m.end)
        rest match {
          case literalKey(key) => (Right(key), file)
          case _ => (Left(text.substring(m.start, math.min(text.length, m.end + 40))), file)
        }
      }
    }
  }

  /** key → reader file, from the README table's rows. */
  private lazy val table: Seq[(String, String)] = {
    val lines = Files.readAllLines(readme).asScala.toSeq
    val section = lines.dropWhile(_ != "## Configuration").drop(1)
      .takeWhile(!_.startsWith("## "))
    val row = """^\| `([^`]+)` \| [^|]+ \| `([^`]+)` \|.*""".r
    section.collect { case row(key, reader) => key -> reader }
  }

  test("every knob read in src/main is a README Configuration row naming its one reader") {
    val nonLiteral = reads.collect { case (Left(site), f) => s"$f: $site" }
    assert(nonLiteral.isEmpty,
      s"env/property reads without a literal key: ${nonLiteral.mkString("; ")}")
    val found: Map[String, Set[String]] = reads
      .collect { case (Right(k), f) if !k.startsWith("java.") => k -> f }
      .groupMap(_._1)(_._2).map { case (k, fs) => k -> fs.toSet }
    assert(table.nonEmpty, s"no Configuration table rows found in $readme")
    assert(table.map(_._1).distinct.size == table.size,
      s"a key is listed twice: ${table.map(_._1).diff(table.map(_._1).distinct)}")
    val listed = table.toMap
    val unlisted = found.keySet -- listed.keySet
    assert(unlisted.isEmpty,
      s"read in src/main but missing from README's Configuration table: $unlisted")
    val stale = listed.keySet -- found.keySet
    assert(stale.isEmpty,
      s"listed in README's Configuration table but read nowhere in src/main: $stale")
    found.foreach { case (k, fs) =>
      assert(fs == Set(listed(k)),
        s"`$k` must be read only by ${listed(k)} (the table's reader), found in ${fs.mkString(", ")}")
    }
  }
}
