package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard: each of these decisions has exactly ONE owning file
  * in `src/main/scala`, and a copy anywhere else fails the suite —
  *
  *  - the staging markers (`_STAGED`, `_STAGED_SIG`) belong to the
  *    staleness protocol, `util/Staged.scala`;
  *  - `processAllAvailable` belongs to the drain runner,
  *    `streaming/Drain.scala`;
  *  - the fixture-root read (`GRAFT_FIXTURE_DIR`) belongs to
  *    `util/PathKeys.scala`;
  *  - session construction (`SparkSession.builder`) and the core-count
  *    read (`SPARK_GRAFT_CPUS`) belong to the session factory,
  *    `GraftSession.scala`.
  *
  * The scan covers code and comments alike: a hand-copied protocol
  * usually arrives with the comment that explained the original. */
class SingleOwnerSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    require(Files.isDirectory(mainRoot), s"run from the repo root: $mainRoot missing")
    scala.util.Using.resource(Files.walk(mainRoot)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.map(p => (mainRoot.relativize(p).toString, Files.readString(p)))
  }

  private def owners(token: String): Set[String] =
    sources.collect { case (f, text) if text.contains(token) => f }.toSet

  Seq(
    "_STAGED" -> "graft/util/Staged.scala",
    "processAllAvailable" -> "graft/streaming/Drain.scala",
    "GRAFT_FIXTURE_DIR" -> "graft/util/PathKeys.scala",
    "SparkSession.builder" -> "graft/GraftSession.scala",
    "SPARK_GRAFT_CPUS" -> "graft/GraftSession.scala"
  ).foreach { case (token, owner) =>
    test(s"`$token` appears only in $owner") {
      assert(owners(token) == Set(owner),
        s"`$token` must live in $owner alone — route the new site through it")
    }
  }
}
