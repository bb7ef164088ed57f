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
  *    `util/PathKeys.scala` — in `src/test/scala` too, so every spec
  *    resolves its fixture paths through `PathKeys` (this spec, which
  *    names the token, is exempt);
  *  - session construction (`SparkSession.builder`) and the core-count
  *    read (`SPARK_GRAFT_CPUS`) belong to the session factory,
  *    `GraftSession.scala`;
  *  - the fold-tree dir names (`"compact=`, `compact=$`, `batch=$`) and
  *    the atomic rename (`ATOMIC_MOVE`) belong to the fold-tree owner,
  *    `streaming/FoldTree.scala`;
  *  - the `"-4")` suffix of the drain work dirs and index landings
  *    belongs to the drain owner, `streaming/Drain.scala`;
  *  - the ORD golden location (`"/root/reference`) belongs to
  *    `util/PathKeys.scala` — in `src/test/scala` too.
  *
  * The scan covers code and comments alike: a hand-copied protocol
  * usually arrives with the comment that explained the original. */
class SingleOwnerSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")

  /** `(path relative to root, text)` of every Scala file under root. */
  private def scalaFiles(root: java.nio.file.Path): Seq[(String, String)] = {
    require(Files.isDirectory(root), s"run from the repo root: $root missing")
    scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.map(p => (root.relativize(p).toString, Files.readString(p)))
  }

  private lazy val sources = scalaFiles(mainRoot)
  private lazy val testSources = scalaFiles(testRoot)
    .filterNot(_._1 == "graft/SingleOwnerSpec.scala")
    .map { case (f, text) => (s"$testRoot/$f", text) }

  private def owners(token: String, withTests: Boolean): Set[String] =
    (sources ++ (if (withTests) testSources else Nil))
      .collect { case (f, text) if text.contains(token) => f }.toSet

  Seq(
    ("_STAGED", "graft/util/Staged.scala", false),
    ("processAllAvailable", "graft/streaming/Drain.scala", false),
    ("GRAFT_FIXTURE_DIR", "graft/util/PathKeys.scala", true),
    ("SparkSession.builder", "graft/GraftSession.scala", false),
    ("SPARK_GRAFT_CPUS", "graft/GraftSession.scala", false),
    ("\"compact=", "graft/streaming/FoldTree.scala", false),
    ("compact=$", "graft/streaming/FoldTree.scala", false),
    ("batch=$", "graft/streaming/FoldTree.scala", false),
    ("ATOMIC_MOVE", "graft/streaming/FoldTree.scala", false),
    ("\"-4\")", "graft/streaming/Drain.scala", false),
    ("\"/root/reference", "graft/util/PathKeys.scala", true)
  ).foreach { case (token, owner, withTests) =>
    test(s"`$token` appears only in $owner") {
      assert(owners(token, withTests) == Set(owner),
        s"`$token` must live in $owner alone — route the new site through it")
    }
  }
}
