package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on schema-less parquet reads: a `read.parquet(` with no
  * `.schema(` on the same line infers its schema from the file footers,
  * which costs a job of its own before the real one. Their count in
  * `src/main/scala` may only fall — lower [[Pinned]] when a change
  * removes some — and the fold-tree owner, whose trees all carry a
  * statically known schema, holds none. */
class SchemaLessReadSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")

  /** Schema-less reads in `src/main/scala` at the last tightening. */
  private val Pinned = 30

  /** `(file, line)` of every schema-less read under `src/main/scala`. */
  private lazy val reads: Seq[(String, String)] = {
    require(Files.isDirectory(mainRoot), s"run from the repo root: $mainRoot missing")
    val files = scala.util.Using.resource(Files.walk(mainRoot)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    files.flatMap { p =>
      Files.readAllLines(p).asScala
        .filter(l => l.contains("read.parquet(") && !l.contains(".schema("))
        .map(l => (mainRoot.relativize(p).toString, l.trim))
    }
  }

  test(s"at most $Pinned schema-less parquet reads in src/main") {
    assert(reads.size <= Pinned,
      s"${reads.size} schema-less reads (pinned: $Pinned) — give the new read " +
        s"its schema: ${reads.map { case (f, l) => s"$f: $l" }.mkString("; ")}")
  }

  test("the fold-tree owner reads every tree with its schema") {
    val text = Files.readAllLines(mainRoot.resolve("graft/streaming/FoldTree.scala")).asScala
    val schemaLess = text.filter(l => l.contains(".read.") && !l.contains(".schema("))
    assert(schemaLess.isEmpty, s"schema-less reads in FoldTree.scala: $schemaLess")
  }
}
