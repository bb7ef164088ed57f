package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Drain, EventStreams}
import graft.util.Staged

/** The shared staging protocol ([[Staged]]): a fresh root is reused, a
  * changed signature or a missing required part rebuilds, a build that
  * throws leaves no marker, and landing parts replay in their staged
  * mtime order — including e4l's out-of-order `replayOrder`. The
  * per-layout ensure-staleness specs (LexIndexSpec, IvfServeSpec,
  * IvfLayoutSpec) pin the same contract through their callers. */
class StagedSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def withRoot(body: Path => Unit): Unit = {
    val root = Files.createTempDirectory("staged-spec")
    try body(root) finally Staged.deleteTree(root)
  }

  /** `ensure` with a counting build that writes one required file. */
  private def ensureCounting(root: Path, sig: String, builds: Array[Int]): Boolean =
    Staged.ensure(root, sig, Seq("part")) {
      builds(0) += 1
      Files.createDirectories(root)
      Files.write(root.resolve("part"), Array[Byte](1))
    }

  test("a fresh root does not rebuild") {
    withRoot { root =>
      val builds = Array(0)
      assert(ensureCounting(root, "v1:1:2", builds))
      val marker = root.resolve(Staged.LayoutMarker)
      val mtime = Files.getLastModifiedTime(marker)
      assert(!ensureCounting(root, "v1:1:2", builds))
      assert(builds(0) == 1, "a fresh root must be reused, not rebuilt")
      assert(Files.getLastModifiedTime(marker) == mtime,
        "a fresh root's marker must not be rewritten")
    }
  }

  test("a changed signature rebuilds") {
    withRoot { root =>
      val builds = Array(0)
      ensureCounting(root, "v1:1:2", builds)
      assert(ensureCounting(root, "v1:1:3", builds))
      assert(builds(0) == 2)
      assert(Staged.stagedSig(root).contains("v1:1:3"))
    }
  }

  test("a missing required part under a valid marker rebuilds") {
    withRoot { root =>
      val builds = Array(0)
      ensureCounting(root, "v1:1:2", builds)
      Files.delete(root.resolve("part"))
      assert(ensureCounting(root, "v1:1:2", builds),
        "a surviving marker over a deleted part must not pass as fresh")
      assert(builds(0) == 2 && Files.exists(root.resolve("part")))
    }
  }

  test("a build that throws leaves no marker; the next call rebuilds") {
    withRoot { root =>
      val builds = Array(0)
      ensureCounting(root, "v1:1:2", builds)
      intercept[IllegalStateException] {
        Staged.ensure(root, "v1:1:3", Seq("part")) {
          Files.createDirectories(root)
          Files.write(root.resolve("part"), Array[Byte](2))
          throw new IllegalStateException("build failed")
        }
      }
      assert(Staged.stagedSig(root).isEmpty,
        "a failed build must not leave a marker behind")
      assert(ensureCounting(root, "v1:1:3", builds))
      assert(builds(0) == 2 && Staged.stagedSig(root).contains("v1:1:3"))
    }
  }

  test("landing parts replay in staged mtime order") {
    import spark.implicits._
    withRoot { dir =>
      val root = dir.resolve("landing")
      val order = Seq(2, 0, 1)
      val path = Staged.landing(root, "t:1", Staged.partNames("p", 3), order) {
        (i: Int) => Seq(i.toLong).toDF("v")
      }
      assert(path == root)
      assert(Files.exists(root.resolve(Staged.LandingMarker)))
      val seen = Seq.newBuilder[Long]
      val landing = Drain.Landing(path,
        org.apache.spark.sql.types.StructType.fromDDL("v BIGINT"))
      Drain.foreachBatch(landing.stream(spark), dir.resolve("work")) {
        (df: DataFrame, _: Long) => seen ++= df.as[Long].collect()
      }
      assert(seen.result() == order.map(_.toLong),
        "each part must replay at its staged position")
      // a second call over the fresh landing stages nothing: the parts
      // keep their staged mtimes
      val mtimes = Staged.partNames("p", 3).map(n =>
        Files.getLastModifiedTime(root.resolve(n)))
      Staged.landing(root, "t:1", Staged.partNames("p", 3), order) {
        fail("a fresh landing must not restage")
      }
      assert(Staged.partNames("p", 3).map(n =>
        Files.getLastModifiedTime(root.resolve(n))) == mtimes)
    }
  }

  test("eventsStreamBucketed's replayOrder permutation stages that mtime order") {
    val order = EventStreams.e4lReplayOrder
    val landing = EventStreams.bucketedLanding(spark, sf, 6, order)
    val byMtime = Staged.partNames("events", 6)
      .sortBy(n => Files.getLastModifiedTime(landing.resolve(n)).toMillis)
    assert(byMtime == order.map(i => f"events-$i%03d.parquet"),
      s"bucket replayOrder(p) must land at replay position p: $byMtime")
    intercept[IllegalArgumentException] {
      EventStreams.bucketedLanding(spark, sf, 6, Seq(0, 1, 2))
    }
  }
}
