package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.FoldTree

/** The fold-tree protocol rule by rule, on tiny hand-written dirs under a
  * temp root — no stream, no drain. Each batch dir holds one row, its
  * own batch id, so a read set's rows name the batches it covers. */
class FoldTreeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val schema = StructType(Seq(StructField("k", LongType)))

  private def withTree(body: FoldTree => Unit): Unit = {
    val root = Files.createTempDirectory("graft-foldtree")
    try body(FoldTree(root.resolve("t"), schema))
    finally graft.util.Staged.deleteTree(root)
  }

  private def fold(t: FoldTree, id: Long): Unit = {
    import spark.implicits._
    Seq(id).toDF("k").write.mode("overwrite").parquet(t.batch(id).toString)
  }

  private def names(dirs: Seq[String]): Seq[String] =
    dirs.map(Paths.get(_).getFileName.toString)

  private def onDisk(t: FoldTree): Set[String] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(t.root))(_.iterator().asScala
      .map((p: Path) => p.getFileName.toString).toSet)
  }

  private def keys(t: FoldTree, dirs: Seq[String]): Seq[Long] =
    t.read(spark, dirs).collect().map(_.getLong(0)).sorted.toSeq

  /** Batches 0..n−1 folded with cadence compaction at each entry, as a
    * drain runs them. */
  private def drain(t: FoldTree, n: Int): Unit =
    (0 until n).foreach { i => t.compactIfDue(spark, i.toLong); fold(t, i.toLong) }

  test("a missing root reads as Nil and every operation is a no-op") {
    withTree { t =>
      assert(t.readSet().isEmpty && t.readSet(before = 5L).isEmpty)
      t.compactIfDue(spark, 7L)
      t.tierMerge(spark)
      assert(!Files.exists(t.root), "no operation may create the root")
      assert(t.snaps.isEmpty && t.retained.isEmpty)
      assert(t.read(spark, Nil).isEmpty)
      assert(t.read(spark, Nil).schema == schema)
    }
  }

  test("compaction fires at exactly CompactEvery pending dirs, into compact=<id-1>") {
    withTree { t =>
      (0 until FoldTree.CompactEvery - 1).foreach(i => fold(t, i.toLong))
      t.compactIfDue(spark, FoldTree.CompactEvery - 1L)
      assert(!onDisk(t).exists(_.startsWith("compact=")),
        s"${FoldTree.CompactEvery - 1} pending dirs must not compact: ${onDisk(t)}")
      fold(t, FoldTree.CompactEvery - 1L)
      t.compactIfDue(spark, FoldTree.CompactEvery.toLong)
      val c = s"compact=${FoldTree.CompactEvery - 1}"
      assert(onDisk(t) == Set(c), s"covered dirs must go after the rename: ${onDisk(t)}")
      assert(names(t.readSet()) == Seq(c))
      assert(keys(t, t.readSet()) == (0L until FoldTree.CompactEvery))
    }
  }

  test("readSet(before = id) excludes batch id and everything after it") {
    withTree { t =>
      drain(t, 6)
      assert(names(t.readSet()) == Seq("compact=2", "batch=3", "batch=4", "batch=5"))
      assert(names(t.readSet(before = 4L)) == Seq("compact=2", "batch=3"))
      assert(names(t.readSet(before = 3L)) == Seq("compact=2"))
      assert(keys(t, t.readSet(before = 5L)) == Seq(0L, 1L, 2L, 3L, 4L))
    }
  }

  test("a crash between rename and cleanup leaves covered batch dirs that are never read") {
    withTree { t =>
      drain(t, 3)
      // the compaction's rename landed; its cleanup did not
      fold(t, 3L)
      spark.read.schema(schema).parquet((0 to 2).map(i => t.batch(i).toString): _*)
        .write.mode("overwrite").parquet(t.root.resolve("compact=2").toString)
      assert(Set("batch=0", "batch=1", "batch=2").subsetOf(onDisk(t)))
      assert(names(t.readSet()) == Seq("compact=2", "batch=3"))
      assert(keys(t, t.readSet()) == Seq(0L, 1L, 2L, 3L), "no batch may count twice")
      // the next pass, due or not, finishes the cleanup
      t.compactIfDue(spark, 4L)
      assert(onDisk(t) == Set("compact=2", "batch=3"))
    }
  }

  test("a replayed old batch that reappears after compaction is excluded") {
    withTree { t =>
      drain(t, 4)
      fold(t, 1L) // at-least-once replay of a compacted batch
      assert(onDisk(t).contains("batch=1"))
      assert(names(t.readSet()) == Seq("compact=2", "batch=3"))
      assert(keys(t, t.readSet()) == Seq(0L, 1L, 2L, 3L))
    }
  }

  test("dirs a retained manifest references are spared, on disk but out of the read set") {
    withTree { t =>
      (0 until 3).foreach { i =>
        t.compactIfDue(spark, i.toLong); fold(t, i.toLong); t.stamp(i.toLong)
      }
      t.compactIfDue(spark, 3L)
      assert(names(t.readSet()) == Seq("compact=2"))
      assert(Set("batch=0", "batch=1", "batch=2").subsetOf(onDisk(t)),
        s"manifest-referenced dirs must be spared: ${onDisk(t)}")
      assert(names(t.pinned(1L)) == Seq("batch=0", "batch=1"))
      assert(keys(t, t.pinned(1L)) == Seq(0L, 1L))
    }
  }

  test("a manifest round-trips, expires after Retain, and a missing one fails loudly") {
    withTree { t =>
      (0 to FoldTree.Retain).foreach { i =>
        t.compactIfDue(spark, i.toLong); fold(t, i.toLong)
        val live = t.readSet()
        t.stamp(i.toLong)
        assert(t.pinned(i.toLong).sorted == live.sorted,
          s"snapshot $i must pin the live read set")
      }
      assert(t.snaps == (1L to FoldTree.Retain))
      assert(t.retained == Set("batch=0", "batch=1", "batch=2", "compact=2", "batch=3"))
      val ex = intercept[IllegalArgumentException](t.pinned(0L))
      assert(ex.getMessage.contains("snapshot 0 is not resolvable"))
      assert(ex.getMessage.contains(s"retained: ${t.snaps}"))
      val manifests = FoldTree(t.root.resolve("_manifests"), schema)
      assert(!onDisk(manifests).exists(_.startsWith("_tmp")),
        s"a manifest is renamed into place: ${onDisk(manifests)}")
    }
  }

  test("tierMerge leaves one compact=<maxId> dir and keeps the retained dirs") {
    withTree { t =>
      (0 until 5).foreach { i =>
        t.compactIfDue(spark, i.toLong); fold(t, i.toLong); t.stamp(i.toLong)
      }
      val spared = t.retained
      assert(names(t.readSet()) == Seq("compact=2", "batch=3", "batch=4"))
      t.tierMerge(spark)
      assert(names(t.readSet()) == Seq("compact=4"))
      assert(keys(t, t.readSet()) == (0L until 5L))
      assert(spared.subsetOf(onDisk(t)), s"retained dirs must stay: ${onDisk(t)}")
      assert(t.pinned(4L).forall(p => Files.isDirectory(Paths.get(p))))
      // one dir is within the fanout: nothing left to merge
      val before = onDisk(t)
      t.tierMerge(spark)
      assert(onDisk(t) == before)
    }
  }
}
