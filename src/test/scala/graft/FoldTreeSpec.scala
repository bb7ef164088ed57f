package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
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

  /** A tree of the text index's row shape: long, int and string columns. */
  private val rowSchema = StructType(Seq(StructField("k", LongType),
    StructField("n", IntegerType), StructField("term", StringType)))

  private def withRowTree(body: FoldTree => Unit): Unit = {
    val root = Files.createTempDirectory("graft-foldtree")
    try body(FoldTree(root.resolve("t"), rowSchema))
    finally graft.util.Staged.deleteTree(root)
  }

  private def rowsOf(t: FoldTree, dirs: Seq[String]): Set[Row] =
    t.read(spark, dirs).collect().toSet

  test("driver-row writes read back with the tree's schema") {
    withRowTree { t =>
      val rows = Seq(Row(3L, 7, "graft"), Row(-1L, 0, null), Row(9L, 2, "é"))
      t.writeBatch(spark, 0L, rows)
      assert(names(t.readSet()) == Seq("batch=0"))
      assert(spark.read.parquet(t.batch(0L).toString).schema == rowSchema,
        "the footer must carry the tree's schema")
      assert(rowsOf(t, t.readSet()) == rows.toSet)
      t.writeBatch(spark, 1L, Nil)
      assert(names(t.readSet()) == Seq("batch=0", "batch=1"))
      assert(rowsOf(t, t.readSet()) == rows.toSet, "an empty batch adds no row")
    }
  }

  test("a replayed batch id replaces its dir, with no duplicate rows") {
    withRowTree { t =>
      t.writeBatch(spark, 2L, Seq(Row(1L, 1, "a"), Row(2L, 1, "b")))
      t.writeBatch(spark, 2L, Seq(Row(1L, 1, "a")))
      assert(t.read(spark, t.readSet()).count() == 1)
      assert(rowsOf(t, t.readSet()) == Set(Row(1L, 1, "a")))
    }
  }

  test("a leftover _tmp- dir never enters readSet() or a manifest") {
    withRowTree { t =>
      t.writeBatch(spark, 0L, Seq(Row(1L, 1, "a")))
      // a write that crashed before its rename
      val tmp = t.root.resolve("_tmp-" + t.batch(1L).getFileName)
      Files.createDirectories(tmp)
      val part = scala.util.Using.resource(Files.list(t.batch(0L)))(
        _.filter(_.toString.endsWith(".parquet")).findFirst().get)
      Files.copy(part, tmp.resolve("part-00000.parquet"))
      assert(onDisk(t).contains(tmp.getFileName.toString))
      assert(names(t.readSet()) == Seq("batch=0"))
      t.stamp(0L)
      assert(names(t.pinned(0L)) == Seq("batch=0"))
      // the replayed write clears it and lands the batch whole
      t.writeBatch(spark, 1L, Seq(Row(2L, 1, "b")))
      assert(!Files.exists(tmp))
      assert(names(t.readSet()) == Seq("batch=0", "batch=1"))
    }
  }

  test("a dir's footer range equals its rows' min/max") {
    withRowTree { t =>
      t.writeBatch(spark, 0L, Seq(Row(42L, 1, "a"), Row(-7L, 1, "b"), Row(13L, 1, "c")))
      assert(FoldTree.keyRange(spark, t.batch(0L).toString, "k") == Some((-7L, 42L)))
      // a Spark-written dir of several files: the range spans them all
      import spark.implicits._
      val dir = t.root.resolve("spark-written").toString
      Seq(5L, 900L, 17L, 64L).toDF("k").repartition(3).write.parquet(dir)
      assert(FoldTree.keyRange(spark, dir, "k") == Some((5L, 900L)))
      // a dir without rows has the empty range: no key lies inside it
      t.writeBatch(spark, 1L, Nil)
      FoldTree.keyRange(spark, t.batch(1L).toString, "k") match {
        case Some((lo, hi)) => assert(lo > hi, s"expected the empty range: [$lo, $hi]")
        case None => fail("an empty dir is known to hold no key")
      }
    }
  }

  test("a file without statistics gives unknown") {
    withRowTree { t =>
      val dir = t.root.resolve("no-stats")
      val msg = org.apache.parquet.schema.Types.buildMessage()
        .optional(org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
        .named("k").named("spark_schema")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(dir.resolve("part-00000.parquet").toUri))
        .withType(msg).withStatisticsEnabled(false).build()
      try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
        .newGroup().append("k", 5L))
      finally w.close()
      assert(spark.read.parquet(dir.toString).count() == 1)
      assert(FoldTree.keyRange(spark, dir.toString, "k").isEmpty)
      // so does a column the footer does not carry, and a missing dir
      t.writeBatch(spark, 0L, Seq(Row(1L, 1, "a")))
      assert(FoldTree.keyRange(spark, t.batch(0L).toString, "doc_id").isEmpty)
      assert(FoldTree.keyRange(spark, t.root.resolve("absent").toString, "k").isEmpty)
    }
  }
}
