package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

import graft.util.Staged.deleteTree

/** ONE FOLD TREE — the storage protocol every incremental layout runs
  * (the e6s ingest index, the e63s/e61s/e72 refresh folds, the text and
  * vector index lifecycles), owned here alone:
  *
  *  - each micro-batch writes its own [[batch]] dir with overwrite
  *    semantics, so a batch replayed inside the at-least-once window
  *    rewrites its own fold instead of duplicating it — idempotence by
  *    layout, no transactional sink;
  *  - [[compactIfDue]] merges the pending batch dirs strictly before the
  *    current batch into one `compact=<c>` dir through tmp + atomic
  *    rename (a reader never sees a partially written compact dir), so
  *    listings stay O([[FoldTree.CompactEvery]]) instead of O(batches). A
  *    compact dir covers every batch ≤ c: covered dirs are deleted only
  *    after the rename, and [[readSet]]'s `> c` filter already excludes
  *    them if a crash lands in between — or if a replayed OLD batch
  *    recreates its dir after compaction — so a half-finished cleanup
  *    can never double-count;
  *  - [[tierMerge]] collapses the whole live read set into one dir when
  *    it exceeds [[FoldTree.TierFanout]] — Lucene's tiered policy, valid
  *    for trees whose rows are a keyed SET (concatenation is the
  *    re-merge);
  *  - snapshot manifests ([[stamp]] / [[pinned]]) give a CONSISTENT PAST
  *    read, the Delta/Iceberg discipline: `snap-<id>.json` names the
  *    live dirs (relative, so the layout stays relocatable), written via
  *    tmp + atomic rename so a manifest is either absent or complete.
  *    Dirs a [[retained]] manifest references are spared by both merges'
  *    cleanup, so a pinned read keeps resolving; manifests older than
  *    [[FoldTree.Retain]] expire when the next one is stamped, which
  *    bounds the spared storage at O(Retain) dirs, never O(history).
  *
  * Every read of the tree carries its statically known row `schema`
  * (the writers'), never footer inference. A batch whose rows are
  * already on the driver writes its dir through [[writeBatch]] — one
  * parquet file, no Spark job — under the same overwrite contract.
  *
  * 100 TB path: the compact dir is an index table (bucketed by the
  * tree's key) behind a metadata commit; a manifest is O(live dirs)
  * bytes, and listing one file instead of the directory removes the
  * list-vs-cleanup race on eventually consistent object stores. */
final case class FoldTree(root: Path, schema: StructType) {
  import FoldTree._

  /** The dir batch `id` writes. */
  def batch(id: Long): Path = root.resolve(s"batch=$id")

  private def listing(): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else scala.util.Using.resource(Files.list(root))(_.iterator().asScala.toList)

  private def coveringCompact(dirs: Seq[Path]): Long =
    dirs.flatMap(idOf(_, Compact)).maxOption.getOrElse(-1L)

  /** The dirs a read takes: the latest `compact=<c>` first, then the
    * `batch=<b>` dirs with c < b < `before`, string-sorted. The live read
    * set is `readSet()`; a probe that must never see its own batch `id`
    * (or anything after it) takes `readSet(before = id)`. Empty while
    * the tree does not exist yet. */
  def readSet(before: Long = Long.MaxValue): Seq[String] = {
    val dirs = listing()
    val c = coveringCompact(dirs)
    (if (c < 0) Nil else Seq(root.resolve(s"compact=$c").toString)) ++
      dirs.filter(idOf(_, Batch).exists(b => b > c && b < before))
        .map(_.toString).sorted
  }

  /** Write driver `rows` (fields in the tree schema's order) as batch
    * `id`'s dir: one parquet file written on the driver through
    * parquet-hadoop — no Spark job — into `_tmp-batch=<id>`, then
    * renamed into place, so a reader never sees a partial dir and a
    * replayed id replaces its dir. A leftover tmp dir is neither a
    * batch nor a compact dir, so no read set or manifest names it. */
  def writeBatch(s: SparkSession, id: Long, rows: Seq[Row]): Unit = {
    val tmp = root.resolve(s"_tmp-batch=$id")
    deleteTree(tmp)
    writeParquet(s, schema, tmp.resolve("part-00000.snappy.parquet"), rows)
    val dst = batch(id)
    deleteTree(dst)
    Files.move(tmp, dst, ATOMIC_MOVE)
  }

  /** `dirs` of this tree as one relation, read with the tree's schema;
    * no dirs read as the empty relation. */
  def read(s: SparkSession, dirs: Seq[String]): DataFrame =
    FoldTree.read(s, schema, dirs)

  /** Cadence compaction at the entry of batch `id`: when at least
    * [[FoldTree.CompactEvery]] batch dirs before `id` are pending, merge
    * them (with the latest compact dir) through `merge` — the key's own
    * re-merge, so compaction is the operation the result read runs and
    * can never change the answer — into `compact=<id−1>`. A replayed
    * batch finds nothing pending and skips. */
  def compactIfDue(s: SparkSession, id: Long,
      merge: DataFrame => DataFrame = identity): Unit = {
    val dirs = listing()
    val c = coveringCompact(dirs)
    if (dirs.count(idOf(_, Batch).exists(b => b > c && b < id)) >= CompactEvery) {
      commit(merge(read(s, readSet(before = id))), id - 1)
      cleanup(id - 1)
    } else if (c >= 0) cleanup(c)
  }

  /** The tier merge: when the live read set exceeds
    * [[FoldTree.TierFanout]] dirs, collapse ALL of it — the newest batch
    * too, which the cadence rule never covers — into one
    * `compact=<maxId>` dir. */
  def tierMerge(s: SparkSession): Unit = {
    val dirs = readSet()
    if (dirs.size <= TierFanout) return
    val maxId = dirs.flatMap(p => idOf(Paths.get(p), Batch)
      .orElse(idOf(Paths.get(p), Compact))).max
    val keep = retained + s"compact=$maxId"
    commit(read(s, dirs), maxId)
    dirs.map(Paths.get(_)).filterNot(p => keep(p.getFileName.toString))
      .foreach(deleteTree)
  }

  /** Write `df` to `compact=<c>` through a tmp dir and an atomic rename. */
  private def commit(df: DataFrame, c: Long): Unit = {
    val tmp = root.resolve("_tmp-compact")
    deleteTree(tmp)
    df.write.mode("overwrite").parquet(tmp.toString)
    val dst = root.resolve(s"compact=$c")
    deleteTree(dst)
    Files.move(tmp, dst, ATOMIC_MOVE)
  }

  /** Delete the dirs `compact=<c>` covers — a crashed earlier cleanup's
    * leftovers included — except those a retained manifest references. */
  private def cleanup(c: Long): Unit = {
    val spare = retained
    listing().filter(p => idOf(p, Batch).exists(_ <= c) ||
        idOf(p, Compact).exists(_ < c))
      .filterNot(p => spare(p.getFileName.toString))
      .foreach(deleteTree)
  }

  private def manifests: Path = root.resolve("_manifests")

  private def manifest(snap: Long): Path = manifests.resolve(s"snap-$snap.json")

  /** Stamp `snap-<snap>.json` naming the live read set (after the
    * batch's fold, so it names only durable dirs), and expire manifests
    * ≤ snap − [[FoldTree.Retain]]. */
  def stamp(snap: Long): Unit = {
    val names = readSet().map(Paths.get(_).getFileName.toString).sorted
      .map("\"" + _ + "\"").mkString(",")
    Files.createDirectories(manifests)
    val tmp = manifests.resolve(s"_tmp-snap-$snap")
    Files.write(tmp, s"""{"snap":$snap,"dirs":[$names]}""".getBytes(UTF_8))
    Files.move(tmp, manifest(snap), ATOMIC_MOVE)
    snaps.filter(_ <= snap - Retain).foreach(old => Files.deleteIfExists(manifest(old)))
  }

  /** The snapshots whose manifests are retained, ascending. */
  private[graft] def snaps: Seq[Long] =
    if (!Files.isDirectory(manifests)) Nil
    else scala.util.Using.resource(Files.list(manifests)) { st =>
      st.iterator().asScala.toList.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("snap-") && n.endsWith(".json"))
          n.stripPrefix("snap-").stripSuffix(".json").toLongOption
        else None
      }.sorted
    }

  /** The dir names snapshot `snap` pinned. Parsing is by construction
    * ([[stamp]] wrote the JSON); a missing manifest — expired or never
    * stamped — fails loudly with the retained range. */
  private def names(snap: Long): Seq[String] = {
    val p = manifest(snap)
    require(Files.exists(p), s"snapshot $snap is not resolvable (retained: $snaps)")
    val dirs = new String(Files.readAllBytes(p), UTF_8)
      .split("\"dirs\":\\[", 2)(1).takeWhile(_ != ']')
    if (dirs.isEmpty) Nil
    else dirs.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
  }

  /** The read set snapshot `snap` pinned, as paths under the root. */
  def pinned(snap: Long): Seq[String] = names(snap).map(root.resolve(_).toString)

  /** Every dir name a retained manifest references. */
  def retained: Set[String] = snaps.flatMap(names).toSet
}

object FoldTree {

  /** Pending batch dirs that trigger a cadence compaction — small enough
    * that the declared 4-bucket drains exercise the compaction path. */
  val CompactEvery = 3

  /** Read-set size above which [[FoldTree.tierMerge]] collapses a tree:
    * probe cost grows with segment count (every segment pays its own
    * listing, filter and stats-merge term), so segments merge into ONE
    * larger segment long before anything touches the base layout. */
  val TierFanout = 1

  /** Snapshots that stay readable — dirs they reference are spared from
    * cleanup until their manifest expires. */
  val Retain = 3

  /** Fold `dirs` read with their tree's row `schema` — the one fold
    * read, also for dir lists resolved outside a tree's root. */
  def read(s: SparkSession, schema: StructType, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else s.read.schema(schema).parquet(dirs: _*)

  /** The `[min, max]` of the long column `key` over the parquet files of
    * `dir`, from their footer statistics — no Spark job. `None` means
    * unknown: a missing dir, or a row group without statistics for
    * `key`. A dir without rows has the empty range (min > max). */
  def keyRange(s: SparkSession, dir: String, key: String): Option[(Long, Long)] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return None
    val files = scala.util.Using.resource(Files.list(d))(_.iterator().asScala.toList)
      .filter { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    val conf = s.sessionState.newHadoopConf()
    val groups = files.iterator.flatMap { f =>
      scala.util.Using.resource(ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(f.toUri), conf)))(_.getRowGroups.asScala.toList)
    }
    groups.foldLeft(Option((Long.MaxValue, Long.MinValue))) { (acc, g) =>
      acc.flatMap { case (lo, hi) =>
        g.getColumns.asScala.find(_.getPath.toDotString == key).map(_.getStatistics) match {
          case Some(st: LongStatistics) if st.hasNonNullValue =>
            Some((math.min(lo, st.getMin), math.max(hi, st.getMax)))
          case _ if g.getRowCount == 0 => acc
          case _ => None
        }
      }
    }
  }

  /** `rows` as one snappy parquet file at `file`, written on the driver;
    * every field optional, as Spark writes them. Long, int and string
    * columns — the fold trees' types. */
  private def writeParquet(s: SparkSession, schema: StructType, file: Path,
      rows: Seq[Row]): Unit = {
    val msg = new MessageType("spark_schema", schema.fields.toList.map[Type] { f =>
      f.dataType match {
        case LongType => Types.optional(PrimitiveTypeName.INT64).named(f.name)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32).named(f.name)
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case t => throw new IllegalArgumentException(s"no driver write for $t (${f.name})")
      }
    }.asJava)
    val conf = s.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new HPath(file.toUri), conf))
      .withType(msg).withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(msg)
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        schema(i).dataType match {
          case LongType => g.append(schema(i).name, r.getLong(i))
          case IntegerType => g.append(schema(i).name, r.getInt(i))
          case _ => g.append(schema(i).name, r.getString(i))
        }
      }
      w.write(g)
    } finally w.close()
  }

  private val Batch = "batch="
  private val Compact = "compact="

  private def idOf(p: Path, prefix: String): Option[Long] = {
    val n = p.getFileName.toString
    if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption else None
  }
}
