package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot manifests over the incremental fold layout — the ACID half
  * the `batch=<id>` / `compact=<id>` protocol was missing.
  *
  * The fold protocol (EventStreams.foldDirsToRead) gives every reader
  * the CURRENT truth: latest compact + live batch dirs, crash-safe via
  * atomic rename. What it cannot give is a CONSISTENT PAST read — the
  * moment compaction's cleanup deletes a covered `batch=` dir, any
  * reader pinned to the pre-compaction file set breaks, and "what did
  * the fold say as of batch k" is unanswerable. Production table
  * formats (Delta/Iceberg) solve exactly this with manifest files: an
  * atomically-renamed, immutable snapshot descriptor naming the data
  * files that constitute version k, plus a retention window inside
  * which old versions stay resolvable. This object is that protocol
  * applied to the fold dirs:
  *
  *  - after every micro-batch fold, `snap-<id>.json` records the live
  *    dir NAMES (relative — the layout stays relocatable) via
  *    tmp + ATOMIC_MOVE, so a manifest is either absent or complete;
  *  - compaction proceeds exactly as before (the merged `compact=`
  *    dir IS the current read set), but covered dirs referenced by a
  *    RETAINED manifest are spared from cleanup
  *    (EventStreams.maybeCompactFolds' `spare`), so a pinned
  *    `readAtSnapshot` keeps resolving;
  *  - manifests older than the [[Retain]] window expire when the next
  *    one is written; the dirs only they referenced stop being spared
  *    and fall to the next compaction's cleanup — retention bounds the
  *    extra storage at O(Retain) batch dirs, never O(history).
  *
  * 100 TB path: a manifest is O(live dirs) bytes of metadata — list
  * one file instead of listing the directory, which also removes the
  * list-vs-cleanup race on eventually-consistent object stores; the
  * spared-dir overhead is bounded by the retention window while data
  * volume lives in the same compacted parquet the plain protocol
  * writes. Reference scope note: the reference has no refresh surface
  * at all; this extends the e63s fold (SURVEY §2.10) with the
  * time-travel/isolation semantics a production lakehouse table has.
  */
object SnapshotFolds {

  /** Snapshots that must stay readable — dirs they reference are
    * spared from compaction cleanup until their manifest expires. */
  val Retain = 3

  /** The declared read-back snapshot for [[e72SnapshotRead]]: batch 2
    * of the 4-bucket drain — a PAST version (batch 3 and the final
    * compaction land after it), so the declared rows prove the pinned
    * read survives both a later write and a later compaction. */
  val DeclaredSnap = 2L

  private def manifestDir(root: Path): Path = root.resolve("_manifests")

  private def manifestPath(root: Path, snap: Long): Path =
    manifestDir(root).resolve(s"snap-$snap.json")

  /** Write `snap-<id>.json` naming the CURRENT live read set (relative
    * dir names, sorted). tmp + ATOMIC_MOVE: a manifest is never
    * observable half-written. Expires manifests ≤ id − [[Retain]]. */
  private[graft] def writeManifest(root: Path, snap: Long): Unit = {
    val dirs = EventStreams.foldDirsToRead(root)
      .map(p => Paths.get(p).getFileName.toString).sorted
    val json =
      s"""{"snap":$snap,"dirs":[${dirs.map("\"" + _ + "\"").mkString(",")}]}"""
    Files.createDirectories(manifestDir(root))
    val tmp = manifestDir(root).resolve(s"_tmp-snap-$snap")
    Files.write(tmp, json.getBytes(UTF_8))
    Files.move(tmp, manifestPath(root, snap), StandardCopyOption.ATOMIC_MOVE)
    listSnaps(root).filter(_ <= snap - Retain)
      .foreach(old => Files.deleteIfExists(manifestPath(root, old)))
  }

  private[graft] def listSnaps(root: Path): Seq[Long] = {
    val md = manifestDir(root)
    if (!Files.isDirectory(md)) Nil
    else {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(md)) { st =>
        st.iterator().asScala.toList.flatMap { p =>
          val n = p.getFileName.toString
          if (n.startsWith("snap-") && n.endsWith(".json"))
            scala.util.Try(n.stripPrefix("snap-").stripSuffix(".json").toLong)
              .toOption
          else None
        }.sorted
      }
    }
  }

  /** The dir names snapshot `snap` pinned. Parsing is by construction
    * (we wrote the JSON above); a missing manifest — expired or never
    * written — fails loudly with the available range. */
  private[graft] def readManifest(root: Path, snap: Long): Seq[String] = {
    val p = manifestPath(root, snap)
    require(Files.exists(p),
      s"snapshot $snap is not resolvable (retained: ${listSnaps(root)})")
    val json = new String(Files.readAllBytes(p), UTF_8)
    val dirs = json.split("\"dirs\":\\[", 2)(1).takeWhile(_ != ']')
    if (dirs.isEmpty) Nil
    else dirs.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
  }

  /** The CURRENT read set of a fold tree — [[EventStreams.foldDirsToRead]],
    * empty while the tree does not exist yet (a probe before the first
    * batch, or a tree its lifecycle never wrote). With [[pinnedDirs]],
    * the one pair of read sets every fold-layout probe takes. */
  private[graft] def liveDirs(root: Path): Seq[String] =
    if (Files.isDirectory(root)) EventStreams.foldDirsToRead(root) else Nil

  /** The read set snapshot `snap` pinned, as paths under `root` (fails
    * loudly when the manifest expired — [[readManifest]]). */
  private[graft] def pinnedDirs(root: Path, snap: Long): Seq[String] =
    readManifest(root, snap).map(root.resolve(_).toString)

  /** Every dir name a RETAINED manifest references — the compaction
    * cleanup's spare set. */
  private[graft] def retainedRefs(root: Path): Set[String] =
    listSnaps(root).flatMap(readManifest(root, _)).toSet

  /** Read the fold content AS OF snapshot `snap`: union the pinned
    * dirs, re-merge to the fold grain. Bit-equal to a one-shot fold of
    * the batch prefix ≤ snap (spec-pinned), regardless of any
    * compaction or later batch that landed since. */
  private[graft] def readAtSnapshot(s: SparkSession, root: Path,
      snap: Long): DataFrame =
    EventStreams.e63sMerge(s.read.parquet(pinnedDirs(root, snap): _*))

  /** The e63s drain with manifests: identical fold + compaction calls,
    * plus one manifest write per batch (after its fold lands — the
    * manifest names only durable dirs) and retention-aware cleanup. */
  private[graft] def e72Drain(s: SparkSession, dir: String,
      work: Path): Unit =
    Drain.manifested(s, EventStreams.postBoundaryDelta(s, dir), work,
        Seq(Drain.Tree("partials", EventStreams.partialsSchema)),
        EventStreams.e63sMerge) {
      EventStreams.e63sFoldBatch(_, _, work)
    }

  /** E72: READ-AT-SNAPSHOT over the manifested fold. Drains the
    * 4-bucket post-boundary delta (batches 0..3; the batch-3 step also
    * compacts batches 0..2 away from the CURRENT read set), then reads
    * AT [[DeclaredSnap]] — a version two writes and one compaction in
    * the past — and returns e63's rollup of state ∪ that pinned
    * prefix. The declared rows therefore ARE the time-travel claim:
    * they reproduce the fold's batch-2 truth from a layout whose
    * current truth has moved on. Oracle: the full recompute over
    * events in the pre-boundary state plus the first 3 of 4
    * deterministic time-range buckets. */
  def e72SnapshotRead(s: SparkSession, dir: String): DataFrame = {
    graft.ops.EventOps.e63Ensure(s, dir)
    val work = graft.util.PathKeys.fixturePath("stream-e72", dir, "-4")
    // fresh fold per invocation (the e6s stance): a leftover checkpoint
    // would resume a finished stream and fold nothing
    DocStreams.deleteTree(work)
    StreamTune.withDrainWidthFrom(s,
      Paths.get(dir, "events.parquet")) { e72Drain(s, dir, work) }
    val state = s.read.parquet(graft.ops.EventOps.e63StateDir(dir))
    graft.ops.EventOps.e63Rollup(
        state.unionByName(readAtSnapshot(s, work.resolve("partials"), DeclaredSnap)))
      .withColumn("snapshot_id", lit(DeclaredSnap))
  }
}
