package graft.streaming

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E72, READ-AT-SNAPSHOT over a manifested fold: the e63s day-partials
  * drain with a snapshot manifest stamped per batch ([[FoldTree.stamp]]),
  * read back AS OF a past batch through [[FoldTree.pinned]]. The fold
  * protocol alone gives every reader the CURRENT truth; the manifests
  * keep "what did the fold say as of batch k" answerable after
  * compaction's cleanup, for [[FoldTree.Retain]] batches — the
  * time-travel/isolation semantics a production lakehouse table has.
  * Reference scope note: the reference has no refresh surface at all;
  * this extends the e63s fold (SURVEY §2.10).
  */
object SnapshotFolds {

  /** The declared read-back snapshot for [[e72SnapshotRead]]: batch 2
    * of the 4-bucket drain — a PAST version (batch 3 and the final
    * compaction land after it), so the declared rows prove the pinned
    * read survives both a later write and a later compaction. */
  val DeclaredSnap = 2L

  /** Read the fold content AS OF snapshot `snap`: union the pinned
    * dirs, re-merge to the fold grain. Bit-equal to a one-shot fold of
    * the batch prefix ≤ snap (spec-pinned), regardless of any
    * compaction or later batch that landed since. */
  private[graft] def readAtSnapshot(s: SparkSession, partials: FoldTree,
      snap: Long): DataFrame =
    EventStreams.e63sMerge(partials.read(s, partials.pinned(snap)))

  /** The e63s drain with manifests: identical fold + compaction calls,
    * plus one manifest write per batch (after its fold lands — the
    * manifest names only durable dirs) and retention-aware cleanup. */
  private[graft] def e72Drain(s: SparkSession, dir: String,
      work: Path): Unit =
    Drain.manifested(s, EventStreams.postBoundaryDelta(s, dir), work,
        Seq(EventStreams.partialsTree(work)),
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
    val work = Drain.freshWork("stream-e72", dir)
    StreamTune.withDrainWidthFrom(s,
      Paths.get(dir, "events.parquet")) { e72Drain(s, dir, work) }
    val state = s.read.parquet(graft.ops.EventOps.e63StateDir(dir))
    graft.ops.EventOps.e63Rollup(
        state.unionByName(readAtSnapshot(s, EventStreams.partialsTree(work),
          DeclaredSnap)))
      .withColumn("snapshot_id", lit(DeclaredSnap))
  }
}
