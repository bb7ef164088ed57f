package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.util.{Jobs, PathKeys, Staged}

/** The ONE micro-batch drain lifecycle every drained stream runs:
  * start → drain everything available → record busy time → stop.
  * Drained declared keys replay a bounded landing, so "everything
  * available" is the whole replay; the stop runs on every exit path.
  *
  * On top of the runner sit the two drain shapes the suite uses:
  *
  *  - [[foreachBatch]] — per-batch folds into a work dir whose
  *    checkpoint lives at `work/ckpt` (restart-safe: the checkpoint owns
  *    offsets, the fold's `batch=<id>` overwrite owns idempotence);
  *  - [[manifested]] — the index/snapshot lifecycle over
  *    [[FoldTree]]s: per batch, compact every tree (dirs a retained
  *    snapshot manifest references are spared), fold, then stamp a
  *    manifest of each tree's live read set.
  *    The lexical, vector and e72 lifecycles differ only in their fold
  *    functions and probes. */
object Drain {

  /** Start `writer`, drain all available input, add the query's busy
    * time to [[StreamBusy]], and stop it. */
  def run(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.start()
    try {
      q.processAllAvailable()
      StreamBusy.addQuery(q) // busy-vs-wall split for the bench
    } finally q.stop()
  }

  /** Drain `stream` through `fold` with its checkpoint at `work/ckpt`. */
  def foreachBatch(stream: DataFrame, work: Path)(
      fold: (DataFrame, Long) => Unit): Unit =
    run(stream.writeStream.foreachBatch(fold)
      .option("checkpointLocation", work.resolve("ckpt").toString))

  /** The manifested-fold drain: every batch compacts each tree (via
    * `merge`; concatenation for keyed-set trees), runs `fold`, then
    * stamps each tree's snapshot manifest — after the fold, so a
    * manifest names only durable dirs. */
  def manifested(s: SparkSession, stream: DataFrame, work: Path,
      trees: Seq[FoldTree], merge: DataFrame => DataFrame = identity)(
      fold: (DataFrame, Long) => Unit): Unit = {
    foreachBatch(stream, work) { (df, id) =>
      Jobs.labeled(s, s"batch $id: compaction") {
        trees.foreach(_.compactIfDue(s, id, merge))
      }
      fold(df, id)
      trees.foreach(_.stamp(id))
    }
  }

  /** A staged landing — the path [[Staged.landing]] returned
    * — and the row schema its parts carry. */
  final case class Landing(path: Path, schema: StructType) {

    /** The file-source replay: one landing part per micro-batch. */
    def stream(s: SparkSession): DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(path.toString)
  }

  /** [[manifested]] over a staged landing, with the bounded-batch guard
    * ([[StreamTune.boundedLanding]]) decided from the STAGED bytes —
    * a `Landing` exists only once staging ran, so the guard can never
    * read a missing or about-to-be-replaced landing. `fold` receives
    * the verdict. */
  def manifestedLanding(s: SparkSession, landing: Landing, work: Path,
      trees: Seq[FoldTree], maxBytes: Long = StreamTune.BoundedLandingBytes)(
      fold: (DataFrame, Long, Boolean) => Unit): Unit = {
    val bounded = StreamTune.boundedLanding(landing.path, maxBytes)
    manifested(s, landing.stream(s), work, trees)(fold(_, _, bounded))
  }

  /** The staged landing or drain work dir of `kind` over `dir`. */
  private def fixture(kind: String, dir: String): Path =
    PathKeys.fixturePath(kind, dir, "-4")

  /** A fresh drain work dir of `kind` over `dir` — emptied first, since
    * a leftover checkpoint would resume a finished stream and fold
    * nothing (every declared drain key runs fresh per invocation). */
  def freshWork(kind: String, dir: String): Path = {
    val work = fixture(kind, dir)
    Staged.deleteTree(work)
    work
  }

  /** Arrival buckets of an index landing: four contiguous key ranges. */
  private val ArrivalParts = 4

  /** The ONE landing shape of the text and vector index lifecycles,
    * staged under [[Staged.landing]] with signature `tag` over `src`:
    * parts 0..3 are the arrivals (`key` < `bound`, four contiguous
    * ranges of `src`); with a `changes` relation (built from the same
    * raw read) parts 4 and 5 are its records split at key 24, so the
    * change records land as two micro-batches and a snapshot can pin
    * between them. */
  private[graft] def indexLanding(s: SparkSession, kind: String, dir: String,
      src: Path, schema: StructType, key: String, bound: Long, tag: String,
      prefix: String, changes: Option[DataFrame => DataFrame] = None): Landing = {
    val parts = ArrivalParts + (if (changes.isEmpty) 0 else 2)
    Landing(Jobs.labeled(s, "landing staging")(Staged.landing(fixture(kind, dir),
        Staged.sourceSig(src, tag), Staged.partNames(prefix, parts)) {
      val raw = s.read.schema(schema).parquet(src.toString)
      val arrivals = (0 until ArrivalParts).map(i =>
        raw.where(Staged.rangePart(col(key), 0L, bound, i, ArrivalParts)))
      val changed = changes.toSeq.flatMap { f =>
        val c = f(raw)
        Seq(c.where(col(key) < 24), c.where(col(key) >= 24))
      }
      arrivals ++ changed
    }), schema)
  }
}
