package graft.ord

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's five user-facing scrape modes
  * (`/root/reference/web_scrpaer_2.py:291-334,509-527`: all /
  * specific_datasets / uniform_range / custom_ranges / single_target)
  * re-expressed as a library query API over the ORD data. A user of the
  * reference's CLI switches to these calls one-for-one.
  *
  * Range semantics are the reference's exactly: 1-based, end-inclusive,
  * clamped (`web_scrpaer_2.py:283-286` for datasets, `425-429` for
  * reactions) — pinned by OrdApiSpec. Dataset order is the catalog's
  * (file, stored position) order; reaction order is stored arrival order
  * (`rx_pos`), both made explicit so results are deterministic.
  *
  * The golden corpus ships five files with OVERLAPPING dataset ids (the
  * same dataset appears in e.g. `_three` and the v2 file), so every mode
  * takes an optional corpus (file) scope.
  *
  * Each mode is one Spark job and [[saveFormatted]] two (pinned by
  * OrdApiJobBudgetSpec): the requests are small, so their cost is jobs
  * and planning, not bytes.
  */
class OrdApi private[graft] (nested: SparkSession => String) {

  /** The nested rows of the parquet at `nested`, scoped to one file when
    * asked. The declared schema spares the footer-reading job that
    * schema inference runs on every read. */
  private def datasets(s: SparkSession, corpus: Option[String]): DataFrame = {
    val all = s.read.schema(OrdApi.schema).parquet(nested(s))
    corpus.fold(all)(f => all.where(col("file") === f))
  }

  /** One row per reaction, with positional metadata for range slicing.
    * Dataset position follows CATALOG order on both axes: files in
    * their `OrdFixtures.files` declaration order (NOT an alphabetical
    * re-sort of names, which would put `_single` before `_three`/`_two`
    * and silently renumber everything) and, within a file, the stored
    * key order (the reference's scrape-arrival order, `ds_pos` in the
    * model). When a corpus scope is given, numbering is WITHIN that
    * corpus — "dataset 2 of file X", which is what a range over a
    * scoped catalog means.
    *
    * Only the three reaction leaves the modes return are read (nested
    * pruning through `arrays_zip`), and reactions are exploded after
    * numbering, so an empty dataset still takes its catalog number.
    * `coalesce(1)` costs nothing: a window without `partitionBy` already
    * numbers every row in one task, and the single partition now reaches
    * it without an exchange — and satisfies each mode's global `orderBy`
    * without one — so a request is one job. */
  private def catalog(s: SparkSession, corpus: Option[String]): DataFrame = {
    val fileIdx = element_at(
      typedlit(OrdFixtures.files.zipWithIndex.toMap), col("file"))
    datasets(s, corpus)
      .select(col("file"), col("dataset_id"), col("ds_pos"),
        arrays_zip(col("reactions.rx_pos"), col("reactions.reaction_id"),
          col("reactions.success")).as("rx"))
      .coalesce(1)
      .withColumn("ds_pos", // 1-based over (catalog file order, stored order)
        row_number().over(Window.orderBy(fileIdx, col("ds_pos"))))
      .select(col("file"), col("dataset_id"), col("ds_pos"),
        explode(col("rx")).as("rx"))
      .select(col("file"), col("dataset_id"), col("ds_pos"),
        (col("rx.rx_pos") + 1).as("rx_pos1"), // 1-based like the reference's UI
        col("rx.reaction_id").as("reaction_id"),
        col("rx.success").as("success"))
  }

  /** Mode 1: everything (within the corpus, numbered within it). */
  def allReactions(s: SparkSession, corpus: Option[String] = None): DataFrame =
    catalog(s, corpus).orderBy("ds_pos", "rx_pos1")

  /** Mode 2: specific datasets by id (web_scrpaer_2.py:301-311). */
  def specificDatasets(
      s: SparkSession, ids: Seq[String],
      corpus: Option[String] = None): DataFrame =
    catalog(s, corpus).where(col("dataset_id").isin(ids: _*))
      .orderBy("ds_pos", "rx_pos1")

  /** Mode 3: uniform range — datasets [dsStart, dsEnd] and, within each,
    * reactions [rxStart, rxEnd]; 1-based, end-inclusive, clamped. With a
    * corpus scope the dataset index counts within that corpus. */
  def uniformRange(
      s: SparkSession, dsStart: Int, dsEnd: Int,
      rxStart: Int, rxEnd: Int, corpus: Option[String] = None): DataFrame =
    catalog(s, corpus)
      .where(col("ds_pos").between(math.max(dsStart, 1), dsEnd) &&
        col("rx_pos1").between(math.max(rxStart, 1), rxEnd))
      .orderBy("ds_pos", "rx_pos1")

  /** Mode 4: per-dataset custom ranges (web_scrpaer_2.py:313-326). Each
    * dataset's bounds come from a literal map; an id absent from it
    * gets null bounds and no rows. */
  def customRanges(
      s: SparkSession, ranges: Map[String, (Int, Int)],
      corpus: Option[String] = None): DataFrame = {
    val bounds = element_at(
      typedlit(ranges.map { case (id, (a, b)) => id -> (math.max(a, 1), b) }),
      col("dataset_id"))
    catalog(s, corpus)
      .where(col("rx_pos1").between(bounds("_1"), bounds("_2")))
      .orderBy("ds_pos", "rx_pos1")
  }

  /** Mode 5: single target (degenerate ranges, web_scrpaer_2.py:517-527). */
  def singleTarget(
      s: SparkSession, datasetId: String, rxIndex: Int,
      corpus: Option[String] = None): DataFrame =
    catalog(s, corpus)
      .where(col("dataset_id") === datasetId && col("rx_pos1") === rxIndex)
      .orderBy("ds_pos", "rx_pos1")

  /** The reference's SAVE step (`json.dump(data, f, indent=2,
    * ensure_ascii=False)`, web_scrpaer_2.py:545-548): write the selected
    * datasets as one formatted-data JSON document, byte-compatible with
    * the golden files (OrdJson pins layout, escaping, float lexemes, and
    * the stored dataset order).
    *
    * Driver-side by design: this is where a curated, already-small
    * result leaves the cluster — the reference's output files are ≤650 KB.
    * Bulk exports belong to the distributed sink
    * (OrdPipeline.ordS6Sink / DataFrameWriter). Two jobs: the row-cap
    * guard, then the collect; datasets are put in (file, ds_pos) order
    * on the driver, which the guard has already bounded. */
  def saveFormatted(
      s: SparkSession, path: String,
      corpus: Option[String] = None, ids: Seq[String] = Nil): Unit = {
    import s.implicits._
    val scoped = datasets(s, corpus)
    val df =
      if (ids.isEmpty) scoped else scoped.where(col("dataset_id").isin(ids: _*))
    // this sink collect()s to the driver by design (single pretty-printed
    // golden file); pointing it at an amplified fixture must fail fast
    // with a clear message, not OOM the driver. Per-partition sums folded
    // on the driver: one job, no exchange, and only `rx_pos` is read.
    val totalRx = df
      .select(coalesce(size(col("reactions.rx_pos")), lit(0)).cast("long"))
      .as[Long].rdd.fold(0L)(_ + _)
    val cap = OrdApi.saveMaxRows
    if (totalRx > cap)
      throw new IllegalArgumentException(
        s"saveFormatted: selection has $totalRx reactions, above the " +
          s"driver-side cap of $cap (this sink collects to the " +
          "driver for a single formatted JSON file). Narrow the selection " +
          "with corpus/ids, raise -Dgraft.ord.saveMaxRows if the driver " +
          "heap allows, or use the distributed sink (OrdPipeline.ordS6Sink).")
    val selected = df.as[OrdDataset].collect().toSeq.sortBy(d => (d.file, d.ds_pos))
    // the output document is a map keyed by dataset_id — the same id from
    // two source files cannot be represented (renderFile would silently
    // keep only the last); fail loudly instead of losing data
    val dupes = selected.groupBy(_.dataset_id).filter(_._2.size > 1)
    if (dupes.nonEmpty)
      throw new IllegalArgumentException(
        "saveFormatted: dataset_id(s) appear in multiple source files and " +
          s"would collide in one JSON document: ${dupes.keys.mkString(", ")} — " +
          "scope with corpus=Some(file) or disjoint ids")
    OrdJson.writeFile(path, selected)
  }
}

/** The API over the golden-derived fixture (`OrdFixtures.nestedPath`),
  * which the first request of a process stages. */
object OrdApi extends OrdApi(s => {
  OrdFixtures.ensure(s)
  OrdFixtures.nestedPath
}) {

  private val schema: StructType = Encoders.product[OrdDataset].schema

  /** The same modes and SAVE step over any nested parquet with the
    * fixture's schema, read as it is (nothing staged). */
  private[graft] def over(nestedPath: String): OrdApi = new OrdApi(_ => nestedPath)

  /** Driver-materialization guard for [[saveFormatted]]: max reaction
    * rows it will `collect()`. Overridable via `-Dgraft.ord.saveMaxRows=N`
    * for a host that KNOWS its driver heap; the default comfortably
    * covers the golden corpus (~200 reactions) with 3 orders of margin. */
  private[ord] def saveMaxRows: Long =
    sys.props.get("graft.ord.saveMaxRows")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(200_000L)
}
