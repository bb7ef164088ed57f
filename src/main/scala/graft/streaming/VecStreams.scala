package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.SimOps
import graft.sources.IvfServe
import graft.util.{PathKeys, Staged}

/** INCREMENTAL MAINTENANCE of the trained IVF layout (r11 verdict ask
  * #3): e6s grows the LSH band index per micro-batch, but nothing
  * folded newly-arriving VECTORS into the ANN cell layout — a
  * production vector index must serve a vector soon after it lands,
  * without retraining or rewriting the base lists. The e6s/e63s
  * protocol applied to [[IvfServe]]'s layout:
  *
  *  - the BASE corpus (vec_id ≥ [[ArrivalBound]]) is trained and
  *    persisted ONCE under the `ensure` staleness contract — the
  *    coarse quantizer is then FROZEN (production IVF retrains on a
  *    cadence, not per insert; a frozen quantizer keeps every already
  *    -written list valid);
  *  - arrivals (vec_id < [[ArrivalBound]]) land as file-source
  *    micro-batches; each batch is assigned to its trained cell
  *    map-side (the same [[SimOps.bestCentroid]] fold the build used)
  *    and appended as its own `batch=<id>` fold dir — a replayed id
  *    OVERWRITES its own dir, so at-least-once delivery cannot
  *    duplicate a vector (idempotence by layout, the e63s claim);
  *  - accumulated fold dirs compact via [[FoldTree.compactIfDue]]
  *    with CONCATENATION as the re-merge (the fold rows are a set keyed
  *    by vec_id — compaction relocates, never re-aggregates), so probe
  *    listings stay O(FoldTree.CompactEvery) instead of O(batches);
  *  - a PROBE reads base lists (partition-pruned to the query cells)
  *    + the compacted folds (cell-filtered) — a vector arriving in
  *    batch N is visible to any probe after batch N (E2fStreamSpec).
  *
  * The declared key drains the arrival stream fresh (the e6s stance)
  * and probes: the DuckDB oracle replays base training (seeds
  * 16..79, one Lloyd recompute), assigns the WHOLE corpus — base and
  * arrivals alike — under the frozen centroids, and ranks the in-cell
  * top-3, so a fold that dropped, duplicated, or mis-assigned an
  * arriving vector is a hash miss.
  *
  * 100 TB path: per-batch work is one map-side assignment fold
  * (k×dim literal, no shuffle, no state store) + one bounded append;
  * the probe cost is the serve cost + O(folds-since-compaction); the
  * base is never rewritten. */
object VecStreams {

  /** vec_id < this arrive as the stream; the rest are the trained base. */
  val ArrivalBound = 16L

  private val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Row schemas of the fold trees: cell folds, every row stamped with
    * its batch id as `ver` ([[Versioned]]), and tombstones — every read
    * of a fold tree uses these, never footer inference. */
  private val foldSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("cell", IntegerType), StructField("ver", LongType)))
  private val tombSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("upto", LongType)))

  /** The vector index's fold trees under a drain's work dir: cell folds
    * and tombstones. */
  private[graft] def foldTree(work: java.nio.file.Path): FoldTree =
    FoldTree(work.resolve("folds"), foldSchema)
  private[graft] def tombTree(work: java.nio.file.Path): FoldTree =
    FoldTree(work.resolve("tombs"), tombSchema)

  /** The trees both drains manifest; the append drain's tombstone tree
    * stays empty and is stamped too, so a pinned probe resolves the
    * trees of either lifecycle the same way. */
  private def trees(work: java.nio.file.Path): Seq[FoldTree] =
    Seq(foldTree(work), tombTree(work))

  private[graft] def foldBaseDir(d: String): String =
    PathKeys.fixtureDir("embeddings_ivf_fold", d)

  private def embSrc(d: String): java.nio.file.Path =
    java.nio.file.Paths.get(d, "embeddings.parquet")

  /** One-time base build: train on vec_id ≥ [[ArrivalBound]] only —
    * the corpus that existed before the arrivals — and persist
    * centroids + base lists (the [[IvfServe]] build leg). */
  private[graft] def ensureFoldBase(s: SparkSession, d: String): Unit = {
    val root = foldBaseDir(d)
    // f4: PQ codes encode residuals
    Staged.ensure(java.nio.file.Paths.get(root), Staged.sourceSig(embSrc(d),
        s"f4:k=${IvfServe.K}:b=$ArrivalBound:")) {
      IvfServe.buildTrainedLayout(s, root,
        IvfServe.corpusView(s, d).where(col("vec_id") >= ArrivalBound))
    }
  }

  /** The three staged landings ([[Drain.indexLanding]]). The arrival
    * landing: vec_id < [[ArrivalBound]] in 4 contiguous-range buckets. */
  private[graft] def arrivalLanding(s: SparkSession, dir: String): Drain.Landing =
    landing(s, "stream-vecs-bucketed", dir, "", "vecs", None)

  private def landing(s: SparkSession, kind: String, dir: String, tag: String,
      prefix: String, changes: Option[DataFrame => DataFrame]): Drain.Landing =
    Drain.indexLanding(s, kind, dir, embSrc(dir), embSchema, "vec_id",
      ArrivalBound, tag, prefix, changes)

  /** One micro-batch fold: assign the batch under the FROZEN trained
    * centroids, write to its own overwrite dir stamped `ver = id` —
    * exposed so the restart spec can replay a duplicate id directly. */
  private[graft] def e2fFoldBatch(df: DataFrame, id: Long,
      cents: Seq[(Int, Seq[Double])], work: java.nio.file.Path): Unit =
    df.select(col("vec_id"), col("label"), col("embedding"),
        SimOps.bestCentroid(col("embedding").cast("array<double>"), cents)
          .getField("cid").as("cell"), lit(id).as("ver"))
      .write.mode("overwrite")
      .parquet(foldTree(work).batch(id).toString)

  /** The arrival drain. Concatenation is the re-merge: fold rows are a
    * vec_id-keyed set, so compaction relocates and never re-aggregates.
    * Every batch stamps a manifest of the live read set (r13 ask #5 —
    * the e72 discipline on the VECTOR folds): "probe the index as of
    * batch k" stays answerable after compaction for the retention
    * window, which is the reproducibility a training run needs when its
    * eval set was retrieved at a pinned index version. */
  private[graft] def e2fDrain(s: SparkSession, d: String,
      work: java.nio.file.Path): Unit =
    StreamTune.withDrainWidthFrom(s, embSrc(d)) {
      val cents = IvfServe.centroidsAt(s, foldBaseDir(d))
      Drain.manifested(s, arrivalLanding(s, d).stream(s), work, trees(work)) {
        e2fFoldBatch(_, _, cents, work)
      }
    }

  /** The probe's scored candidate relation (pre-top-k) over the current
    * read set of both trees — exposed so E2fStreamSpec can assert
    * ARRIVAL VISIBILITY exactly: a folded vector sharing a query's cell
    * must appear here after its batch lands (and not before), even when
    * it misses the top-3. A probe BEFORE the first batch reads
    * base-only: the trees do not exist yet, so their read sets are
    * empty. */
  private[graft] def candidates(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame =
    candidatesAtDirs(s, d, foldTree(work).readSet(), tombTree(work).readSet())

  /** [[candidates]] against the dirs the RETAINED `snap` manifests of
    * both trees pinned — a vector updated (or deleted) at batch k still
    * serves its OLD version at snapshots < k. */
  private[graft] def candidatesAtSnapshot(s: SparkSession, d: String,
      work: java.nio.file.Path, snap: Long): DataFrame =
    candidatesAtDirs(s, d, foldTree(work).pinned(snap), tombTree(work).pinned(snap))

  /** The candidates of the declared queries (nprobe-1 routing under the
    * fold base's frozen centroids) against EXPLICIT fold and tombstone
    * dir lists. */
  private[graft] def candidatesAtDirs(s: SparkSession, d: String,
      foldDirs: Seq[String], tombDirs: Seq[String]): DataFrame = {
    val root = foldBaseDir(d)
    val (q, cells) = routedQueriesAt(s, root, d)
    scoredAtDirs(s, root, foldDirs, tombDirs, q, cells)
  }

  /** The nprobe-1 query routing under `root`'s centroids — ONE
    * definition for the live probe and the snapshot probe (a routing
    * change applied to one but not the other would silently diverge
    * the pinned read from the current one). */
  private def routedQueriesAt(s: SparkSession, root: String,
      d: String): (DataFrame, Seq[Int]) = {
    val cents = IvfServe.centroidsAt(s, root)
    val q = graft.Tables.embeddings(s, d).where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("cell",
        SimOps.bestCentroid(col("qv"), cents).getField("cid"))
    val cells = q.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    (q, cells)
  }

  /** Multi-probe variant (the e2w knob against an arbitrary root) —
    * queries routed driver-side to their `nprobe` nearest cells, scored
    * against an EXPLICIT fold-dir list with a declared query-id bound.
    * e71v probes the pinned manifest set through this with queries
    * vec_id < NQueries; the re-stage spec measures that a REBALANCED
    * index serves the same recall through its probe knob while reading
    * fewer candidates than one drift-fattened frozen cell. */
  private[graft] def multiprobeCandidatesWithDirs(s: SparkSession, root: String,
      foldDirsIn: Seq[String], d: String, nprobe: Int,
      qMax: Long = 8L): DataFrame = {
    import s.implicits._
    val cents = IvfServe.centroidsAt(s, root).map { case (c, v) => (c, v.toArray) }
    val qRows = graft.Tables.embeddings(s, d).where(col("vec_id") < qMax)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val routed = qRows.toSeq.flatMap { case (qid, qv) =>
      IvfServe.nearestCells(qv, cents, nprobe).map(c => (qid, qv.toSeq, c)) }
    val q = routed.toDF("q_id", "qv", "cell")
    scoredAtDirs(s, root, foldDirsIn, Nil, q, routed.map(_._3).distinct.sorted)
  }

  /** THE candidate relation of the vector index: (base lists at ver −1
    * ∪ folds), both pruned to the routed `cells`, minus the versions a
    * tombstone retires ([[Versioned]]: `vec_id` match AND `ver < upto`;
    * no join is planned without tombstone dirs), scored against the
    * routed queries `q`. Queries route from the ORIGINAL embeddings
    * (the request owns its vector — the e2d stance). */
  private def scoredAtDirs(s: SparkSession, root: String,
      foldDirs: Seq[String], tombDirs: Seq[String], q: DataFrame,
      cells: Seq[Int]): DataFrame = {
    val all = Versioned.rows(s,
      IvfServe.listsAt(s, root).select("vec_id", "embedding", "cell"),
      foldSchema, foldDirs, _.where(col("cell").isin(cells.map(Int.box): _*)))
    Versioned.live(all, Versioned.tombs(s, tombSchema, tombDirs), "vec_id")
      .select(col("vec_id").as("cand_id"), col("cell"),
        col("embedding").cast("array<double>").as("v"))
      .join(broadcast(q), Seq("cell"))
      .where(col("cand_id") =!= col("q_id"))
      .select(col("q_id"), col("cand_id"),
        round(graft.functions.GraftFunctions.cosine(col("qv"), col("v")), 6)
          .as("cos_sim"))
  }

  /** The top-3 over [[candidates]] — every lifecycle's live probe (e2f/
    * e2tm appends, e2u updates, e2d deletes). */
  private[graft] def probe(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame =
    SimOps.topK(candidates(s, d, work), 3)

  /** E2f: the declared fold-stream key — fresh drain per invocation
    * (the e6s stance), then the probe; oracle = the full trained-serve
    * replay with the base/arrival split (see ivfServeOracleSql). */
  def e2fIvfFoldStream(s: SparkSession, dir: String): DataFrame = {
    ensureFoldBase(s, dir)
    val work = Drain.freshWork("stream-e2f", dir)
    e2fDrain(s, dir, work)
    probe(s, dir, work)
  }

  /** Occupancy-drift bar for [[e2gDriftGate]]: re-stage when some
    * cell's arrival share diverges from its base share by more than
    * this. 1/16-granular arrival shares on iid fixtures measure ≤ 0.1
    * (sf0.01: 0.096, sf0.1: 0.051); a one-cell drift cluster measures
    * ~1 − base_share ≈ 0.98 — the bar sits in the dead middle. */
  val DriftBar = 0.5

  /** E2g: the QUANTIZER-LIFECYCLE drift gate (r12 verdict ask #2) —
    * [[e2fIvfFoldStream]] freezes the trained quantizer forever, which
    * is the right per-insert contract, but a production IVF index
    * RETRAINS ON A CADENCE when arrivals drift: an ever-fattening cell
    * ruins probe cost (answers stay exact — in-cell rescore — so the
    * failure is COST, which is exactly what occupancy skew sees).
    *
    * The declared key drains the arrival stream fresh (the e2f
    * protocol, its own work dir), folds arrivals under the frozen
    * quantizer, and emits the per-cell occupancy comparison: for every
    * cell with arrivals — base count/share, arrival count/share, the
    * |arr − base| share drift, the corpus-wide max drift, and the gate
    * verdict. [[maybeRestage]] then applies the lifecycle contract:
    * rebuild the trained layout over base+arrivals when the gate
    * trips (a no-op on the iid fixture — VecDriftSpec plants a real
    * drift cluster, trips it, and measures that the rebuild
    * redistributes the mass and shrinks the drifted probe while recall
    * holds).
    *
    * The DuckDB oracle replays the whole base-trained chain and both
    * occupancy sides from the same assignment, so a mis-assigned,
    * dropped, or double-counted arrival is a hash miss.
    *
    * 100 TB path: both occupancy sides are metadata-sized aggregates
    * (≤ k rows out of partial counts — the lists' footers could even
    * answer the base side); the gate decision reads k rows; the
    * rebuild, when it fires, costs what the build cost — the point of
    * the gate is paying it on MEASURED drift instead of on a timer. */
  def e2gDriftGate(s: SparkSession, dir: String): DataFrame = {
    ensureFoldBase(s, dir)
    val work = Drain.freshWork("stream-e2g", dir)
    e2fDrain(s, dir, work)
    maybeRestage(s, dir, work) // the lifecycle contract; no-op unless tripped
    driftReport(s, dir, work)
  }

  /** Per-cell occupancy drift of the folded arrivals vs the trained
    * base — the declared e2g relation (cells with arrivals, ordered). */
  private[graft] def driftReport(s: SparkSession, d: String,
      work: java.nio.file.Path): DataFrame = {
    val root = foldBaseDir(d)
    val base = IvfServe.listsAt(s, root)
      .groupBy("cell").agg(count(lit(1)).as("n_base"))
    val folds = foldTree(work)
    val foldDirs = folds.readSet()
    require(foldDirs.nonEmpty, s"drift gate needs folded arrivals under ${folds.root}")
    val arr = folds.read(s, foldDirs)
      .groupBy("cell").agg(count(lit(1)).as("n_arr"))
    val cells = base.join(arr, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_arr"), lit(0L)).as("n_arr"))
    // k-row relation from here on: the scalar attaches are broadcast
    // 1-row aggregates (the suite convention)
    val tot = cells.agg(sum("n_base").as("tb"), sum("n_arr").as("ta"))
    val sh = cells.crossJoin(broadcast(tot))
      .withColumn("base_share", round(col("n_base") / col("tb").cast("double"), 6))
      .withColumn("arr_share", round(col("n_arr") / col("ta").cast("double"), 6))
      .withColumn("share_drift", round(abs(col("arr_share") - col("base_share")), 6))
    val mx = sh.agg(max(col("share_drift")).as("max_drift"))
    sh.crossJoin(broadcast(mx))
      .withColumn("gate_tripped", col("max_drift") > DriftBar)
      .where(col("n_arr") > 0)
      .select("cell", "n_base", "n_arr", "base_share", "arr_share",
        "share_drift", "max_drift", "gate_tripped")
      .orderBy("cell")
  }

  /** The re-stage decision: read the gate, rebuild when tripped.
    * Returns the restaged root when a rebuild happened. */
  private[graft] def maybeRestage(s: SparkSession, d: String,
      work: java.nio.file.Path): Option[java.nio.file.Path] = {
    val md = driftReport(s, d, work)
      .agg(max(col("max_drift"))).head().getDouble(0)
    if (md > DriftBar) Some(restageWithArrivals(s, d, work)) else None
  }

  /** The declared read-back snapshot for [[e2zFoldSnapshot]]: batch 2
    * of the 4-bucket drain — a PAST index version (batch 3 lands after
    * it AND its step compacts batches 0..2 away from the current read
    * set), so the declared rows prove the pinned probe survives both a
    * later write and a later compaction. */
  val DeclaredVecSnap = 2L

  /** E2z: PROBE-AT-SNAPSHOT over the manifested vector folds (r13
    * verdict ask #5 — e72's read-at-version, on the ANN index). Drains
    * the arrival stream fresh (the e2f protocol; every batch stamps a
    * manifest, compaction spares manifest-referenced dirs), then probes
    * base + the folds AS OF [[DeclaredVecSnap]] — arrivals of batches
    * 0..2 (vec_id < 12) visible, batch 3's (vec_id 12..15) NOT, even
    * though the current layout has folded and compacted past them.
    * This is the reproducibility contract a training run needs when
    * its eval set was retrieved at a pinned index version. Oracle: the
    * trained-serve replay with the candidate corpus restricted to
    * base ∪ the batch prefix ≤ 2 — a snapshot that leaked a later
    * arrival (or lost a pinned one) is a hash miss. Spec
    * (E2fStreamSpec) pins prefix-fold equality against a one-shot
    * replay, survival under the batch-3 compaction, and loud expiry.
    *
    * 100 TB path: the manifest is O(live dirs) metadata; the pinned
    * probe costs exactly the e2f probe (base partition-pruned, ≤
    * Retain fold dirs cell-filtered); spared-dir storage is bounded by
    * the retention window, never history. */
  def e2zFoldSnapshot(s: SparkSession, dir: String): DataFrame = {
    ensureFoldBase(s, dir)
    val work = Drain.freshWork("stream-e2z", dir)
    e2fDrain(s, dir, work)
    SimOps.topK(candidatesAtSnapshot(s, dir, work, DeclaredVecSnap), 3)
      .withColumn("snapshot_id", lit(DeclaredVecSnap))
  }

  /** The rebuild leg: retrain the full layout (coarse quantizer AND
    * PQ books) over base + arrivals — the e57/e63 refresh discipline
    * applied to the index itself. The frozen-quantizer fold protocol
    * resumes from the new layout; every already-written base list is
    * superseded, never edited in place. */
  private[graft] def restageWithArrivals(s: SparkSession, d: String,
      work: java.nio.file.Path): java.nio.file.Path = {
    val dst = work.resolve("restaged")
    DocStreams.deleteTree(dst)
    IvfServe.buildTrainedLayout(s, dst.toString, IvfServe.corpusView(s, d))
    dst
  }

  // ───────────────────────── tombstone deletes (e2d) ──────────────────

  /** Declared tombstone set for [[e2dVecTombstone]] — the text side's
    * [[LexStreams.TombMod]] declaration on vec_id, straddling the
    * arrival bound: vectors 3 and 10 arrive then delete, 17/24/31/38/45
    * delete out of the trained base lists. Vector 3 is ALSO a declared
    * query (vec_id < 8): a deleted vector can still QUERY — the request
    * side owns the query vector — it just can never be a candidate. */
  private[graft] def vecTombPred(id: org.apache.spark.sql.Column) =
    id % LexStreams.TombMod === LexStreams.TombRes && id < LexStreams.TombBound

  /** CDC landing: the 4 arrival buckets plus 2 DELETE buckets (key
    * present, embedding NULL — the CDC delete record), landing as
    * batches 4 and 5 so a snapshot can pin between them, and drained
    * through the upsert verb ([[upsertVecDrain]]). */
  private[graft] def cdcLanding(s: SparkSession, dir: String): Drain.Landing =
    landing(s, "stream-vecs-cdc", dir, "c1:", "cdc", Some(raw =>
      raw.where(vecTombPred(col("vec_id")))
        .select(col("vec_id"),
          lit(null).cast("array<float>").as("embedding"),
          lit(null).cast("int").as("label"))))

  /** E2d: TOMBSTONE DELETES in the vector-index lifecycle (r15 verdict
    * ask #1, vector half). The CDC drain replays the 4 arrival batches
    * then 2 DELETE batches through the ONE mutation verb,
    * [[upsertVecFoldBatch]] — a delete is an upsert without a new
    * version: each delete lands as a tombstone `(vec_id, upto=batch)`
    * beside the vector folds, honored at probe (one broadcast anti-join
    * against the bounded set — the Lucene live-docs bitmap as a
    * relation), RECONCILED at restage ([[restageFromIndex]],
    * spec-pinned physical absence), and PINNED by the snapshot
    * manifests (deleted at batch k ⇒ still a candidate at snapshots
    * < k — spec-pinned). The quantizer stays frozen: deletes change
    * CANDIDACY, never the trained model, exactly as production IVF
    * (FAISS remove_ids leaves the coarse centroids untouched).
    *
    * Oracle: the trained-serve replay with candidates restricted to
    * corpus − tombstones — a probe that served a deleted vector (or
    * dropped a live one) is a hash miss.
    *
    * 100 TB path: a tombstone fold is O(batch deletes) rows; the probe
    * adds one broadcast anti-join; the base lists rewrite only at the
    * restage the lifecycle was already paying. */
  def e2dVecTombstone(s: SparkSession, dir: String): DataFrame = {
    ensureFoldBase(s, dir)
    val work = Drain.freshWork("stream-e2d", dir)
    upsertVecDrain(s, dir, work, cdcLanding(s, dir))
    probe(s, dir, work)
  }

  // ───────────────────────── upserts (e2u) ────────────────────────────

  /** Declared UPDATE set for [[e2uVecUpsert]] — the text side's
    * [[LexStreams.updPred]] on vec_id: vectors 9 and 13 re-arrive over
    * their own folds, 17/21/25/29/33 over the trained base lists. No
    * update id is a query id (queries are vec_id < 8): the request
    * side owns its query vector, so the declared queries stay the
    * original embeddings — an update changes CANDIDACY, never the
    * probe's requests. */
  private[graft] def vecUpdPred(id: org.apache.spark.sql.Column) =
    LexStreams.updPred(id)

  /** The updated payload: the embedding NEGATED — exactly expressible
    * in SQL (`list_transform(v, x -> -x)`, IEEE-exact in float and
    * double alike) and guaranteed to MOVE the vector in space, so a
    * probe serving a stale version ranks visibly wrong. */
  private[graft] def updatedVec(v: org.apache.spark.sql.Column) =
    transform(v, x => -x)

  /** CDC-U landing: the 4 arrival buckets (original embeddings) plus 2
    * UPDATE buckets re-arriving the declared set with the NEW payload,
    * landing as batches 4 and 5 so a snapshot can pin between them. */
  private[graft] def upsertLanding(s: SparkSession, dir: String): Drain.Landing =
    landing(s, "stream-vecs-upsert", dir, "u1:", "upd", Some(raw =>
      raw.where(vecUpdPred(col("vec_id")))
        .withColumn("embedding", updatedVec(col("embedding")))))

  /** One UPSERT micro-batch fold — updateDocument on the ANN index, and
    * its ONE mutation verb (a CDC delete record, `embedding` NULL, is an
    * upsert without a new version): every incoming key tombstones
    * UNCONDITIONALLY as `(vec_id, upto=batch)` (Lucene buffers delete
    * terms without checking existence; a first-time arrival's
    * tombstone kills nothing — the anti-join `ver < upto` only ever
    * retires rows that exist), and the new versions — the rows with an
    * embedding — fold through [[e2fFoldBatch]] (assigned under the
    * FROZEN quantizer, stamped `ver = batch`). The text index's verb
    * ([[LexStreams.upsertFoldBatch]]) looks up each key's live prior to
    * roll back its dl; this one needs no lookup: an ANN tombstone
    * carries no per-doc statistics (BM25's dl has no analogue), so a
    * tombstone on a key with no live version is harmless. */
  private[graft] def upsertVecFoldBatch(df: DataFrame, id: Long,
      cents: Seq[(Int, Seq[Double])], work: java.nio.file.Path): Unit = {
    df.select(col("vec_id"), lit(id).as("upto"))
      .write.mode("overwrite")
      .parquet(tombTree(work).batch(id).toString)
    e2fFoldBatch(df.where(col("embedding").isNotNull), id, cents, work)
  }

  /** The manifested drain of a CDC landing through
    * [[upsertVecFoldBatch]] — e2u's update landing and e2d's delete
    * landing alike. */
  private[graft] def upsertVecDrain(s: SparkSession, d: String,
      work: java.nio.file.Path, landing: Drain.Landing): Unit =
    StreamTune.withDrainWidthFrom(s, embSrc(d)) {
      val cents = IvfServe.centroidsAt(s, foldBaseDir(d))
      Drain.manifested(s, landing.stream(s), work, trees(work)) {
        upsertVecFoldBatch(_, _, cents, work)
      }
    }

  /** Restage reconciliation FROM THE INDEX ITSELF — the one restage of
    * the mutation lifecycle (e2u's updates, e2d's deletes): the updated
    * embeddings exist only in the stream (the source table still
    * carries the originals), so the upsert restage retrains the full
    * layout over the LIVE INDEX ROWS — (base lists ∪ folds) with
    * superseded versions anti-joined out — rather than re-reading any
    * corpus. Superseded storage is reclaimed here, exactly the Lucene
    * merge. */
  private[graft] def restageFromIndex(s: SparkSession, d: String,
      work: java.nio.file.Path): java.nio.file.Path = {
    val all = Versioned.rows(s,
      IvfServe.listsAt(s, foldBaseDir(d)).select("vec_id", "label", "embedding"),
      foldSchema, foldTree(work).readSet())
    val live = Versioned.live(all,
        Versioned.tombs(s, tombSchema, tombTree(work).readSet()), "vec_id")
      .select(col("vec_id"), col("label"), col("embedding"),
        col("embedding").cast("array<double>").as("v"))
    val dst = work.resolve("restaged")
    DocStreams.deleteTree(dst)
    IvfServe.buildTrainedLayout(s, dst.toString, live)
    dst
  }

  /** E2u: UPSERTS in the vector-index lifecycle — the text side's
    * e35u verb on the ANN index: a changed vector RE-ARRIVES
    * (re-embedded document, model refresh backfill) and the index
    * must serve exactly one, latest version. Version-stamped folds
    * (base −1, folds their batch id), unconditional per-key
    * tombstones `(vec_id, upto=batch)`, the anti-join `ver < upto`
    * retiring old versions while the co-shipped new one survives; the
    * quantizer stays FROZEN — an update re-ROUTES the new version
    * under the trained centroids (possibly to a different cell), it
    * never retrains the model. The CDC-U drain replays 4 arrival
    * batches then 2 UPDATE batches re-arriving vectors 9/13 (over
    * their own folds) and 17/21/25/29/33 (over the trained base
    * lists) with embeddings NEGATED.
    *
    * Oracle: the trained-serve replay with candidates assigned from
    * the LATEST-VERSION corpus (the declared negation applied in SQL)
    * under centroids trained on the ORIGINAL base — a served stale
    * version, a dropped update, or an update routed by anything but
    * the frozen quantizer is a hash miss.
    *
    * 100 TB path: an upsert batch is one map-side assignment + two
    * bounded appends (no prior lookup at all — see
    * [[upsertVecFoldBatch]]); the probe adds one broadcast anti-join;
    * superseded storage is reclaimed at the restage the lifecycle was
    * already paying ([[restageFromIndex]], spec-pinned). */
  def e2uVecUpsert(s: SparkSession, dir: String): DataFrame = {
    ensureFoldBase(s, dir)
    val work = Drain.freshWork("stream-e2u", dir)
    upsertVecDrain(s, dir, work, upsertLanding(s, dir))
    probe(s, dir, work)
  }

  // ───────────────────────── tiered fold merge (e2tm) ─────────────────

  /** E2tm: the SIZE-TIERED FOLD MERGE on the vector index — e35t's
    * count-gated tier policy applied to the cell folds (the generic
    * [[FoldTree.tierMerge]]; fold rows are a vec_id-keyed set, so
    * concatenation is the re-merge and the probe's answer cannot
    * change — the declared rows are e2f's VERBATIM, oracle shared).
    * The tier merge collapses the post-drain read set (compact=2 +
    * batch=3) into ONE `compact=3` dir; the TRAINED BASE LISTS ARE
    * NEVER TOUCHED — the full retrain stays [[restageWithArrivals]]'s
    * job, gated on occupancy DRIFT by [[e2gDriftGate]]. Together the
    * two gates give the vector index the same two-tier lifecycle the
    * text index got in e35t/e35g: cheap intra-tier merges on COUNT,
    * the expensive retrain on measured DRIFT. The spec pins what the
    * row oracle cannot see: every base-list file's mtime untouched,
    * the read set collapsed to one dir, manifest-referenced dirs
    * spared so pinned snapshots keep resolving.
    *
    * 100 TB path: a tier merge costs O(live fold bytes) — orders of
    * magnitude under the retrain — and caps the probe's per-fold
    * overhead (listing + cell filter per dir) at O(TierFanout). */
  def e2tmVecTierMerge(s: SparkSession, dir: String): DataFrame = {
    ensureFoldBase(s, dir)
    val work = Drain.freshWork("stream-e2tm", dir)
    e2fDrain(s, dir, work)
    foldTree(work).tierMerge(s)
    probe(s, dir, work)
  }
}
