package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimOps
import graft.sources.IvfServe
import graft.streaming.{FoldTree, VecStreams}

/** e2f — incremental IVF maintenance (r11 verdict ask #3). Claims:
  * a vector folded in batch N is probe-visible after batch N (and a
  * same-cell NEAR-DUPLICATE of a query lands at rank 1 — visibility
  * at the declared top-3, not just the candidate relation); replaying
  * a batch id adds nothing (idempotence by overwrite layout, the e63s
  * claim); compaction bounds the fold listing and leaves the answer
  * bit-identical; and the incremental fold path equals the one-shot
  * fold (batching must never change the answer). */
class E2fStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def freshWork(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("e2f-spec")

  private def cents() = {
    VecStreams.ensureFoldBase(spark, sf)
    IvfServe.centroidsAt(spark, VecStreams.foldBaseDir(sf))
  }

  private def arrivals() =
    Tables.embeddings(spark, sf)
      .where(col("vec_id") < VecStreams.ArrivalBound)

  test("a vector folded in batch N is probe-visible after batch N — not before") {
    val cs = cents()
    val work = freshWork()
    try {
      // BEFORE any fold: no arrival id can be a candidate
      val before = VecStreams.candidates(spark, sf, work)
        .where(col("cand_id") < VecStreams.ArrivalBound).count()
      assert(before == 0, "base lists must not contain arrivals")
      // fold a synthetic exact near-duplicate of query 0 (same
      // embedding, fresh id): it must assign to q0's cell, surface as
      // a candidate at cos 1.0, and take the declared rank 1 — the
      // sharpest form of "a vector arriving in batch N is returned by
      // a probe after batch N"
      val q0 = Tables.embeddings(spark, sf).where(col("vec_id") === 0)
        .select(lit(999999L).as("vec_id"), col("label"), col("embedding"))
      VecStreams.e2fFoldBatch(q0, 0L, cs, work)
      val top = VecStreams.probe(spark, sf, work)
        .where(col("q_id") === 0).orderBy("rank").collect()
      assert(top.head.getLong(2) == 999999L && top.head.getDouble(3) == 1.0,
        s"the folded near-dup must be q0's rank-1 neighbor: ${top.toSeq}")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("replaying a batch id overwrites its own fold — nothing doubles") {
    val cs = cents()
    val work = freshWork()
    try {
      VecStreams.e2fFoldBatch(arrivals(), 0L, cs, work)
      val once = VecStreams.candidates(spark, sf, work)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      VecStreams.e2fFoldBatch(arrivals(), 0L, cs, work) // at-least-once replay
      val twice = VecStreams.candidates(spark, sf, work)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(once.nonEmpty || arrivals().count() == 0)
      assert(twice == once, "a replayed batch must overwrite, never append")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("compaction bounds the fold listing and leaves the probe bit-identical") {
    val cs = cents()
    val work = freshWork()
    val oneShot = freshWork()
    try {
      // 8 single-vector batches with the drain's compaction cadence
      val arr = arrivals().where(col("vec_id") < 8)
      (0 until 8).foreach { i =>
        VecStreams.foldTree(work).compactIfDue(spark, i.toLong)
        VecStreams.e2fFoldBatch(arr.where(col("vec_id") === i), i.toLong, cs, work)
      }
      val dirs = VecStreams.foldTree(work).readSet()
      assert(dirs.length <= FoldTree.CompactEvery + 1,
        s"fold listing must stay O(CompactEvery): $dirs")
      VecStreams.e2fFoldBatch(arr, 0L, cs, oneShot)
      val inc = VecStreams.probe(spark, sf, work)
        .collect().map(_.toSeq).toSeq
      val one = VecStreams.probe(spark, sf, oneShot)
        .collect().map(_.toSeq).toSeq
      assert(inc == one, "batch slicing + compaction must never change the answer")
    } finally {
      graft.streaming.DocStreams.deleteTree(work)
      graft.streaming.DocStreams.deleteTree(oneShot)
    }
  }

  test("declared stream drain equals the one-shot manual fold") {
    val cs = cents()
    val oneShot = freshWork()
    try {
      val declared = VecStreams.e2fIvfFoldStream(spark, sf)
        .collect().map(_.toSeq).toSeq
      VecStreams.e2fFoldBatch(arrivals(), 0L, cs, oneShot)
      val manual = VecStreams.probe(spark, sf, oneShot)
        .collect().map(_.toSeq).toSeq
      assert(declared.nonEmpty && declared == manual)
    } finally graft.streaming.DocStreams.deleteTree(oneShot)
  }

  test("e2z snapshot probe: prefix equality, survival under compaction, loud expiry") {
    val cs = cents()
    val oneShot = freshWork()
    try {
      // the declared key: drain (batch 3's step compacts batches 0..2
      // away from the CURRENT read set), probe AT snapshot 2
      val declared = VecStreams.e2zFoldSnapshot(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(declared.nonEmpty)
      assert(declared.forall(_.last == VecStreams.DeclaredVecSnap))
      // SURVIVAL: the drain's work dir now holds a compact=2 covering
      // batches 0..2, yet the pinned dirs must still resolve
      val work = graft.util.PathKeys.fixturePath("stream-e2z", sf, "-4")
      val foldRoot = work.resolve("folds")
      assert(java.nio.file.Files.isDirectory(foldRoot.resolve("compact=2")),
        "batch 3 must have compacted the earlier batches")
      val pinned = VecStreams.foldTree(work).pinned(2L)
        .map(java.nio.file.Paths.get(_).getFileName.toString)
      assert(pinned == Seq("batch=0", "batch=1", "batch=2"), s"pinned: $pinned")
      pinned.foreach(n => assert(
        java.nio.file.Files.isDirectory(foldRoot.resolve(n)),
        s"compaction must SPARE manifest-referenced dir $n"))
      // PREFIX EQUALITY: the pinned probe equals a one-shot fold of
      // exactly the batch-prefix arrivals (vec_id < 12 — buckets 0..2)
      VecStreams.e2fFoldBatch(arrivals().where(col("vec_id") < 12), 0L, cs, oneShot)
      val manual = VecStreams.probe(spark, sf, oneShot)
        .collect().map(_.toSeq).toSeq
      assert(declared.map(_.dropRight(1)) == manual,
        "snapshot probe must equal the one-shot batch-prefix fold")
      // batch 3's arrivals (vec_id 12..15) are part of the CURRENT
      // fold content but must NOT be candidates at the pinned version.
      // The current side is asserted on the FOLD DIRS directly (the 8
      // queries' probed cells need not contain any of the 4 late ids,
      // so a cell-filtered count could be vacuously 0 on both sides)
      val snapLate = VecStreams.candidatesAtSnapshot(spark, sf, work, 2L)
        .where(col("cand_id") >= 12 && col("cand_id") < VecStreams.ArrivalBound)
      assert(snapLate.count() == 0,
        "a pinned read must not see arrivals that landed after its snapshot")
      val curIds = spark.read.parquet(
          VecStreams.foldTree(work).readSet(): _*)
        .where(col("vec_id") >= 12 && col("vec_id") < VecStreams.ArrivalBound)
        .select("vec_id").distinct().collect().map(_.getLong(0)).sorted
      assert(curIds.toSeq == (12L until VecStreams.ArrivalBound),
        s"the current read set must carry batch 3's arrivals: ${curIds.toSeq}")
      // LOUD EXPIRY: snap 0 expired when snap 3 was written (Retain=3)
      val ex = intercept[IllegalArgumentException](
        VecStreams.foldTree(work).pinned(0L))
      assert(ex.getMessage.contains("not resolvable"))
    } finally graft.streaming.DocStreams.deleteTree(oneShot)
  }

  test("e2d: a tombstoned rank-1 near-dup vanishes from the probe") {
    val cs = cents()
    val work = freshWork()
    try {
      import spark.implicits._
      val q0 = Tables.embeddings(spark, sf).where(col("vec_id") === 0)
        .select(lit(999999L).as("vec_id"), col("label"), col("embedding"))
      VecStreams.e2fFoldBatch(q0, 0L, cs, work)
      def folds() = VecStreams.foldTree(work).readSet()
      def tombs() = VecStreams.tombTree(work).readSet()
      val before = SimOps.topK(VecStreams.candidatesAtDirs(
          spark, sf, folds(), Nil), 3)
        .where(col("q_id") === 0).orderBy("rank").collect()
      assert(before.head.getLong(2) == 999999L && before.head.getDouble(3) == 1.0)
      Seq(999999L).toDF("vec_id")
        .write.parquet(work.resolve("tombs/batch=1").toString)
      val after = SimOps.topK(VecStreams.candidatesAtDirs(
          spark, sf, folds(), tombs()), 3)
        .where(col("q_id") === 0).orderBy("rank").collect()
      assert(!after.exists(_.getLong(2) == 999999L),
        "a tombstoned vector must never be served")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("e2d declared: snapshots pin delete order exactly; restage reconciles") {
    val tombIds = Set(3L, 10L, 17L, 24L, 31L, 38L, 45L)
    val batch4 = Set(3L, 10L, 17L) // tombstones with vec_id < 24
    val declared = VecStreams.e2dVecTombstone(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(declared.nonEmpty)
    assert(!declared.exists(r => tombIds(r(2).asInstanceOf[Long])),
      "no tombstoned vector may be served")
    val work = graft.util.PathKeys.fixturePath("stream-e2d", sf, "-4")
    def cands(snap: Long) =
      VecStreams.candidatesAtSnapshot(spark, sf, work, snap)
        .collect().map(_.toSeq).toSet
    // snapshot 3 = pre-delete; snapshot 4 = batch-4 deletes only;
    // snapshot 5 = all. The fold content is identical across the three
    // (delete batches fold no vectors), so the candidate sets must be
    // EXACT set-differences by tombstone batch — delete order pinned
    // without assuming any tombstone shares a query's cell.
    val pre = cands(3L)
    val mid = cands(4L)
    val cur = cands(5L)
    assert(mid == pre.filterNot(r => batch4(r(1).asInstanceOf[Long])),
      "snapshot 4 must drop exactly batch 4's tombstones")
    assert(cur == pre.filterNot(r => tombIds(r(1).asInstanceOf[Long])),
      "the current read must drop the full tombstone set")
    // a deleted vector can still QUERY (vec 3 is tombstoned AND a
    // declared query): its q_id must keep serving at every version
    assert(cur.exists(_(0) == 3L), "deleted vec 3 must still query")
    // RESTAGE RECONCILIATION: the rebuilt lists physically drop the
    // tombstoned vectors
    val restaged = VecStreams.restageFromIndex(spark, sf, work)
    val lists = spark.read.parquet(restaged.resolve("lists").toString)
    assert(lists.where(col("vec_id").isin(tombIds.toSeq.map(Long.box): _*))
      .count() == 0, "restage must physically drop tombstoned vectors")
    assert(lists.count() == Tables.embeddings(spark, sf).count() - tombIds.size)
  }

  test("e2d: replaying a delete batch overwrites its tombstone fold") {
    val cs = cents()
    val work = freshWork()
    try {
      import spark.implicits._
      VecStreams.e2fFoldBatch(arrivals(), 0L, cs, work)
      val del = Seq((3L, null.asInstanceOf[Array[Float]], null.asInstanceOf[java.lang.Integer]))
        .toDF("vec_id", "embedding", "label")
      VecStreams.upsertVecFoldBatch(del, 1L, cs, work)
      def folds() = VecStreams.foldTree(work).readSet()
      def tombs() = VecStreams.tombTree(work).readSet()
      def probed() = SimOps.topK(VecStreams.candidatesAtDirs(
          spark, sf, folds(), tombs()), 3)
        .collect().map(_.toSeq).toSeq
      val once = probed()
      VecStreams.upsertVecFoldBatch(del, 1L, cs, work)
      assert(probed() == once, "a replayed delete batch must overwrite, never stack")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("e2u: an upsert supersedes the prior version — the new vector serves, the old never does") {
    val cs = cents()
    val work = freshWork()
    try {
      import spark.implicits._
      // version 1: an exact near-duplicate of query 0 — rank 1 at cos 1.0
      val q0 = Tables.embeddings(spark, sf).where(col("vec_id") === 0)
        .select(lit(999999L).as("vec_id"), col("label"), col("embedding"))
      VecStreams.upsertVecFoldBatch(q0, 0L, cs, work)
      def folds() = VecStreams.foldTree(work).readSet()
      def tombs() = VecStreams.tombTree(work).readSet()
      def cands() = VecStreams.candidatesAtDirs(
        spark, sf, folds(), tombs())
        .where(col("cand_id") === 999999L).collect()
      val before = cands()
      assert(before.exists(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0),
        s"the v1 near-dup must be q0's exact match: ${before.toSeq}")
      // version 2: the SAME key re-arrives NEGATED — the stale cos-1.0
      // row must be gone; at most the new version may appear (in
      // whatever cell the frozen quantizer routes it to)
      val v2 = q0.withColumn("embedding", VecStreams.updatedVec(col("embedding")))
      VecStreams.upsertVecFoldBatch(v2, 1L, cs, work)
      val after = cands()
      assert(!after.exists(r => r.getLong(0) == 0L && r.getDouble(2) == 1.0),
        s"the superseded version must never be served: ${after.toSeq}")
      // replay idempotence: re-folding the update batch changes nothing
      val probedOnce = VecStreams.candidatesAtDirs(
        spark, sf, folds(), tombs()).collect().map(_.toSeq).toSeq
      VecStreams.upsertVecFoldBatch(v2, 1L, cs, work)
      val probedTwice = VecStreams.candidatesAtDirs(
        spark, sf, folds(), tombs()).collect().map(_.toSeq).toSeq
      assert(probedOnce == probedTwice,
        "a replayed upsert batch must overwrite, never stack")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("delete-then-re-add: the re-added vector serves again (batch-bounded " +
      "tombstones, the Lucene delete)") {
    val cs = cents()
    val work = freshWork()
    try {
      import spark.implicits._
      val q0 = Tables.embeddings(spark, sf).where(col("vec_id") === 0)
        .select(lit(999999L).as("vec_id"), col("label"), col("embedding"))
      VecStreams.upsertVecFoldBatch(q0, 0L, cs, work)
      def folds() = VecStreams.foldTree(work).readSet()
      def tombs() = VecStreams.tombTree(work).readSet()
      def hit() = VecStreams.candidatesAtDirs(
        spark, sf, folds(), tombs())
        .where(col("cand_id") === 999999L && col("cos_sim") === 1.0).count()
      assert(hit() == 1, "v1 must serve")
      // DELETE at batch 1 — upto bounds the kill at its own batch
      Seq((999999L, 1L)).toDF("vec_id", "upto")
        .write.mode("overwrite").parquet(work.resolve("tombs/batch=1").toString)
      assert(hit() == 0, "the deleted vector must not serve")
      // RE-ADD at batch 2: ver 2 is newer than every tombstone bound
      VecStreams.upsertVecFoldBatch(q0, 2L, cs, work)
      assert(hit() == 1, "the re-added vector must serve again")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("e2u declared: pre-update snapshot is the append lifecycle; restage " +
      "reconciles from the index") {
    val declared = VecStreams.e2uVecUpsert(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(declared.nonEmpty)
    val work = graft.util.PathKeys.fixturePath("stream-e2u", sf, "-4")
    // snapshot 3 — before any update batch — equals the e2f
    // append-lifecycle rows exactly
    val pre = graft.ops.SimOps.topK(
        VecStreams.candidatesAtSnapshot(spark, sf, work, 3L), 3)
      .collect().map(_.toSeq).toSeq
    val e2f = VecStreams.e2fIvfFoldStream(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(pre == e2f,
      "snapshot 3 must reproduce the pre-update (append-only) truth exactly")
    // RESTAGE FROM THE INDEX: the retrained layout carries the NEW
    // version physically (vec 17's list row is the negated original),
    // never the old one, and counts every vector exactly once
    val restaged = VecStreams.restageFromIndex(spark, sf, work)
    val lists = spark.read.parquet(restaged.resolve("lists").toString)
    val got = lists.where(col("vec_id") === 17L).collect()
    assert(got.length == 1, "exactly one live version per key")
    val orig = Tables.embeddings(spark, sf).where(col("vec_id") === 17L)
      .collect().head.getSeq[Float](1)
    // primitive == (not Seq equality): boxed Float.equals(-0.0f, 0.0f)
    // is false, and a zero component would false-fail the assertion
    val restagedVec = got.head.getSeq[Float](2)
    assert(restagedVec.length == orig.length &&
        restagedVec.zip(orig).forall { case (a, b) => a == -b },
      "the restaged list must carry the NEW (negated) version")
    assert(lists.count() == Tables.embeddings(spark, sf).count(),
      "upserts replace, never add")
  }

  test("e2tm: tier merge collapses the read set, never touches base lists, never changes rows") {
    import java.nio.file.{Files, Paths}
    val cs = cents()
    // the one-shot reference BEFORE the tiered drain (same content)
    val oneShot = freshWork()
    try {
      VecStreams.e2fFoldBatch(arrivals(), 0L, cs, oneShot)
      val reference = VecStreams.probe(spark, sf, oneShot)
        .collect().map(_.toSeq).toSeq
      // base-list mtimes BEFORE the declared key runs
      val baseRoot = Paths.get(VecStreams.foldBaseDir(sf))
      def baseMtimes(): Map[String, Long] = {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(Files.walk(baseRoot)) { st =>
          st.iterator().asScala.filter(Files.isRegularFile(_))
            .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
            .toMap
        }
      }
      val before = baseMtimes()
      val declared = VecStreams.e2tmVecTierMerge(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(declared == reference,
        "a tier merge must relocate fold rows, never change the probe's answer")
      assert(baseMtimes() == before,
        "a tier merge must NOT rewrite any base-list file (only the " +
          "drift-gated restage retrains the base)")
      // the read set collapsed to ONE dir; pinned snapshots keep
      // resolving (manifest-referenced dirs were spared)
      val work = graft.util.PathKeys.fixturePath("stream-e2tm", sf, "-4")
      val dirs = VecStreams.foldTree(work).readSet()
      assert(dirs.size == 1, s"fold read set must collapse to one dir: $dirs")
      assert(Paths.get(dirs.head).getFileName.toString == "compact=3")
      val pinned = VecStreams.foldTree(work).pinned(2L)
      assert(pinned.nonEmpty, "the batch-2 manifest must be retained")
      pinned.foreach(n => assert(Files.isDirectory(Paths.get(n)),
        s"tier merge must spare manifest-referenced dir $n"))
    } finally graft.streaming.DocStreams.deleteTree(oneShot)
  }

  test("a CDC update record supersedes its key's live version and a delete " +
      "record drops its key — through the verb the e2d drain runs") {
    // A CDC batch re-arrives one base key and one earlier arrival
    // (embedding negated); the next deletes a third key. All three are
    // chosen among the probe's candidates, so a stale version or an
    // undeleted key would show.
    val cs = cents()
    val (work, ref) = (freshWork(), freshWork())
    try {
      def cands(w: java.nio.file.Path) = VecStreams.candidatesAtDirs(spark, sf,
          VecStreams.foldTree(w).readSet(), VecStreams.tombTree(w).readSet())
        .collect().map(_.toSeq).toSet
      def candId(r: Seq[Any]) = r(1).asInstanceOf[Long]
      VecStreams.upsertVecFoldBatch(arrivals(), 0L, cs, work)
      val pre = cands(work)
      val (arrIds, baseIds) = pre.map(candId).toSeq.sorted
        .partition(_ < VecStreams.ArrivalBound)
      assert(arrIds.size >= 2 && baseIds.nonEmpty, s"too few candidates: $pre")
      val reArrived = Set(baseIds.head, arrIds.head)
      val gone = arrIds(1)
      val upd = Tables.embeddings(spark, sf)
        .where(col("vec_id").isin(reArrived.toSeq.map(Long.box): _*))
        .withColumn("embedding", VecStreams.updatedVec(col("embedding")))
      VecStreams.upsertVecFoldBatch(upd, 1L, cs, work)
      val del = Tables.embeddings(spark, sf).where(col("vec_id") === gone)
        .select(col("vec_id"), lit(null).cast("array<float>").as("embedding"),
          lit(null).cast("int").as("label"))
      VecStreams.upsertVecFoldBatch(del, 2L, cs, work)
      val post = cands(work)
      // the new versions' rows: the probe over the new versions alone
      // (the base key's old row still comes from the base lists there,
      // and is exactly the stale row the index held before the update)
      VecStreams.e2fFoldBatch(upd, 0L, cs, ref)
      val stale = pre.filter(r => reArrived(candId(r)))
      val fresh = cands(ref).filter(r => reArrived(candId(r))) -- stale
      assert(post.filter(r => reArrived(candId(r))) == fresh,
        "each re-arrived key must serve its new version only")
      assert(!post.exists(r => candId(r) == gone), s"deleted vec $gone must not be served")
      val others = (r: Seq[Any]) => !reArrived(candId(r)) && candId(r) != gone
      assert(post.filter(others) == pre.filter(others),
        "every other candidate must be untouched")
    } finally {
      graft.streaming.DocStreams.deleteTree(work)
      graft.streaming.DocStreams.deleteTree(ref)
    }
  }

  test("e2u: a tier merge through the tree accessors keeps the upsert answer") {
    // The merge rewrites the folds with the accessors' schema; one
    // without `ver` drops every version, and the tombstones then retire
    // the wrong rows (or none).
    VecStreams.ensureFoldBase(spark, sf)
    val work = freshWork()
    try {
      VecStreams.upsertVecDrain(spark, sf, work, VecStreams.upsertLanding(spark, sf))
      def probed() = VecStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
      val before = probed()
      val trees = Seq(VecStreams.foldTree(work), VecStreams.tombTree(work))
      assert(trees.forall(_.readSet().size > FoldTree.TierFanout))
      trees.foreach(_.tierMerge(spark))
      assert(trees.forall(_.readSet().size == 1), "every tree must have merged")
      assert(probed() == before, "a tier merge must never change the answer")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }
}
