package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{FoldTree, LexStreams}
import scala.jdk.CollectionConverters._

/** e35f — incremental postings maintenance (the Lucene segment model).
  * Claims: a document folded in batch N is scoreable after batch N
  * (and a synthetic high-tf arrival takes the declared rank 1 — the
  * E2fStreamSpec visibility form); replaying a batch id adds nothing;
  * the declared stream drain equals the one-shot fold; and a
  * TOKEN-LESS arrival still shifts the global statistics (it has a
  * lens row but no posting row — the structural fix for the r13-advice
  * stats defect class). */
class LexStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  /** The tree at `root` — a listing or a manifest takes no schema. */
  private def tree(root: java.nio.file.Path) =
    FoldTree(root, new org.apache.spark.sql.types.StructType())

  private def freshWork(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("e35f-spec")

  private def arrivals() =
    Tables.documents(spark, sf).where(col("doc_id") < LexStreams.ArrivalDocBound)

  private def q0Terms(): Seq[String] = {
    LexStreams.ensureFoldBase(spark, sf)
    spark.read.parquet(LexStreams.foldBaseDir(sf) + "/queries")
      .where(col("qid") === 0).orderBy("term").collect().map(_.getString(1)).toSeq
  }

  test("a document folded in batch N is scoreable after batch N — not before") {
    LexStreams.ensureFoldBase(spark, sf)
    val work = freshWork()
    try {
      val before = LexStreams.probe(spark, sf, work)
        .where(col("doc_id") < LexStreams.ArrivalDocBound).count()
      assert(before == 0, "the base index must not score arrivals")
      // a synthetic arrival saturated with ALL of qid 0's query terms
      // must surface in qid 0's declared top-5 once folded — the
      // sharpest form of "a doc arriving in batch N is served after N"
      import spark.implicits._
      val text = q0Terms().map(t => (t + " ") * 50).mkString(" ")
      val doc = Seq((999999L, text, "en", "t", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.foldBatch(doc, 0L, work)
      val top = LexStreams.probe(spark, sf, work)
        .where(col("qid") === 0).orderBy("rnk").collect()
      assert(top.exists(_.getLong(2) == 999999L),
        s"the folded all-terms arrival must surface in qid 0's top-5: ${top.toSeq}")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("replaying a batch id overwrites its own segment — nothing doubles") {
    LexStreams.ensureFoldBase(spark, sf)
    val work = freshWork()
    try {
      LexStreams.foldBatch(arrivals(), 0L, work)
      val once = LexStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
      LexStreams.foldBatch(arrivals(), 0L, work)
      val twice = LexStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
      assert(once == twice)
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("declared stream drain equals the one-shot manual fold") {
    LexStreams.ensureFoldBase(spark, sf)
    val oneShot = freshWork()
    try {
      val declared = LexStreams.e35fPostingsFold(spark, sf)
        .collect().map(_.toSeq).toSeq
      LexStreams.foldBatch(arrivals(), 0L, oneShot)
      val manual = LexStreams.probe(spark, sf, oneShot)
        .collect().map(_.toSeq).toSeq
      assert(declared.nonEmpty && declared == manual)
    } finally graft.streaming.DocStreams.deleteTree(oneShot)
  }

  test("e35z snapshot: prefix equality, stats roll back, survival, loud expiry") {
    val oneShot = freshWork()
    try {
      val declared = LexStreams.e35zLexSnapshot(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(declared.nonEmpty)
      assert(declared.forall(_.last == LexStreams.DeclaredLexSnap))
      val work = graft.util.PathKeys.fixturePath("stream-e35z", sf, "-4")
      // SURVIVAL: batch 3's step compacted batches 0..2 out of the
      // current read set of BOTH trees; the pinned dirs must resolve
      for (name <- Seq("segs", "lens")) {
        val root = work.resolve(name)
        assert(java.nio.file.Files.isDirectory(root.resolve("compact=2")),
          s"$name: batch 3 must have compacted the earlier batches")
        val pinned = tree(root).pinned(2L)
          .map(java.nio.file.Paths.get(_).getFileName.toString)
        assert(pinned == Seq("batch=0", "batch=1", "batch=2"), s"$name: $pinned")
        pinned.foreach(n => assert(java.nio.file.Files.isDirectory(root.resolve(n)),
          s"$name: compaction must SPARE manifest-referenced dir $n"))
      }
      // PREFIX EQUALITY incl. the stats rollback: the pinned probe
      // equals a one-shot fold of exactly the batch-prefix arrivals
      LexStreams.foldBatch(arrivals().where(col("doc_id") < 12), 0L, oneShot)
      val manual = LexStreams.probe(spark, sf, oneShot)
        .collect().map(_.toSeq).toSeq
      assert(declared.map(_.dropRight(1)) == manual,
        "snapshot probe must equal the one-shot batch-prefix fold")
      // the CURRENT probe scores with batch-3 stats — it must differ
      // (n_docs/avgdl moved even if the ranked docs did not)
      val current = LexStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
      assert(current != manual,
        "the current read set must score with post-snapshot statistics")
      // LOUD EXPIRY: snap 0 expired when snap 3 was written (Retain=3)
      val ex = intercept[IllegalArgumentException](
        LexStreams.segTree(work).pinned(0L))
      assert(ex.getMessage.contains("not resolvable"))
    } finally graft.streaming.DocStreams.deleteTree(oneShot)
  }

  test("e35g: fixture arrivals sit far under the merge bar — the gate must not trip") {
    val row = LexStreams.e35gMergeGate(spark, sf).collect().head
    val share = row.getDouble(4)
    assert(!row.getBoolean(5), f"iid fixture share $share%.4f must not trip")
    assert(share < LexStreams.MergeBar / 2,
      f"fixture share $share%.4f should sit far under the ${LexStreams.MergeBar} bar")
  }

  test("e35g: planted heavy arrivals trip the gate; the merge rebuilds a full base") {
    LexStreams.ensureFoldBase(spark, sf)
    val work = freshWork()
    try {
      import spark.implicits._
      // a planted segment outweighing the base in POSTING mass (the
      // gate's currency): 600 synthetic docs × 20 distinct terms each
      // = 12k postings against the base corpus's ~11k
      val planted = (0 until 600).map { i =>
        val text = (0 until 20).map(j => s"mergeterm${i}x$j").mkString(" ")
        (1000000L + i, text, "en", "t", 0L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.foldBatch(planted, 0L, work)
      val row = LexStreams.mergeReport(spark, sf, work).collect().head
      assert(row.getBoolean(5),
        s"planted segment mass must trip the gate: share ${row.getDouble(4)}")
      // the merge leg rebuilds the base over the SOURCE corpus (base ∪
      // its arrivals): the merged layout is exactly the serve layout's
      // semantics — full-corpus statistics and the re-derived query
      // set — so its base-only probe must equal e35's declared rows
      val merged = LexStreams.mergeIntoBase(spark, sf, work)
      val probed = LexStreams.probeAtDirs(spark, merged.toString, Nil, Nil, Nil)
        .collect().map(_.toSeq).toSeq
      val e35 = graft.ops.CurationOps.e35Bm25Topk(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(probed == e35,
        "the merged base must serve the full-corpus BM25 rows exactly")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("e35t: tier merge collapses the read set, never touches base, never changes rows") {
    import java.nio.file.{Files, Paths}
    // the one-shot reference BEFORE the tiered drain (same content)
    val oneShot = freshWork()
    try {
      LexStreams.foldBatch(arrivals(), 0L, oneShot)
      val reference = LexStreams.probe(spark, sf, oneShot)
        .collect().map(_.toSeq).toSeq
      // base mtimes BEFORE the declared key runs
      val baseRoot = Paths.get(LexStreams.foldBaseDir(sf))
      def baseMtimes(): Map[String, Long] = {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(Files.walk(baseRoot)) { st =>
          st.iterator().asScala.filter(Files.isRegularFile(_))
            .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
            .toMap
        }
      }
      val before = baseMtimes()
      val declared = LexStreams.e35tTierMerge(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(declared == reference,
        "a tier merge must relocate rows, never change the probe's answer")
      assert(baseMtimes() == before,
        "a tier merge must NOT rewrite any base file (only the full " +
          "mass-gated merge touches the base)")
      // the read set collapsed to ONE dir per tree; pinned snapshots
      // keep resolving (manifest-referenced dirs were spared)
      val work = graft.util.PathKeys.fixturePath("stream-e35t", sf, "-4")
      for (name <- Seq("segs", "lens")) {
        val t = tree(work.resolve(name))
        val dirs = t.readSet()
        assert(dirs.size == 1, s"$name read set must collapse to one dir: $dirs")
        assert(Paths.get(dirs.head).getFileName.toString == "compact=3")
        val pinned = t.pinned(2L)
        pinned.foreach(n => assert(Files.isDirectory(Paths.get(n)),
          s"$name: tier merge must spare manifest-referenced dir $n"))
      }
    } finally graft.streaming.DocStreams.deleteTree(oneShot)
  }

  test("e35d: a tombstoned rank-1 arrival vanishes and its stats weight lifts") {
    LexStreams.ensureFoldBase(spark, sf)
    val work = freshWork()
    try {
      import spark.implicits._
      // the e35f visibility plant: an arrival saturated with qid 0's
      // terms takes the declared rank 1 ...
      val text = q0Terms().map(t => (t + " ") * 50).mkString(" ")
      val doc = Seq((999999L, text, "en", "t", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.foldBatch(doc, 0L, work)
      def segs() = LexStreams.segTree(work).readSet()
      def lens() = LexStreams.lensTree(work).readSet()
      val before = LexStreams.probeAtDirs(spark, LexStreams.foldBaseDir(sf),
        segs(), lens(), Nil).where(col("qid") === 0).orderBy("rnk").collect()
      assert(before.head.getLong(2) == 999999L, s"plant must rank 1: ${before.toSeq}")
      // ... then a tombstone fold deletes it: it must vanish from the
      // top-5 entirely AND every remaining score must move (n_docs,
      // avgdl and the query terms' df all shrink with it)
      val dl = spark.read.parquet(work.resolve("lens/batch=0").toString)
        .where(col("doc_id") === 999999L).collect().head.getInt(1)
      Seq((999999L, dl)).toDF("doc_id", "dl")
        .write.parquet(work.resolve("tombs/batch=1").toString)
      val after = LexStreams.probeAtDirs(spark, LexStreams.foldBaseDir(sf),
        segs(), lens(),
        LexStreams.tombTree(work).readSet())
        .where(col("qid") === 0).orderBy("rnk").collect()
      assert(!after.exists(_.getLong(2) == 999999L),
        "a tombstoned doc must never be served")
      val base = LexStreams.probeAtDirs(spark, LexStreams.foldBaseDir(sf),
        Nil, Nil, Nil).where(col("qid") === 0).orderBy("rnk").collect()
      assert(after.map(_.getLong(2)).toSeq == base.map(_.getLong(2)).toSeq,
        "with the only arrival tombstoned, the ranked docs are the base's")
      assert(after.map(_.getDouble(4)).toSeq == base.map(_.getDouble(4)).toSeq,
        "tombstoning the sole arrival must restore the base statistics exactly")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("e35d declared: tombstones honored, pinned pre-delete, merge reconciles") {
    val tombIds = Set(3L, 10L, 17L, 24L, 31L, 38L, 45L)
    val declared = LexStreams.e35dLexTombstone(spark, sf).collect()
    assert(declared.nonEmpty)
    assert(!declared.exists(r => tombIds(r.getLong(2))),
      "no tombstoned doc may be served")
    val work = graft.util.PathKeys.fixturePath("stream-e35d", sf, "-4")
    // PINNED PRE-DELETE VISIBILITY: snapshot 3 (before any delete
    // batch) must equal the one-shot fold of ALL arrivals with NO
    // tombstones — deleted docs still candidates, still counted
    val oneShot = freshWork()
    try {
      LexStreams.foldBatch(arrivals(), 0L, oneShot)
      val pre = LexStreams.probeAtSnapshot(spark, sf, work, 3L)
        .collect().map(_.toSeq).toSeq
      val manual = LexStreams.probeAtDirs(spark, LexStreams.foldBaseDir(sf),
        LexStreams.segTree(oneShot).readSet(),
        LexStreams.lensTree(oneShot).readSet(), Nil)
        .collect().map(_.toSeq).toSeq
      assert(pre == manual,
        "snapshot 3 must reproduce the pre-delete truth exactly")
      // MID-DELETE SNAPSHOT: at snapshot 4 only batch 4's deletes
      // (ids < 24) apply — batch 5's are visible and weighted
      val mid = LexStreams.probeAtSnapshot(spark, sf, work, 4L)
        .collect().map(_.toSeq).toSeq
      val cur = LexStreams.probe(spark, sf, work)
        .collect().map(_.toSeq).toSeq
      assert(mid != pre, "batch-4 deletes must already bite at snapshot 4")
      assert(mid != cur, "batch-5 deletes must NOT bite yet at snapshot 4")
      assert(cur == declared.map(_.toSeq).toSeq)
      // MERGE RECONCILIATION: the rebuilt base physically drops the
      // tombstoned rows and re-derives the statistics over live docs
      val merged = LexStreams.mergeIndexLive(spark, sf, work)
      val mergedPost = spark.read.parquet(merged.resolve("postings").toString)
      assert(mergedPost.where(col("doc_id").isin(tombIds.toSeq.map(Long.box): _*))
        .count() == 0, "merge must physically drop tombstoned postings")
      val nAll = Tables.documents(spark, sf).count()
      val st = spark.read.parquet(merged.resolve("stats").toString).collect().head
      assert(st.getLong(0) == nAll - tombIds.size,
        s"merged n_docs must be live-only: ${st.getLong(0)} vs ${nAll - tombIds.size}")
    } finally graft.streaming.DocStreams.deleteTree(oneShot)
  }

  test("e35d: replaying a delete batch overwrites its tombstone fold — nothing double-subtracts") {
    LexStreams.ensureFoldBase(spark, sf)
    val work = freshWork()
    try {
      import spark.implicits._
      LexStreams.foldBatch(arrivals(), 0L, work)
      val del = Seq((3L, null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.upsertFoldBatch(spark, del, 1L, work, LexStreams.foldBaseDir(sf))
      def probed() = LexStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
      val once = probed()
      LexStreams.upsertFoldBatch(spark, del, 1L, work, LexStreams.foldBaseDir(sf))
      assert(probed() == once, "a replayed delete batch must overwrite, never stack")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("a token-less arrival shifts n_docs/avgdl — lens fold, no posting row") {
    LexStreams.ensureFoldBase(spark, sf)
    val work = freshWork()
    val baseWork = freshWork() // no folds — the base-only probe
    try {
      import spark.implicits._
      val baseOnly = LexStreams.probe(spark, sf, baseWork)
        .collect().map(_.toSeq).toSeq
      val empty = Seq((999998L, "   ", "en", "t", 3L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.foldBatch(empty, 0L, work)
      val shifted = LexStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
      // the empty doc can never be a hit (no posting rows) but it raises
      // n_docs and lowers avgdl — every BM25 score must move
      assert(baseOnly.map(r => (r(0), r(2))) == shifted.map(r => (r(0), r(2))),
        "an empty arrival must not change WHICH docs rank")
      assert(baseOnly.map(_(4)) != shifted.map(_(4)),
        "an empty arrival must shift the scores through n_docs/avgdl")
    } finally {
      graft.streaming.DocStreams.deleteTree(work)
      graft.streaming.DocStreams.deleteTree(baseWork)
    }
  }

  test("e35u: an upsert supersedes the prior version but keeps the doc counted — " +
      "UPDATE is not DELETE") {
    LexStreams.ensureFoldBase(spark, sf)
    val root = LexStreams.foldBaseDir(sf)
    val work = freshWork()
    val delWork = freshWork()
    try {
      import spark.implicits._
      // version 1: a rank-1 plant saturated with qid 0's terms
      val text = q0Terms().map(t => (t + " ") * 50).mkString(" ")
      val v1 = Seq((999999L, text, "en", "t", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.upsertFoldBatch(spark, v1, 0L, work, root)
      // no prior resolved at batch 0 → no tombs dir exists yet
      def dirs(w: java.nio.file.Path, t: String) = tree(w.resolve(t)).readSet()
      def probed(w: java.nio.file.Path) =
        LexStreams.probeAtDirs(spark, root, dirs(w, "segs"),
          dirs(w, "lens"), dirs(w, "tombs"))
          .where(col("qid") === 0).orderBy("rnk").collect()
      val before = probed(work)
      assert(before.head.getLong(2) == 999999L, s"plant must rank 1: ${before.toSeq}")
      // version 2: the SAME doc re-arrives with no query term at all —
      // the old version must stop ranking, the new one still counts
      val v2 = Seq((999999L, "zzz zzz zzz", "en", "t", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.upsertFoldBatch(spark, v2, 1L, work, root)
      val after = probed(work)
      assert(!after.exists(_.getLong(2) == 999999L),
        "the superseded version must never be served")
      // the DISTINGUISHING claim vs e35d: a DELETE of the same doc
      // removes its statistics weight; the UPSERT keeps the doc in
      // n_docs (at its new dl), so the two leave DIFFERENT scores
      LexStreams.upsertFoldBatch(spark, v1, 0L, delWork, root)
      val dl = spark.read.parquet(delWork.resolve("lens/batch=0").toString)
        .where(col("doc_id") === 999999L).collect().head.getInt(1)
      Seq((999999L, dl)).toDF("doc_id", "dl")
        .write.parquet(delWork.resolve("tombs-del/batch=1").toString)
      val deleted = LexStreams.probeAtDirs(spark, root,
        dirs(delWork, "segs"), dirs(delWork, "lens"),
        tree(delWork.resolve("tombs-del")).readSet())
        .where(col("qid") === 0).orderBy("rnk").collect()
      assert(after.map(_.getLong(2)).toSeq == deleted.map(_.getLong(2)).toSeq,
        "both verbs drop the plant from the ranking")
      assert(after.map(_.getDouble(4)).toSeq != deleted.map(_.getDouble(4)).toSeq,
        "an upsert keeps the doc counted (n_docs/avgdl) — a delete does not")
    } finally {
      graft.streaming.DocStreams.deleteTree(work)
      graft.streaming.DocStreams.deleteTree(delWork)
    }
  }

  test("delete-then-re-add: the re-added doc lives and the answer equals " +
      "the never-deleted one — no double-subtract") {
    LexStreams.ensureFoldBase(spark, sf)
    val root = LexStreams.foldBaseDir(sf)
    val work = freshWork()
    val refWork = freshWork() // v1 added, never deleted — the reference
    try {
      import spark.implicits._
      val text = q0Terms().map(t => (t + " ") * 50).mkString(" ")
      val doc = Seq((999999L, text, "en", "t", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.upsertFoldBatch(spark, doc, 0L, work, root)
      LexStreams.upsertFoldBatch(spark, doc, 0L, refWork, root)
      def dirs(w: java.nio.file.Path, t: String) = tree(w.resolve(t)).readSet()
      def probed(w: java.nio.file.Path) =
        LexStreams.probeAtDirs(spark, root, dirs(w, "segs"),
          dirs(w, "lens"), dirs(w, "tombs"))
          .where(col("qid") === 0).orderBy("rnk").collect()
      // DELETE at batch 1: a batch-bounded tombstone (upto = 1, the
      // Lucene delete — kills versions older than it, not the future)
      val dl = spark.read.parquet(work.resolve("lens/batch=0").toString)
        .where(col("doc_id") === 999999L).collect().head.getInt(1)
      Seq((999999L, dl, 1L)).toDF("doc_id", "dl", "upto")
        .write.parquet(work.resolve("tombs/batch=1").toString)
      assert(!probed(work).exists(_.getLong(2) == 999999L),
        "the deleted doc must not be served")
      // RE-ADD at batch 2: the upsert resolves no LIVE prior (v1 is
      // dead) so it must NOT tombstone again — the re-added version
      // serves and the stats weight counts exactly once
      LexStreams.upsertFoldBatch(spark, doc, 2L, work, root)
      val readded = probed(work)
      assert(readded.head.getLong(2) == 999999L,
        s"the re-added doc must serve again: ${readded.toSeq}")
      assert(readded.map(_.toSeq).toSeq == probed(refWork).map(_.toSeq).toSeq,
        "delete-then-re-add must equal never-deleted exactly — a second " +
          "tombstone would have subtracted the doc's weight twice")
    } finally {
      graft.streaming.DocStreams.deleteTree(work)
      graft.streaming.DocStreams.deleteTree(refWork)
    }
  }

  test("e35u: replaying an upsert batch overwrites its folds — nothing doubles") {
    LexStreams.ensureFoldBase(spark, sf)
    val root = LexStreams.foldBaseDir(sf)
    val work = freshWork()
    try {
      LexStreams.upsertFoldBatch(spark, arrivals(), 0L, work, root)
      // the update batch re-arrives doc 9 with doubled text
      val upd = arrivals().where(col("doc_id") === 9L)
        .withColumn("text", LexStreams.updatedText(col("text")))
      def dirs(t: String) =
        tree(work.resolve(t)).readSet()
      def probed() = LexStreams.probeAtDirs(spark, root, dirs("segs"),
        dirs("lens"), dirs("tombs")).collect().map(_.toSeq).toSeq
      LexStreams.upsertFoldBatch(spark, upd, 1L, work, root)
      val once = probed()
      LexStreams.upsertFoldBatch(spark, upd, 1L, work, root)
      assert(probed() == once, "a replayed upsert batch must overwrite, never stack")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("e35u declared: pre-update snapshot is the append lifecycle; merge " +
      "reconciles from the index without re-analysis") {
    val declared = LexStreams.e35uLexUpsert(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(declared.nonEmpty)
    val work = graft.util.PathKeys.fixturePath("stream-e35u", sf, "-4")
    // snapshot 3 — before any update batch — must equal the e35f
    // append-lifecycle rows exactly: until an update arrives, the
    // upsert lifecycle IS the append lifecycle
    val pre = LexStreams.probeAtSnapshot(spark, sf, work, 3L)
      .collect().map(_.toSeq).toSeq
    val e35f = LexStreams.e35fPostingsFold(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(pre == e35f,
      "snapshot 3 must reproduce the pre-update (append-only) truth exactly")
    // the updates bite after: doubled text moves dl/avgdl, so scores
    // shift even where the ranked ids agree
    assert(declared != pre, "the update batches must change the served rows")
    // MID-UPDATE SNAPSHOT: at snapshot 4 only batch 4's updates
    // (doc_id < 24) apply — docs 25/29/33 still serve their original
    val mid = LexStreams.probeAtSnapshot(spark, sf, work, 4L)
      .collect().map(_.toSeq).toSeq
    assert(mid != pre, "batch-4 updates must already bite at snapshot 4")
    assert(mid != declared, "batch-5 updates must NOT bite yet at snapshot 4")
    // MERGE FROM THE INDEX: the merged base reproduces the declared
    // rows without re-tokenizing a single document, physically carries
    // the new versions (doc 17's merged dl = 2 × its original dl),
    // and counts every doc exactly once
    val merged = LexStreams.mergeIndexLive(spark, sf, work)
    val probed = LexStreams.probeAtDirs(spark, merged.toString, Nil, Nil, Nil)
      .collect().map(_.toSeq).toSeq
    assert(probed == declared,
      "the merged base must serve the upsert-lifecycle rows exactly")
    val origDl = spark.read
      .parquet(LexStreams.foldBaseDir(sf) + "/lens")
      .where(col("doc_id") === 17L).collect().head.getInt(1)
    val mergedLens = spark.read.parquet(merged.resolve("lens").toString)
      .where(col("doc_id") === 17L).collect()
    assert(mergedLens.length == 1, "exactly one live version per doc")
    assert(mergedLens.head.getInt(1) == 2 * origDl,
      "the merged lens must carry the NEW version's length (doubled text)")
    val nAll = Tables.documents(spark, sf).count()
    val st = spark.read.parquet(merged.resolve("stats").toString).collect().head
    assert(st.getLong(0) == nAll,
      s"upserts replace, never add: merged n_docs ${st.getLong(0)} vs $nAll")
  }

  test("unbounded-batch fallback paths are row-identical to the bounded forms") {
    // the landing-bytes guard (r15 verdict ask #5) routes oversized CDC
    // batches onto fully distributed forms (no driver collect); this
    // pins fallback ≡ bounded on both fold verbs — append fold, and the
    // upsert verb that also carries CDC deletes — by comparing the
    // probes over the resulting fold trees.
    LexStreams.ensureFoldBase(spark, sf)
    val root = LexStreams.foldBaseDir(sf)
    def probeRows(work: java.nio.file.Path): Seq[Seq[Any]] =
      LexStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
    // 1. the driver-written folds (the bounded path's writes) must be
    //    row-identical to the distributed lens and postings writes
    val (wA, wB) = (freshWork(), freshWork())
    try {
      LexStreams.upsertFoldBatch(spark, arrivals(), 0L, wA, root)
      LexStreams.foldBatch(arrivals(), 0L, wB)
      assert(probeRows(wA) == probeRows(wB), "driver-written folds diverged")
      def fold(w: java.nio.file.Path, t: String) = spark.read
        .parquet(w.resolve(s"$t/batch=0").toString)
        .collect().map(_.toSeq).toSet
      for (t <- Seq("lens", "segs"))
        assert(fold(wA, t) == fold(wB, t), s"$t fold rows diverged")
    } finally { graft.streaming.DocStreams.deleteTree(wA)
      graft.streaming.DocStreams.deleteTree(wB) }
    // 2. the upsert verb (e35u's and e35d's): arrivals, then a
    //    re-arrival of doc 9, then a CDC delete batch
    import spark.implicits._
    val upd = Tables.documents(spark, sf).where(col("doc_id") === 9L)
      .withColumn("text", LexStreams.updatedText(col("text")))
    val del = Seq((3L, null: String, null: String, null: String, null: java.lang.Long))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars").cast("long"))
    val (wE, wF) = (freshWork(), freshWork())
    try {
      for ((w, b) <- Seq((wE, true), (wF, false))) {
        LexStreams.upsertFoldBatch(spark, arrivals(), 0L, w, root, bounded = b)
        LexStreams.upsertFoldBatch(spark, upd, 1L, w, root, bounded = b)
        LexStreams.upsertFoldBatch(spark, del, 2L, w, root, bounded = b)
      }
      assert(probeRows(wE) == probeRows(wF), "upsertFoldBatch fallback diverged")
      def tombs(w: java.nio.file.Path, id: Long) = spark.read
        .parquet(w.resolve(s"tombs/batch=$id").toString)
        .collect().map(_.toSeq).toSet
      for (id <- Seq(1L, 2L))
        assert(tombs(wE, id) == tombs(wF, id), s"upsert tombstone rows diverged at $id")
      assert(Seq(wE, wF).forall(w =>
          !java.nio.file.Files.exists(w.resolve("segs/batch=2"))),
        "an all-delete batch must fold no segment")
    } finally { graft.streaming.DocStreams.deleteTree(wE)
      graft.streaming.DocStreams.deleteTree(wF) }
  }

  test("the bounded-landing guard reads the RESTAGED landing, not the missing one") {
    // ADVICE #1 at the root: the guard must be decided from the landing
    // staging returned. With the landing deleted, the pre-staging bytes
    // are 0 — any bound would pass and the driver-collect path would
    // run over a restaged landing of any size. A bound below the
    // restaged bytes must route every trigger onto the distributed form.
    LexStreams.ensureFoldBase(spark, sf)
    val (wBounded, wFallback) = (freshWork(), freshWork())
    val descs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descs.add)
    }
    try {
      LexStreams.upsertDrain(spark, sf, wBounded, LexStreams.cdcLanding(spark, sf))
      val landing = LexStreams.cdcLanding(spark, sf).path
      graft.streaming.DocStreams.deleteTree(landing)
      assert(!java.nio.file.Files.exists(landing))
      spark.sparkContext.addSparkListener(listener)
      try {
        // a `Landing` exists only once staged: the call restages it,
        // and the guard reads the restaged bytes
        LexStreams.upsertDrain(spark, sf, wFallback,
          LexStreams.cdcLanding(spark, sf), maxBytes = 1L)
        Thread.sleep(500) // let the listener bus deliver the job starts
      } finally spark.sparkContext.removeSparkListener(listener)
      val seen = descs.asScala.toSet
      assert(java.nio.file.Files.exists(landing), "the drain must restage its landing")
      assert(!seen.exists(_.endsWith(": classify collect")),
        s"a landing over the bound must not take the driver-collect path: $seen")
      assert(seen.contains("lexfold 0: lens fold"),
        s"the distributed lens fold must have run: $seen")
      assert(LexStreams.probe(spark, sf, wFallback).collect().map(_.toSeq).toSeq ==
        LexStreams.probe(spark, sf, wBounded).collect().map(_.toSeq).toSeq,
        "the distributed fallback must serve the bounded run's rows")
    } finally { graft.streaming.DocStreams.deleteTree(wBounded)
      graft.streaming.DocStreams.deleteTree(wFallback) }
  }

  test("a CDC update record supersedes its key's live version and a delete " +
      "record drops its key — through the verb the e35d drain runs") {
    // A CDC batch re-arrives one base key (17) and one earlier arrival
    // (9); the next deletes a third key. After each, the index must
    // serve exactly the BM25 answer over the corpus at that point: a
    // base built over it, with the fold base's frozen query set.
    LexStreams.ensureFoldBase(spark, sf)
    val root = LexStreams.foldBaseDir(sf)
    val (work, truth) = (freshWork(), freshWork())
    try {
      val docs = Tables.documents(spark, sf)
      val reArrived = Seq(17L, 9L).map(Long.box)
      val updated = docs.withColumn("text",
        when(col("doc_id").isin(reArrived: _*), LexStreams.updatedText(col("text")))
          .otherwise(col("text")))
      def truthRows(corpus: org.apache.spark.sql.DataFrame) = {
        graft.streaming.DocStreams.deleteTree(truth)
        LexStreams.buildBaseLayout(spark, truth.toString, corpus)
        spark.read.parquet(s"$root/queries").write.mode("overwrite")
          .parquet(truth.resolve("queries").toString)
        LexStreams.probeAtDirs(spark, truth.toString, Nil, Nil, Nil).collect().map(_.toSeq).toSeq
      }
      def served() = LexStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
      def mergedDocs() = spark.read
        .parquet(LexStreams.mergeIndexLive(spark, sf, work).resolve("stats").toString)
        .head().getLong(0)
      LexStreams.upsertFoldBatch(spark, arrivals(), 0L, work, root)
      LexStreams.upsertFoldBatch(spark,
        updated.where(col("doc_id").isin(reArrived: _*)), 1L, work, root)
      val afterUpdate = truthRows(updated)
      assert(served() == afterUpdate,
        "each re-arrived key must serve its new version only")
      assert(mergedDocs() == docs.count(), "an update must not add a document")
      // delete a doc the index serves now, neither re-arrived key
      val gone = afterUpdate.map(_(2).asInstanceOf[Long])
        .find(id => !reArrived.contains(Long.box(id))).get
      import spark.implicits._
      val del = Seq((gone, null: String, null: String, null: String, null: java.lang.Long))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      LexStreams.upsertFoldBatch(spark, del, 2L, work, root)
      val afterDelete = served()
      assert(!afterDelete.exists(_(2) == gone), s"deleted doc $gone must not be served")
      assert(afterDelete == truthRows(updated.where(col("doc_id") =!= gone)),
        "after the delete the index must serve the remaining corpus exactly")
      assert(mergedDocs() == docs.count() - 1, "a delete must remove one document")
    } finally {
      graft.streaming.DocStreams.deleteTree(work)
      graft.streaming.DocStreams.deleteTree(truth)
    }
  }

  test("e35u: a tier merge through the tree accessors keeps the upsert answer") {
    // The merge rewrites the folds with the accessors' schema; one
    // without `ver` drops every version, and the tombstones then retire
    // the wrong rows (or none).
    LexStreams.ensureFoldBase(spark, sf)
    val work = freshWork()
    try {
      LexStreams.upsertDrain(spark, sf, work, LexStreams.upsertLanding(spark, sf))
      def probed() = LexStreams.probe(spark, sf, work).collect().map(_.toSeq).toSeq
      val before = probed()
      val trees = Seq(LexStreams.segTree(work), LexStreams.lensTree(work),
        LexStreams.tombTree(work))
      assert(trees.forall(_.readSet().size > FoldTree.TierFanout))
      trees.foreach(_.tierMerge(spark))
      assert(trees.forall(_.readSet().size == 1), "every tree must have merged")
      assert(probed() == before, "a tier merge must never change the answer")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("a first-arrival bounded batch runs exactly 1 job and writes no tombstone") {
    // every key of an arrival batch lies outside the base lens range
    // (doc_id >= ArrivalDocBound) and outside each earlier batch's lens
    // range, so the footers rule the prior lookup out: the classify
    // collect is the trigger's only job, every fold written on the driver
    LexStreams.ensureFoldBase(spark, sf)
    val root = LexStreams.foldBaseDir(sf)
    val work = freshWork()
    try {
      for ((lo, id) <- Seq((0L, 0L), (4L, 1L))) {
        val batch = arrivals().where(col("doc_id") >= lo && col("doc_id") < lo + 4)
        val (done, jobs) = SyntheticOrd.jobsOf(spark)(
          LexStreams.upsertFoldBatch(spark, batch, id, work, root))
        done.get
        assert(jobs == 1, s"arrival batch $id ran $jobs jobs")
        assert(LexStreams.segTree(work).readSet().size == id + 1)
      }
      assert(LexStreams.tombTree(work).readSet().isEmpty,
        "a first arrival has no prior to tombstone")
    } finally graft.streaming.DocStreams.deleteTree(work)
  }

  test("the footer-pruned lookup still resolves a base doc's update and a " +
      "delete-then-re-add, row-identical to the distributed verb") {
    // an update of base doc 17 and a delete, then re-add, of arrival 3:
    // the driver-written tombstones and folds must equal the fallback's,
    // which resolves every prior with no footer pruning
    LexStreams.ensureFoldBase(spark, sf)
    val root = LexStreams.foldBaseDir(sf)
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val upd = docs.where(col("doc_id") === 17L)
      .withColumn("text", LexStreams.updatedText(col("text")))
    val del = Seq((3L, null: String, null: String, null: String, null: java.lang.Long))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val readd = docs.where(col("doc_id") === 3L)
    val (wE, wF) = (freshWork(), freshWork())
    try {
      for ((w, b) <- Seq((wE, true), (wF, false))) {
        LexStreams.upsertFoldBatch(spark, arrivals(), 0L, w, root, bounded = b)
        LexStreams.upsertFoldBatch(spark, upd, 1L, w, root, bounded = b)
        LexStreams.upsertFoldBatch(spark, del, 2L, w, root, bounded = b)
        LexStreams.upsertFoldBatch(spark, readd, 3L, w, root, bounded = b)
      }
      def rows(w: java.nio.file.Path, dir: String) = {
        val p = w.resolve(dir)
        if (!java.nio.file.Files.exists(p)) Set.empty[Seq[Any]]
        else spark.read.parquet(p.toString).collect().map(_.toSeq).toSet
      }
      val baseDl = spark.read.parquet(s"$root/lens").where(col("doc_id") === 17L)
        .collect().head.getInt(1)
      assert(rows(wE, "tombs/batch=1") == Set(Seq(17L, baseDl, 1L)),
        "the update must tombstone the base version of doc 17")
      assert(rows(wE, "tombs/batch=2").map(_.head) == Set(3L),
        "the delete must tombstone arrival 3")
      assert(rows(wE, "tombs/batch=3").isEmpty,
        "the re-add finds no live prior and must not tombstone again")
      for (t <- Seq("tombs", "lens", "segs"); id <- 0 to 3)
        assert(rows(wE, s"$t/batch=$id") == rows(wF, s"$t/batch=$id"),
          s"$t/batch=$id diverged from the distributed verb")
      assert(LexStreams.probe(spark, sf, wE).collect().map(_.toSeq).toSeq ==
        LexStreams.probe(spark, sf, wF).collect().map(_.toSeq).toSeq)
    } finally { graft.streaming.DocStreams.deleteTree(wE)
      graft.streaming.DocStreams.deleteTree(wF) }
  }

  test("every job of a cold e35u write is described e35u_lex_upsert:<phase>") {
    // restage the fold base and the landing, so their jobs run in the write
    graft.streaming.DocStreams.deleteTree(java.nio.file.Paths.get(LexStreams.foldBaseDir(sf)))
    graft.streaming.DocStreams.deleteTree(LexStreams.upsertLanding(spark, sf).path)
    val (done, descs) = SyntheticOrd.jobDescriptionsOf(spark)(
      LexStreams.e35uLexUpsert(spark, sf))
    done.get
    val labels = descs.map(_.getOrElse("<none>"))
    assert(labels.nonEmpty && labels.forall(_.startsWith("e35u_lex_upsert:")),
      s"jobs without their key and phase: ${labels.filterNot(_.startsWith("e35u_lex_upsert:"))}")
    for (phase <- Seq("fold-base staging", "landing staging", "batch 3: compaction",
        "upsert 0: classify collect", "upsert 4: live-prior lookup", "probe"))
      assert(labels.contains(s"e35u_lex_upsert:$phase"), s"no $phase job in $labels")
  }
}
