package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.RetrievalOps
import graft.sources.IvfServe

/** e71 — hybrid BM25 + IVF-multiprobe retrieval with RRF fusion.
  * Claims beyond the DuckDB oracle:
  *  (1) shape: exactly 5 rows per query, dense ranks 1..5, no query
  *      doc retrieved as its own candidate;
  *  (2) the fused score IS reciprocal-rank fusion: a plain-Scala
  *      1/(60+rank) recompute from the emitted leg ranks matches
  *      rrf_score bit-for-bit at the declared 6-dp rounding;
  *  (3) fusion is load-bearing on the fixture: at least one answer
  *      row is surfaced by BOTH legs, and a dual-leg row outranks
  *      every single-leg row of the same query (2/61-ish beats 1/61 —
  *      the reason hybrid retrieval exists);
  *  (4) leg consistency: the vector leg's candidates contain e2w's
  *      declared top-3 for the shared queries (same layout, same
  *      routing, same tie discipline — e71 only deepens k). */
class E71RetrievalSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private lazy val rows = RetrievalOps.e71HybridRrf(spark, sf).collect()

  test("shape: 5 dense-ranked rows per query, self excluded") {
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until RetrievalOps.NQueries).toSet)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5), s"ranks of q=$q")
      assert(rs.forall(_.getLong(2) != q), s"q=$q retrieved itself")
    }
  }

  test("rrf_score is the declared 1/(60+rank) fusion, 6-dp") {
    def r6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val lex = if (r.isNullAt(4)) 0.0 else 1.0 / (RetrievalOps.RrfK + r.getInt(4))
      val vec = if (r.isNullAt(5)) 0.0 else 1.0 / (RetrievalOps.RrfK + r.getInt(5))
      assert(r.getDouble(3) == r6(lex + vec),
        s"rrf mismatch at (${r.getLong(0)}, ${r.getLong(2)})")
    }
  }

  test("a dual-leg candidate exists and outranks single-leg rows") {
    val dual = rows.filter(r => !r.isNullAt(4) && !r.isNullAt(5))
    assert(dual.nonEmpty, "fixture must exercise actual fusion")
    dual.foreach { d =>
      rows.filter(r => r.getLong(0) == d.getLong(0) &&
          (r.isNullAt(4) || r.isNullAt(5)))
        .foreach(s => assert(d.getDouble(3) > s.getDouble(3),
          s"dual-leg row must out-score single-leg rows for q=${d.getLong(0)}"))
    }
  }

  test("vector leg contains e2w's declared top-3 for the shared queries") {
    val e2w = IvfServe.e2wIvfMultiprobe(spark, sf).collect()
      .filter(_.getLong(0) < RetrievalOps.NQueries)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val vecLeg = IvfServe.multiprobeTopK(spark, sf, IvfServe.NProbe,
        RetrievalOps.LegK, RetrievalOps.NQueries).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e2w.subsetOf(vecLeg),
      s"missing: ${e2w.diff(vecLeg)} — the deeper leg must contain the top-3")
  }

  test("e71v: both legs pinned at ONE version; post-snapshot arrivals on neither") {
    import graft.streaming.{LexStreams, VecStreams}
    val declared = RetrievalOps.e71vHybridAtSnapshot(spark, sf).collect()
    assert(declared.nonEmpty)
    assert(declared.forall(_.getLong(6) == RetrievalOps.DeclaredHybridSnap))
    // shape contract carries over: dense top-5, self excluded
    declared.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
      assert(rs.forall(_.getLong(2) != q))
    }
    val lexWork = graft.util.PathKeys.fixturePath("stream-e71v-lex", sf, "-4")
    val vecWork = graft.util.PathKeys.fixturePath("stream-e71v-vec", sf, "-4")
    // CONSISTENCY: the two manifests pin the SAME batch prefix —
    // batch-3 content (ids 12..15) is in the CURRENT read set of both
    // trees but in NEITHER pinned set
    for ((t, idCol) <- Seq((LexStreams.segTree(lexWork), "doc_id"),
        (VecStreams.foldTree(vecWork), "vec_id"))) {
      val tree = t.root.getFileName
      val pinnedDirs = t.pinned(RetrievalOps.DeclaredHybridSnap)
      val pinnedLate = spark.read.parquet(pinnedDirs: _*)
        .where(org.apache.spark.sql.functions.col(idCol) >= 12 &&
          org.apache.spark.sql.functions.col(idCol) < 16).count()
      assert(pinnedLate == 0, s"$tree: pinned set must exclude batch 3")
      val curLate = spark.read.parquet(t.readSet(): _*)
        .where(org.apache.spark.sql.functions.col(idCol) >= 12 &&
          org.apache.spark.sql.functions.col(idCol) < 16).count()
      assert(curLate > 0, s"$tree: current set must carry batch 3")
    }
    // PREFIX EQUALITY: the pinned fused read equals the fused read
    // over one-shot folds of exactly the prefix arrivals (ids < 12)
    // on BOTH legs — the reproducibility contract over the FUSED rows
    val lexOne = java.nio.file.Files.createTempDirectory("e71v-lex")
    val vecOne = java.nio.file.Files.createTempDirectory("e71v-vec")
    try {
      import org.apache.spark.sql.functions.col
      LexStreams.foldBatch(Tables.documents(spark, sf)
        .where(col("doc_id") < 12), 0L, lexOne)
      VecStreams.e2fFoldBatch(Tables.embeddings(spark, sf)
          .where(col("vec_id") < 12), 0L,
        IvfServe.centroidsAt(spark, VecStreams.foldBaseDir(sf)), vecOne)
      val manual = RetrievalOps.fuseAtDirs(spark, sf,
          LexStreams.segTree(lexOne).readSet(),
          LexStreams.lensTree(lexOne).readSet(),
          VecStreams.foldTree(vecOne).readSet())
        .collect().map(_.toSeq).toSeq
      assert(declared.map(_.toSeq.dropRight(1)).toSeq == manual,
        "the pinned fused read must equal the one-shot prefix replay")
    } finally {
      graft.streaming.DocStreams.deleteTree(lexOne)
      graft.streaming.DocStreams.deleteTree(vecOne)
    }
  }

  test("e71f: every fused doc satisfies the predicate; the vector leg " +
      "honors the declared over-fetch cap") {
    import org.apache.spark.sql.functions.col
    val filtered = RetrievalOps.e71fFilteredHybrid(spark, sf).collect()
    assert(filtered.nonEmpty)
    // (1) the predicate held on EVERY fused doc — both legs filtered
    val allowed = Tables.documents(spark, sf)
      .where(col("source") === RetrievalOps.HybridFilterSource)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    filtered.foreach(r => assert(allowed(r.getLong(2)),
      s"doc ${r.getLong(2)} violates source=${RetrievalOps.HybridFilterSource}"))
    // (2) post-filter semantics: every vector-leg survivor came from
    // the capped over-fetch shortlist — a passing doc OUTSIDE the top
    // OverFetch·LegK by cosine must NOT appear, even though the
    // predicate would admit it (recall bounded by the declared
    // over-fetch is the contract, not a bug)
    val shortlist = IvfServe.multiprobeTopK(spark, sf, IvfServe.NProbe,
        RetrievalOps.OverFetch * RetrievalOps.LegK, RetrievalOps.NQueries)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    filtered.filter(!_.isNullAt(5)).foreach(r =>
      assert(shortlist((r.getLong(0), r.getLong(2))),
        s"vector-leg survivor (${r.getLong(0)}, ${r.getLong(2)}) " +
          "not in the declared over-fetch shortlist"))
    // (3) the filter is load-bearing: the filtered answer differs from
    // the unfiltered one (src7 is a 5% stratum — e71's top-5 cannot
    // all lie inside it on this fixture)
    assert(filtered.map(_.getLong(2)).toSet != rows.map(_.getLong(2)).toSet,
      "the predicate must actually restrict the answer")
  }

  test("e71q: one ad-hoc request through both indexes — no staged query set, " +
      "no self-exclusion, both legs fused") {
    val fused = RetrievalOps.e71qAdhocHybrid(spark, sf).collect()
    assert(fused.nonEmpty)
    // both declared constants cover q_ids 0..1 and ONLY those
    val qids = fused.map(_.getLong(0)).distinct.sorted.toSeq
    assert(qids == Seq(0L, 1L), s"ad-hoc request q_ids: $qids")
    // both legs CONTRIBUTE to the fused answer (the terms and the
    // vector of an ad-hoc request need not agree on content, so a
    // dual-ranked candidate is not guaranteed — but a missing leg is
    // a broken fusion)
    assert(fused.exists(r => !r.isNullAt(4)), "lexical leg missing from fusion")
    assert(fused.exists(r => !r.isNullAt(5)), "vector leg missing from fusion")
    // and the fused score IS the declared RRF of the leg ranks
    def r6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    fused.foreach { r =>
      val lex = if (r.isNullAt(4)) 0.0 else 1.0 / (RetrievalOps.RrfK + r.getInt(4))
      val vec = if (r.isNullAt(5)) 0.0 else 1.0 / (RetrievalOps.RrfK + r.getInt(5))
      assert(r.getDouble(3) == r6(lex + vec),
        s"rrf mismatch at (${r.getLong(0)}, ${r.getLong(2)})")
    }
    // the vector leg is e2q's exact top-3 prefix (same routing, same
    // rescore, deeper cut) — the two ad-hoc paths cannot drift
    val e2qTop = IvfServe.e2qAdhocVectors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val vecLeg = fused.filter(r => !r.isNullAt(5) && r.getInt(5) <= 3)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // a rank ≤ 3 vector-leg survivor in the fused top-5 must be in
    // e2q's declared top-3 (subset: fusion may cut it before rank 5)
    assert(vecLeg.subsetOf(e2qTop),
      s"vector leg drifted from e2q: ${vecLeg.diff(e2qTop)}")
  }
}
