package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.IvfServe

/** The trained-IVF SERVE family (r11 verdict asks #1/#2/#7). Claims:
  * the probe actually PRUNES (PartitionFilters on the trained cell;
  * directories read bounded by queries × nprobe, strictly fewer than
  * present), multi-probe's candidate superset can only raise recall
  * against the exact top-3, the filtered-ANN key shows BOTH pruning
  * layers (partition dirs + pushed row predicate) and its outputs
  * honor the predicate, and the build re-stages on source change. */
class IvfServeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def listCellDirs(root: String): Array[String] = {
    val f = new java.io.File(root + "/lists")
    f.listFiles().filter(d => d.isDirectory && d.getName.startsWith("cell="))
      .map(_.getName).sorted
  }

  test("e2v probe: PartitionFilters on cell; dirs read ≤ |queries|, strictly fewer than present") {
    val df = IvfServe.e2vIvfServe(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"),
      s"cell predicate must prune directories, not filter rows: $scanLine")
    val present = listCellDirs(IvfServe.serveDir(sf))
    val probed = IvfServe.probedCells(spark, sf, 1)
    assert(present.nonEmpty && probed.nonEmpty)
    assert(probed.length <= 8, s"8 queries probe at most 8 cells: $probed")
    assert(probed.length < present.length,
      s"probe must read fewer lists than exist: ${probed.length}/${present.length}")
    assert(probed.map(c => s"cell=$c").toSet.subsetOf(present.toSet))
    assert(df.collect().nonEmpty)
  }

  test("the trained lists' declared schema equals their footer-inferred one") {
    IvfServe.ensure(spark, sf)
    graft.streaming.VecStreams.ensureFoldBase(spark, sf)
    for (root <- Seq(IvfServe.serveDir(sf), graft.streaming.VecStreams.foldBaseDir(sf))) {
      val inferred = spark.read.parquet(s"$root/lists").schema
      assert(inferred == IvfServe.listsSchema, s"$root: inferred ${inferred.treeString}")
    }
  }

  test("e2w multiprobe: dirs ≤ queries × nprobe; candidate superset ⇒ recall never drops") {
    val p1 = IvfServe.probedCells(spark, sf, 1)
    val p4 = IvfServe.probedCells(spark, sf, IvfServe.NProbe)
    assert(p4.length <= 8 * IvfServe.NProbe)
    assert(p1.toSet.subsetOf(p4.toSet),
      "probe 1 is the query's own cell — multiprobe must sweep a superset")
    // recall against the exact full-corpus top-3 (driver-side replay,
    // the IvfLayoutSpec pattern): the multiprobe superset can only
    // add candidates, so per-query hits never drop
    val v = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def exactTop3(q: Long): Set[Long] =
      v.toSeq.filter(_._1 != q)
        .map { case (c, x) => (c, cos(v(q), x)) }
        .sortBy { case (c, s2) => (-s2, c) }.take(3).map(_._1).toSet
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getLong(0))
      byQ.map { case (q, rs) =>
        rs.map(_.getLong(2)).toSet.intersect(exactTop3(q)).size / 3.0
      }.sum / byQ.size
    }
    val r1 = recall(IvfServe.e2vIvfServe(spark, sf).collect())
    val r4 = recall(IvfServe.e2wIvfMultiprobe(spark, sf).collect())
    info(f"recall@3: nprobe=1 $r1%.3f -> nprobe=${IvfServe.NProbe} $r4%.3f " +
      f"(cells read ${p1.length} -> ${p4.length} of ${listCellDirs(IvfServe.serveDir(sf)).length})")
    assert(r4 >= r1,
      f"multiprobe is a candidate superset — recall must not drop: $r4%.3f < $r1%.3f")
  }

  test("e2a filtered ANN: both pruning layers in the plan; outputs honor the predicate") {
    val df = IvfServe.e2aFilteredAnn(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"), s"partition layer missing: $scanLine")
    assert(scanLine.contains("PushedFilters") && scanLine.contains("label"),
      s"label predicate must push to the SAME probed scan: $scanLine")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(3) < 5), "every survivor's label honors the filter")
  }

  test("driver-side query routing is bit-parity with the in-plan assignment fold") {
    IvfServe.ensure(spark, sf)
    val cents = IvfServe.centroidsCached(spark, IvfServe.serveDir(sf))
    val centsSeq = cents.map { case (c, a) => (c, a.toSeq) }
    val qs = spark.read.parquet(IvfServe.serveDir(sf) + "/queries")
    val inPlan = qs
      .select(col("q_id"), col("embedding").cast("array<double>").as("qv"))
      .withColumn("cell",
        graft.ops.SimOps.bestCentroid(col("qv"), centsSeq).getField("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val routed = qs.collect().map { r =>
      r.getLong(0) -> IvfServe.nearestCells(
        r.getSeq[Float](1).map(_.toDouble).toArray, cents, 1).head
    }.toMap
    assert(routed.nonEmpty && routed == inPlan,
      s"server-side routing must match the plan fold: $routed vs $inPlan")
  }

  test("e2x filtered multiprobe: both pruning layers at nprobe=4; filtered recall never drops vs e2a") {
    val df = IvfServe.e2xFilteredMultiprobe(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"), s"partition layer missing: $scanLine")
    assert(scanLine.contains("PushedFilters") && scanLine.contains("label"),
      s"label predicate must push to the SAME probed scan: $scanLine")
    val p4 = IvfServe.probedCells(spark, sf, IvfServe.NProbe)
    assert(p4.length <= 8 * IvfServe.NProbe)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(3) < 5), "every survivor's label honors the filter")
    // recall against the FILTERED exact top-3 (the honest denominator:
    // the key's contract is "best matches AMONG label < 5")
    val v = Tables.embeddings(spark, sf)
      .where(col("label") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qv = Tables.embeddings(spark, sf).where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def filteredExactTop3(q: Long): Set[Long] =
      v.toSeq.filter(_._1 != q)
        .map { case (c, x) => (c, cos(qv(q), x)) }
        .sortBy { case (c, s2) => (-s2, c) }.take(3).map(_._1).toSet
    def recall(rs: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rs.groupBy(_.getLong(0))
      byQ.map { case (q, qs) =>
        qs.map(_.getLong(2)).toSet.intersect(filteredExactTop3(q)).size / 3.0
      }.sum / byQ.size
    }
    val rA = recall(IvfServe.e2aFilteredAnn(spark, sf).collect())
    val rX = recall(rows)
    info(f"filtered recall@3: nprobe=1 $rA%.3f -> nprobe=${IvfServe.NProbe} $rX%.3f")
    assert(rX >= rA,
      f"e2x's candidates strictly contain e2a's — filtered recall must not drop: $rX%.3f < $rA%.3f")
  }

  test("e2q ad-hoc vectors: literal queries route and prune like staged ones; no self-exclusion") {
    val df = IvfServe.e2qAdhocVectors(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"),
      s"ad-hoc routing must still prune cell directories: $scanLine")
    val present = listCellDirs(IvfServe.serveDir(sf))
    assert(present.nonEmpty)
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L),
      "both declared ad-hoc queries must be served")
    // an ad-hoc query is not a corpus member: NOTHING is self-excluded,
    // so every probed corpus vector (incl. vec_id 0/1, which the staged
    // probes would exclude for their own q_ids) is a legal candidate
    assert(rows.forall(_.getInt(1) <= 3))
    // the declared literals are deterministic — the same call twice
    // serves identical rows (no staged state involved in routing)
    assert(rows.map(_.toSeq).toSeq ==
      IvfServe.e2qAdhocVectors(spark, sf).collect().map(_.toSeq).toSeq)
  }

  test("e2n sweep: recall@3 monotone non-decreasing in nprobe; cells/candidates grow") {
    val rows = IvfServe.e2nNprobeSweep(spark, sf).collect()
    assert(rows.length == IvfServe.SweepMax, s"one row per nprobe 1..8: ${rows.length}")
    val byNp = rows.sortBy(_.getInt(0))
    assert(byNp.map(_.getInt(0)).toSeq == (1 to IvfServe.SweepMax),
      "nprobe column must cover 1..SweepMax")
    val recalls = byNp.map(_.getDouble(4)).toSeq
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"candidate sets are supersets in nprobe — recall must be monotone: $recalls")
    val cells = byNp.map(_.getLong(1)).toSeq
    assert(cells.zip(cells.tail).forall { case (a, b) => b >= a },
      s"cells read must not shrink with nprobe: $cells")
    val cands = byNp.map(_.getLong(2)).toSeq
    assert(cands.zip(cands.tail).forall { case (a, b) => b > a },
      s"every extra probe adds candidates: $cands")
    info(s"recall trajectory: ${recalls.mkString(", ")} over cells ${cells.mkString(", ")}")
  }

  test("e2pq: ADC leg scans codes only (no embedding column); rows equal e2v's; containment margin") {
    val (topR, _, _) = IvfServe.e2pqAdcLeg(spark, sf)
    val p = topR.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"), s"partition layer missing: $scanLine")
    // inspect the ReadSchema struct itself, not the whole scan line —
    // the fixture PATH contains the substring "embedding"
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("").split("ReadSchema:").last
    assert(readSchema.contains("c0") && readSchema.contains(s"c${IvfServe.PqM - 1}"),
      s"ADC must read the stored codes: $readSchema")
    assert(!readSchema.contains("embedding"),
      s"ADC must NOT read the embedding column — that is the format's claim: $readSchema")
    assert(!p.contains("NearestCentroid"),
      "no per-row encode in the probe: codes are stored at build time")
    // declared rows are exactly e2v's — the layout never changes the answer
    val pq = IvfServe.e2pqIvfPqProbe(spark, sf).collect().map(_.toSeq)
    val v = IvfServe.e2vIvfServe(spark, sf).collect().map(_.toSeq)
    assert(pq.toSeq == v.toSeq, "IVF-PQ must return e2v's exact rows")
    // containment margin: the exact top-3's WORST rank inside the ADC
    // shortlist — how much of AdcR the quantization error actually uses
    val adcRank = topR.collect().groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq
    }
    val worst = v.groupBy(_.head.asInstanceOf[Long]).map { case (q, rows3) =>
      rows3.map(r => adcRank(q).indexOf(r(2).asInstanceOf[Long]) + 1).max
    }.max
    info(s"containment margin: worst exact-top-3 rank in ADC shortlist = $worst of ${IvfServe.AdcR}")
    assert(worst >= 1, "every exact top-3 member must be in the ADC shortlist")
    // the rescore fetch is a pushed point lookup
    val fp = IvfServe.e2pqIvfPqProbe(spark, sf).queryExecution.executedPlan.toString
    val fetchLine = fp.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("vec_id")).getOrElse("")
    assert(fetchLine.nonEmpty, s"survivor ids must push into the fetch scan:\n$fp")
  }

  test("e2pw multiprobe PQ: rows equal e2w's; codes-only scan over the 4-cell sweep") {
    val pw = IvfServe.e2pwIvfPqMultiprobe(spark, sf).collect().map(_.toSeq)
    val w = IvfServe.e2wIvfMultiprobe(spark, sf).collect().map(_.toSeq)
    assert(pw.toSeq == w.toSeq,
      "the PQ format at nprobe=4 must return the multiprobe's exact rows")
    // the ADC leg sweeps the same cells e2w probes, reading codes only
    val (topR, routed, cells) = IvfServe.adcLegAt(spark, IvfServe.serveDir(sf),
      IvfServe.AdcR, residualPq = true, nprobe = IvfServe.NProbe)
    assert(cells.toSet == IvfServe.probedCells(spark, sf, IvfServe.NProbe).toSet)
    assert(routed.map(_._1).distinct.size.toLong * IvfServe.NProbe == routed.size,
      "one residual table per (query, probed cell)")
    val p = topR.queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("").split("ReadSchema:").last
    assert(!readSchema.contains("embedding"),
      s"the multiprobe ADC must stay codes-only: $readSchema")
  }

  test("e2px filtered PQ: rows equal e2x's; label pushes into the codes-only scan") {
    val px = IvfServe.e2pxFilteredPqMultiprobe(spark, sf).collect().map(_.toSeq)
    val x = IvfServe.e2xFilteredMultiprobe(spark, sf).collect().map(_.toSeq)
    assert(px.toSeq == x.toSeq,
      "the PQ format under the filter must return e2x's exact rows")
    val (topR, _, _) = IvfServe.adcLegAt(spark, IvfServe.serveDir(sf),
      IvfServe.AdcR, residualPq = true, nprobe = IvfServe.NProbe,
      labelFilter = true)
    val p = topR.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"), s"partition layer missing: $scanLine")
    assert(scanLine.contains("PushedFilters") && scanLine.contains("label"),
      s"label predicate must push into the codes scan: $scanLine")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse("").split("ReadSchema:").last
    assert(!readSchema.contains("embedding"),
      s"the filtered ADC must stay codes-only: $readSchema")
    assert(topR.collect().forall(_.getInt(2) < 5),
      "every shortlist survivor must honor the predicate")
  }

  test("e2y policy: higher target never chooses smaller nprobe; achieved meets reachable targets") {
    val rows = IvfServe.e2yRecallPolicy(spark, sf).collect()
    val sel = rows.map(r => (r.getDouble(0), r.getInt(1), r.getDouble(2))).distinct
      .sortBy(_._1)
    assert(sel.map(_._1).toSeq == IvfServe.RecallTargets,
      s"one selection per declared target: ${sel.map(_._1).toSeq}")
    val chosen = sel.map(_._2)
    assert(chosen.zip(chosen.tail).forall { case (a, b) => b >= a },
      s"a higher recall target must never choose a smaller nprobe: ${chosen.toSeq}")
    val ceiling = IvfServe.e2nNprobeSweep(spark, sf).collect()
      .map(_.getDouble(4)).max
    sel.foreach { case (t, np, achieved) =>
      if (t <= ceiling)
        assert(achieved >= t,
          f"reachable target $t%.2f must be met: achieved $achieved%.3f at nprobe=$np")
      else
        assert(np == IvfServe.SweepMax,
          s"a target above the curve's ceiling must fall back to SweepMax, got $np")
    }
    // the serve rows at each chosen width ARE the multiprobe's rows
    val byNp = rows.groupBy(_.getInt(1))
    byNp.foreach { case (np, rs) =>
      val served = rs.map(r => (r.getLong(5), r.getInt(6), r.getLong(7))).distinct.sorted
      val direct = (if (np == 1) IvfServe.e2vIvfServe(spark, sf)
        else if (np == IvfServe.NProbe) IvfServe.e2wIvfMultiprobe(spark, sf)
        else null)
      if (direct != null) {
        val want = direct.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .toSeq.sorted
        assert(served.toSeq == want, s"serve at nprobe=$np must equal the declared probe")
      }
    }
    info(s"policy: ${sel.map { case (t, np, a) => f"$t%.2f->np$np(a=$a%.3f)" }.mkString(", ")}")
  }

  /** Per-query worst rank of the exact in-cell top-3 inside the full
    * ADC ordering of `root`'s codes — the margin AdcR must cover. */
  private def adcMargins(root: String, residual: Boolean,
      exact: Map[Long, Set[Long]]): Map[Long, Int] = {
    val (ranked, _, _) = IvfServe.adcLegAt(spark, root, 1 << 20, residual)
    ranked.collect().groupBy(_.getLong(0)).map { case (q, rs) =>
      val order = rs.sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1))
      q -> exact(q).map { c =>
        val at = order.indexOf(c)
        // a missing exact-top-3 member must FAIL here, not map to rank
        // 0 and shrink the max — that would pass containment in the
        // exact scenario the assertion exists to catch
        assert(at >= 0, s"exact top-3 candidate $c of query $q absent " +
          s"from the ADC ranking entirely")
        at + 1
      }.max
    }
  }

  /** Build the raw-encode comparison layout over `d`'s corpus (identical
    * coarse training — only the codes differ) and return both margin
    * maps (residual from the staged serve layout, raw from the temp). */
  private def marginPair(d: String): (Map[Long, Int], Map[Long, Int]) = {
    import java.nio.file.Files
    IvfServe.ensure(spark, d)
    val rawRoot = Files.createTempDirectory("ivf-raw-pq")
    try {
      IvfServe.buildTrainedLayout(spark, rawRoot.toString,
        IvfServe.corpusView(spark, d), residualPq = false)
      IvfServe.stageQueries(spark, rawRoot.toString, d)
      Files.write(rawRoot.resolve("_STAGED_SIG"), "raw-compare".getBytes("UTF-8"))
      val exact = IvfServe.e2vIvfServe(spark, d).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      (adcMargins(IvfServe.serveDir(d), residual = true, exact),
        adcMargins(rawRoot.toString, residual = false, exact))
    } finally graft.streaming.DocStreams.deleteTree(rawRoot)
  }

  test("residual PQ: margin strictly tighter than raw encode on clustered data (r13 ask #2)") {
    // Residual encoding's claim is conditional on the data having
    // coarse structure that is DENSE per subspace: within a cell every
    // member shares the centroid offset, so quantizing what REMAINS
    // spends the codebook on a smaller-variance signal — but only if
    // the raw codebook could NOT have covered the centers itself (few
    // axis-aligned centers are 2-3 patterns per 8-dim subspace, which
    // 8 raw codewords absorb; and the iid fixture has no structure at
    // all, so both of those shapes measure a wash — reported below for
    // honesty, not asserted). The ASSERTED comparison runs on a
    // PLANTED corpus with the shape real embedding corpora have (and
    // the reason FAISS defaults to residual): 64 clusters around
    // deterministic pseudo-random unit centers — dense in every
    // subspace, far more center patterns than codewords — with small
    // deterministic perturbations, unit-normalized.
    import java.nio.file.{Files, Paths}
    val dim = 64
    val tmp = Files.createTempDirectory("ivf-clustered")
    try {
      import spark.implicits._
      val centers = Array.tabulate(64) { c =>
        val v = Array.tabulate(dim)(j => math.sin(c * 104729.0 + j * 7919.0 + 0.5))
        val nr = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / nr)
      }
      val rows = (0 until 1024).map { i =>
        val c = i % 64
        val v = Array.tabulate(dim) { j =>
          (centers(c)(j) + math.sin(i * 7919.0 + j * 104729.0) * 0.1).toFloat
        }
        val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        (i.toLong, v.map(_ / n).toSeq, c)
      }
      rows.toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("_stage").toString)
      val part = scala.util.Using.resource(Files.list(tmp.resolve("_stage"))) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      }
      Files.move(part, tmp.resolve("embeddings.parquet"))
      val (res, raw) = marginPair(tmp.toString)
      val (resWorst, rawWorst) = (res.values.max, raw.values.max)
      val (resSum, rawSum) = (res.values.sum, raw.values.sum)
      info(s"clustered corpus margin worst: residual $resWorst vs raw $rawWorst " +
        s"(per-query sum $resSum vs $rawSum) of AdcR=${IvfServe.AdcR}")
      assert(resWorst <= IvfServe.AdcR,
        "declared containment must hold on the clustered corpus")
      assert(resWorst < rawWorst,
        s"residual codes must rank the exact top-3 strictly tighter on " +
          s"clustered data: worst $resWorst vs $rawWorst")
      // the iid fixture: measured and reported, NOT asserted — no coarse
      // structure means no signal for residual to exploit (a wash)
      val (resF, rawF) = marginPair(sf)
      info(s"iid fixture margin worst (not asserted): residual ${resF.values.max} " +
        s"vs raw ${rawF.values.max} (sum ${resF.values.sum} vs ${rawF.values.sum})")
      assert(resF.values.max <= IvfServe.AdcR,
        "declared containment must hold on the shipped fixture")
      graft.streaming.DocStreams.deleteTree(Paths.get(IvfServe.serveDir(tmp.toString)))
    } finally graft.streaming.DocStreams.deleteTree(tmp)
  }

  test("staleness: touching the source re-stages the serve layout") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("ivf-serve-stale")
    try {
      Files.copy(Paths.get(sf, "embeddings.parquet"),
        tmp.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val d = tmp.toString
      IvfServe.ensure(spark, d)
      val marker = Paths.get(IvfServe.serveDir(d), "_STAGED_SIG")
      val before = new String(Files.readAllBytes(marker), "UTF-8")
      val src = tmp.resolve("embeddings.parquet")
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(src).toMillis + 2000))
      IvfServe.ensure(spark, d)
      val after = new String(Files.readAllBytes(marker), "UTF-8")
      assert(after != before, "touched source must re-stage the layout")
      graft.streaming.DocStreams.deleteTree(Paths.get(IvfServe.serveDir(d)))
    } finally graft.streaming.DocStreams.deleteTree(tmp)
  }
}
