package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LexIndex

/** The persisted inverted text index (r13 verdict ask #1). Claims: the
  * probe actually PRUNES (PartitionFilters on the term bucket AND the
  * pushed In(term) row predicate on one scan — the lexical analogue of
  * e2a's two layers), the served rows are e35's exactly, driver-side
  * bucket routing is bit-parity with the in-plan form, the staged
  * stats count token-less documents (the r13-advice defect class), and
  * the build re-stages on source change. */
class LexIndexSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("probe plan: PartitionFilters on tb AND pushed In(term); dirs read < present") {
    val df = LexIndex.e35sBm25Serve(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("tb"), s"bucket predicate must prune directories: $scanLine")
    assert(scanLine.contains("PushedFilters") && scanLine.contains("term"),
      s"term In-list must push into the bucket scan: $scanLine")
    val present = new java.io.File(LexIndex.serveDir(sf) + "/postings")
      .listFiles().filter(d => d.isDirectory && d.getName.startsWith("tb="))
      .map(_.getName).sorted
    val qterms = spark.read.parquet(LexIndex.serveDir(sf) + "/queries")
      .select("term").collect().map(_.getString(0)).distinct
    val probed = qterms.map(LexIndex.bucketOf).distinct.sorted
    assert(present.nonEmpty && probed.nonEmpty)
    assert(probed.length < present.length,
      s"probe must read fewer bucket dirs than exist: ${probed.length}/${present.length}")
    assert(probed.map(b => s"tb=$b").toSet.subsetOf(present.toSet))
  }

  test("served rows are e35's exactly — the layout never changes the answer") {
    val served = LexIndex.e35sBm25Serve(spark, sf).collect().map(_.toSeq)
    val inPlan = graft.ops.CurationOps.e35Bm25Topk(spark, sf).collect().map(_.toSeq)
    assert(served.toSeq == inPlan.toSeq)
  }

  test("driver-side bucketOf is bit-parity with the in-plan bucketCol") {
    import spark.implicits._
    val terms = spark.read.parquet(LexIndex.serveDir(sf) + "/dfreq")
      .select("term").collect().map(_.getString(0)).toSeq
    val inPlan = terms.toDF("term")
      .select(col("term"), LexIndex.bucketCol(col("term")).as("tb"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    terms.foreach { t =>
      assert(LexIndex.bucketOf(t) == inPlan(t),
        s"bucket routing diverged for term '$t'")
    }
    assert(terms.nonEmpty)
  }

  test("staged stats count token-less documents (n_docs/avgdl over ALL rows)") {
    // the r13-advice defect class: statistics derived from the postings
    // silently drop documents that tokenize to nothing, shifting every
    // BM25 score. Build over a corpus with an empty and a
    // whitespace-only doc; the staged stats must count them.
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("lex-empty-docs")
    try {
      import spark.implicits._
      Seq(
        (0L, "alpha beta alpha", "en", "t", 16L),
        (1L, "", "en", "t", 0L),
        (2L, "   ", "en", "t", 3L),
        (3L, "beta gamma", "en", "t", 10L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("_stage").toString)
      val part = Files.list(tmp.resolve("_stage")).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, tmp.resolve("documents.parquet"))
      val d = tmp.toString
      LexIndex.ensure(spark, d)
      val st = LexIndex.stats(spark, d).collect().head
      assert(st.getLong(0) == 4L, s"n_docs must count empty docs: ${st.getLong(0)}")
      // dl = (3, 0, 0, 2) -> avgdl 1.25
      assert(math.abs(st.getDouble(1) - 1.25) < 1e-12,
        s"avgdl must average over empty docs too: ${st.getDouble(1)}")
      graft.streaming.DocStreams.deleteTree(
        java.nio.file.Paths.get(LexIndex.serveDir(d)))
    } finally graft.streaming.DocStreams.deleteTree(tmp)
  }

  test("e35a plan: source predicate pushes INTO the pruned postings scan") {
    val df = LexIndex.e35aFilteredBm25(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("tb"), s"bucket pruning must survive the filter: $scanLine")
    assert(scanLine.contains("PushedFilters") && scanLine.contains("term") &&
      scanLine.contains("source"),
      s"BOTH term In-list and source predicate must push into the ONE scan: $scanLine")
    // no join against a doc dim anywhere — the predicate rides the
    // denormalized column (the whole point of the layout)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(3) == LexIndex.FilterSource),
      "every served candidate must satisfy the predicate")
  }

  test("e35a: filtered rows are the per-source restriction of full scoring") {
    // statistics must stay full-corpus: each (qid, doc) score in the
    // filtered probe equals that doc's score in the UNFILTERED probe's
    // scored relation (checked through the served top-5 overlap)
    val unfiltered = LexIndex.e35sBm25Serve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getDouble(4)).toMap
    val filtered = LexIndex.e35aFilteredBm25(spark, sf).collect()
    filtered.foreach { r =>
      val key = (r.getInt(0), r.getLong(2))
      unfiltered.get(key).foreach { s =>
        assert(r.getDouble(5) == s,
          s"filtering must not change a surviving doc's score: $key")
      }
    }
  }

  test("e35q: ad-hoc literals route to multiple buckets; OOV terms score nothing") {
    val buckets = LexIndex.AdhocQueries.map(t => LexIndex.bucketOf(t._2)).distinct
    assert(buckets.length >= 2, s"the declared mix must span buckets: $buckets")
    val rows = LexIndex.e35qAdhocTerms(spark, sf).collect()
    assert(rows.nonEmpty)
    // n_match can never exceed the query's IN-VOCABULARY term count —
    // the OOV literal must contribute zero matches
    val inVocab = Map(0 -> 2L, 1 -> 3L) // (merge, vector | stream, batch, window)
    rows.foreach { r =>
      assert(r.getLong(3) <= inVocab(r.getInt(0)),
        s"OOV term must not match: qid ${r.getInt(0)} n_match ${r.getLong(3)}")
    }
  }

  test("e35p: positions are FREE for non-phrase probes (ReadSchema prunes the column)") {
    // the reason positions ride ON the posting rows instead of a
    // parallel relation: columnar pruning means a bag-of-words probe
    // never reads them — the claim that makes the storage free
    val served = LexIndex.e35sBm25Serve(spark, sf)
    val plan = served.queryExecution.executedPlan.toString
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    assert(!readSchemas.exists(_.contains("positions")),
      s"e35s must not read the positions column: $readSchemas")
    val phr = LexIndex.e35pPhraseQuery(spark, sf)
    val pplan = phr.queryExecution.executedPlan.toString
    assert(pplan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("positions")),
      "the phrase probe must read positions")
    assert(pplan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("tb")),
      "the phrase probe must keep bucket pruning")
  }

  test("e35p: adjacency count equals a brute token-walk; OOV phrase is absent") {
    val rows = LexIndex.e35pPhraseQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    // the OOV phrase (qid 4) matches no document on any SF
    assert(!rows.exists(_.getInt(0) == 4), "OOV phrase must serve nothing")
    // brute recount: for each served (qid, doc), walk the doc's tokens
    val byPhrase = LexIndex.PhraseQueries.map(p => p._1 -> (p._2, p._3)).toMap
    val docs = rows.map(_.getLong(2)).distinct
    val texts = Tables.documents(spark, sf)
      .where(col("doc_id").isin(docs.map(Long.box): _*))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (t1, t2) = byPhrase(r.getInt(0))
      val toks = texts(r.getLong(2)).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val brute = toks.sliding(2).count(w => w.length == 2 && w(0) == t1 && w(1) == t2)
      assert(r.getInt(3) == brute,
        s"phrase freq mismatch for qid ${r.getInt(0)} doc ${r.getLong(2)}: " +
          s"served ${r.getInt(3)}, brute $brute")
    }
  }

  test("e35w: the expansion cap bites; pushed StartsWith; no-match prefix absent") {
    // 's' matches MORE vocabulary terms than MaxExpansion — the top-terms
    // rewrite must keep exactly MaxExpansion, by (df desc, term)
    val dfreq = spark.read.parquet(LexIndex.serveDir(sf) + "/dfreq")
      .select("term", "df").collect().map(r => r.getString(0) -> r.getLong(1))
    val sMatches = dfreq.filter(_._1.startsWith("s"))
    assert(sMatches.length > LexIndex.MaxExpansion,
      s"fixture must make the cap non-vacuous: ${sMatches.length} 's' terms")
    val rows = LexIndex.e35wPrefixQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getInt(0) == 3), "no-match prefix must serve nothing")
    // qid 0's n_match can never exceed the cap
    rows.filter(_.getInt(0) == 0).foreach { r =>
      assert(r.getLong(3) <= LexIndex.MaxExpansion.toLong,
        s"n_match ${r.getLong(3)} exceeds the expansion cap")
    }
    // the expansion scan pushes the prefix into the vocab dim
    val expPlan = spark.read.parquet(LexIndex.serveDir(sf) + "/dfreq")
      .where(col("term").startsWith("s"))
      .queryExecution.executedPlan.toString
    assert(expPlan.contains("StringStartsWith"),
      s"prefix must push into the dfreq scan: $expPlan")
  }

  test("each serve-layout dir's declared schema equals its footer-inferred one") {
    LexIndex.ensure(spark, sf)
    val dirs = new java.io.File(LexIndex.serveDir(sf)).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == LexIndex.Layout.keySet, s"staged dirs $dirs")
    for ((dir, declared) <- LexIndex.Layout) {
      val inferred = spark.read.parquet(s"${LexIndex.serveDir(sf)}/$dir").schema
      assert(inferred == declared, s"$dir: inferred ${inferred.treeString}")
    }
  }

  test("staleness: touching the source re-stages the index") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("lex-stale")
    try {
      Files.copy(Paths.get(sf, "documents.parquet"),
        tmp.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val d = tmp.toString
      LexIndex.ensure(spark, d)
      val marker = Paths.get(LexIndex.serveDir(d), "_STAGED_SIG")
      val before = new String(Files.readAllBytes(marker), "UTF-8")
      val src = tmp.resolve("documents.parquet")
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(src).toMillis + 2000))
      LexIndex.ensure(spark, d)
      val after = new String(Files.readAllBytes(marker), "UTF-8")
      assert(after != before, "touched source must re-stage the index")
      graft.streaming.DocStreams.deleteTree(Paths.get(LexIndex.serveDir(d)))
    } finally graft.streaming.DocStreams.deleteTree(tmp)
  }
}
