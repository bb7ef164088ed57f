package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

/** Semantics + plan-shape coverage for the r7 curation stages
  * (CurationOps): decontamination, repetition rules, span redaction,
  * sequence packing, stratified sampling, n-gram stats, CSV round-trip.
  * Each op's DuckDB oracle is the authoritative gate; these tests pin
  * the invariants the oracle can't see (plan shape, operator reuse) and
  * recompute small-scale answers through an independent Scala path. */
class CurationOpsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  /** Plan probe for keys that materialize-and-release: construct the
    * DataFrame under the Plans-dump hook so the probed plan is the
    * full pipeline, not the post-materialization stub. */
  private def lazyPlan(f: => org.apache.spark.sql.DataFrame): String =
    try { Tables.keepLazyForPlans = true; plan(f) }
    finally Tables.keepLazyForPlans = false

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def tokensOf(text: String): Seq[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq

  test("e20: benchmark docs never appear in the output; threshold splits the corpus") {
    val rows = CurationOps.e20Decontaminate(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => !(r.getLong(0) % 23 == 7 && r.getLong(0) < 100000L)),
      "benchmark members must be excluded")
    val flags = rows.map(_.getBoolean(2)).toSet
    assert(flags == Set(true, false) || flags == Set(false),
      "is_contaminated must agree with the n_overlap >= 4 threshold")
    assert(rows.forall(r => r.getBoolean(2) == (r.getLong(1) >= 4)))
  }

  test("e20: benchmark side is broadcast; no cartesian product") {
    val p = plan(CurationOps.e20Decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the eval-suite shingle set must broadcast — shuffling the corpus to join " +
        "a benchmark-sized set is the 100 TB anti-pattern")
    assert(!p.contains("CartesianProduct"))
  }

  test("e20b: bloom-prefiltered decontamination equals e20 exactly") {
    val exact = CurationOps.e20Decontaminate(spark, sf)
    val bloom = CurationOps.e20bBloomDecon(spark, sf)
    assert(bloom.exceptAll(exact).count() == 0 &&
      exact.exceptAll(bloom).count() == 0,
      "the sketch path must change the plan, not the answer")
    assert(bloom.count() > 0)
  }

  test("e20b: the probe is a bloom literal filter, not a broadcast of strings") {
    val p = plan(CurationOps.e20bBloomDecon(spark, sf))
    assert(p.contains("might_contain"),
      "corpus shingles must be prefiltered by the bloom probe before the join")
    assert(!p.contains("CartesianProduct"))
  }

  test("e10b: repetition fractions match an independent Scala recomputation") {
    val got = CurationOps.e10bGopherRepetition(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == docs.count { case (_, t) => tokensOf(t).nonEmpty })
    for ((id, text) <- docs.take(50) if tokensOf(text).nonEmpty) {
      val w = tokensOf(text)
      val topN = w.groupBy(identity).values.map(_.size).max
      val bg = w.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val r = got(id)
      assert(r.getInt(1) == w.size, s"doc $id n_tokens")
      assert(math.abs(r.getDouble(2) - BigDecimal(topN.toDouble / w.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"doc $id top_word_frac")
      if (bg.nonEmpty)
        assert(math.abs(r.getDouble(4) - BigDecimal(1 - bg.distinct.size.toDouble / bg.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"doc $id dup_bigram_frac")
    }
  }

  test("e10b and e21 are pure per-row pipelines: no join, no window function") {
    for (df <- Seq(CurationOps.e10bGopherRepetition(spark, sf),
                   CurationOps.e21PiiScrub(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("Join") && !p.contains("Window "),
        "quality rules and scrubbing must run at scan bandwidth")
    }
  }

  test("e21: scrubbed payloads carry no digits; span count matches a regex recount") {
    val rows = CurationOps.e21PiiScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => !r.getString(1).exists(_.isDigit)),
      "a digit surviving the scrub is a redaction failure")
    val re = "[0-9]+".r
    val payloads = graft.Tables.events(spark, sf)
      .select(col("event_id"), concat(col("props"),
        lit(" uid="), col("user_id").cast("string"),
        lit(" ev="), col("event_type")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- rows.take(100))
      assert(r.getInt(2) == re.findAllIn(payloads(r.getLong(0))).size)
  }

  test("e21: null payloads propagate to null scrubbed/n_redacted (oracle '||' semantics)") {
    import spark.implicits._
    val got = CurationOps.scrubPayloads(
      Seq((1L, "a1 b22"), (2L, null.asInstanceOf[String]))
        .toDF("event_id", "payload")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getString(1) == "a<NUM> b<NUM>" && got(1L).getInt(2) == 2)
    assert(got(2L).isNullAt(1) && got(2L).isNullAt(2),
      "a null payload must yield null outputs, not 0 or -1")
  }

  test("e22: packing is exhaustive and matches a re-derived running-offset assignment") {
    val rows = CurationOps.e22SeqPack(spark, sf).collect()
    val totalDocs = rows.map(_.getLong(3)).sum
    assert(totalDocs == graft.Tables.documents(spark, sf).count())
    // re-derive window_id = floor(prior_cum / 256) per (source, shard)
    // — shard = e26's md5(doc_id) % 64 (r13 keying) — directly; no
    // contiguity assumption (a doc longer than the 256-token window
    // legitimately skips window ids)
    def md5shard(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16) % 64
    }
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).as("n_tok"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong))
    val expected = docs.groupBy(d => (d._2, md5shard(d._1))).toSeq
      .flatMap { case ((src, sh), ds) =>
        var cum = 0L
        ds.sortBy(_._1).toSeq.map { case (id, _, n) =>
          val w = cum / 256; cum += n; ((src, sh, w), (id, n))
        }
      }.groupBy(_._1).map { case (k, xs) =>
        k -> ((xs.size.toLong, xs.map(_._2._2).sum,
          xs.map(_._2._1).min, xs.map(_._2._1).max))
      }
    assert(rows.length == expected.size, "window set must match the re-derivation")
    rows.foreach { r =>
      val k = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(expected(k) == ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))),
        s"window $k stats diverge from the running-offset re-derivation")
    }
  }

  test("e14b: runs on the TopKPerKey operator and matches the window-idiom answer") {
    val df = CurationOps.e14bStratifiedSample(spark, sf)
    assert(plan(df).contains("TopKPerKey"),
      "stratified sampling must use the bounded-heap operator, not a full stratum sort")
    val got = df.collect()
    val perLang = got.groupBy(_.getString(0))
    val sizes = graft.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, n) <- sizes)
      assert(perLang(lang).length == math.min(20L, n),
        s"stratum $lang must yield min(k, stratum size) rows")
    // cross-check the selection against the row_number idiom
    import org.apache.spark.sql.expressions.Window
    val viaWindow = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        md5(concat(col("text"), lit("|"), col("doc_id").cast("string")))
          .as("sample_key"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy("sample_key", "doc_id")))
      .where(col("rn") <= 20)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.map(r => (r.getString(0), r.getLong(2))).toSet == viaWindow)
  }

  test("e23: top-50 tail is TakeOrdered, and counts match a Scala recount") {
    val df = CurationOps.e23NgramStats(spark, sf)
    assert(plan(df).contains("TakeOrderedAndProject"),
      "a global Sort for a LIMIT 50 is the wrong plan at any scale")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 50)
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
    val occur = scala.collection.mutable.Map.empty[String, Long]
    val dfreq = scala.collection.mutable.Map.empty[String, Set[Long]]
    for (r <- docs; bg <- tokensOf(r.getString(1)).sliding(2) if bg.size == 2) {
      val k = bg.mkString(" ")
      occur(k) = occur.getOrElse(k, 0L) + 1
      dfreq(k) = dfreq.getOrElse(k, Set.empty) + r.getLong(0)
    }
    val want = occur.toSeq.map { case (k, n) => (k, n, dfreq(k).size.toLong) }
      .sortBy { case (k, n, _) => (-n, k) }.take(50)
    assert(got.toSeq == want)
  }

  test("e24: weight dim is broadcast; realized rates track targets; boosted sources sample more") {
    val df = CurationOps.e24MixtureWeights(spark, sf)
    assert(plan(df).contains("BroadcastHashJoin"),
      "a mixture config is a handful of rows — it must broadcast")
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).sum == graft.Tables.documents(spark, sf).count())
    for (r <- rows) {
      val (nDocs, nSampled, target, realized) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(nSampled <= nDocs)
      assert(Set(0.75, 0.25).contains(target))
      // a deterministic-hash Bernoulli at these stratum sizes stays
      // within a wide band of its rate (binomial tail, not flakiness:
      // the draw is a pure function of doc_id)
      assert(math.abs(realized - target) < 0.35, s"${r.getString(0)}: $realized vs $target")
    }
    val boosted = rows.filter(_.getDouble(3) == 0.75).map(_.getDouble(4))
    val base = rows.filter(_.getDouble(3) == 0.25).map(_.getDouble(4))
    assert(boosted.min > base.max,
      "every boosted source must realize a higher rate than every base source")
  }

  test("e10s: streaming gate routes every doc exactly once, verdicts equal batch rules") {
    val manifest = graft.streaming.DocStreams.e10sQualityStream(spark, sf).collect()
    val total = manifest.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(total == graft.Tables.documents(spark, sf).count(),
      "admitted + rejected must partition the corpus")
    // verdict parity: the drained per-doc flags equal the batch rule set
    val work = graft.util.PathKeys.fixturePath("stream-e10s", sf, "-4")
    val drained = graft.streaming.DocStreams.drainedGate(spark, work)
      .select("doc_id", "passes_repetition")
    val batch = CurationOps.repetitionMetrics(graft.Tables.documents(spark, sf))
      .select("doc_id", "passes_repetition")
    assert(drained.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(drained).count() == 0)
  }

  test("e10s: gate survives a stop/restart without dropping or double-routing docs") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-e10s-recov")
    val landing = base.resolve("landing")
    val work = base.resolve("work")
    Files.createDirectories(landing)
    graft.streaming.DocStreams.docsStreamBucketed(spark, sf, 4) // ensure staging
    val staged = graft.util.PathKeys.fixturePath("stream-docs-bucketed", sf, "-4")
    val parts = Files.list(staged)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sorted().toArray.map(_.asInstanceOf[java.nio.file.Path])
    def runOnce(): Unit = graft.streaming.DocStreams.e10sGateDrain(spark,
      spark.readStream.schema(graft.streaming.DocStreams.docsSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing.toString),
      work)
    parts.take(2).foreach(p => Files.copy(p, landing.resolve(p.getFileName)))
    runOnce()
    parts.drop(2).foreach(p => Files.copy(p, landing.resolve(p.getFileName)))
    runOnce()
    val drained = graft.streaming.DocStreams.drainedGate(spark, work)
    assert(drained.groupBy("doc_id").count().where(col("count") > 1).count() == 0,
      "a doc routed twice — replayed batch did not overwrite its own output")
    assert(drained.count() == graft.Tables.documents(spark, sf).count(),
      "a doc was lost across the restart")
  }

  test("s7: the CSV round-trip is lossless against the direct projection") {
    val round = SourceSink.s7CsvRoundtrip(spark, sf)
    val direct = graft.Tables.lineitem(spark, sf)
      .where(col("l_orderkey") < 100)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    assert(round.count() == direct.count())
    assert(round.exceptAll(direct).isEmpty && direct.exceptAll(round).isEmpty)
  }

  // ---- r8 curation stages ----

  test("e25: as-of values match a brute-force latest-purchase-at-or-before scan") {
    val rows = EventOps.e25AsofJoin(spark, sf).collect()
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")),
        col("value"), col("event_id")).collect()
    val purchases = ev.filter(_.getString(0) == "purchase")
      .groupBy(r => (r.getLong(1), r.getLong(2)))       // (user, ts_us)
      .map { case ((u, t), rs) => (u, t, rs.map(_.getDouble(3)).max) }
      .toSeq
    val clicks = ev.filter(_.getString(0) == "click")
    assert(rows.length == clicks.length, "every click must emit exactly one row")
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    for (c <- clicks) {
      val got = byId(c.getLong(4))
      val best = purchases.filter(p => p._1 == c.getLong(1) && p._2 <= c.getLong(2))
        .sortBy(_._2).lastOption
      best match {
        case Some((_, pts, pv)) =>
          assert(got.getLong(3) == pts && got.getDouble(4) == pv,
            s"click ${c.getLong(4)}: expected ($pts,$pv), got " +
              s"(${got.getLong(3)},${got.getDouble(4)})")
        case None =>
          assert(got.isNullAt(3) && got.isNullAt(4),
            s"click ${c.getLong(4)} has no prior purchase but got a match")
      }
    }
  }

  test("e51: transition counts match a per-user sequential recompute; rows sum to n-1 per user") {
    val rows = EventOps.e51EventTransitions(spark, sf).collect()
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val exp = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ordered = es.sortBy(e => (e._3, e._2)).map(_._4).toSeq
      ordered.zip(ordered.drop(1))
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    assert(rows.length == exp.size, "transition pair set must match")
    val fromTotals = exp.groupBy(_._1._1).map { case (f, xs) => f -> xs.values.sum }
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == exp(k), s"transition $k count")
      assert(math.abs(r.getDouble(3) -
        exp(k).toDouble / fromTotals(k._1)) < 1e-6, s"transition $k probability")
    }
    val total = rows.map(_.getLong(2)).sum
    val nUsersWithEvents = ev.groupBy(_._1).size
    assert(total == ev.length - nUsersWithEvents,
      "every user contributes exactly (n_events - 1) transitions")
  }

  test("e53: z-scores match a sequential trailing-24 recompute per type") {
    val rows = EventOps.e53RateAnomaly(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val hourly = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((typ, series) <- hourly.groupBy(_._1)) {
      val ordered = series.sortBy(_._2.getTime).map(_._3.toDouble)
      val zs = ordered.indices.flatMap { i =>
        val frame = ordered.slice(math.max(0, i - 24), i)
        if (frame.length < 2) None
        else {
          val mu = frame.sum / frame.length
          val sd = math.sqrt(frame.map(x => (x - mu) * (x - mu)).sum / (frame.length - 1))
          if (sd > 0) Some(round6((ordered(i) - mu) / sd)) else None
        }
      }
      val r = rows(typ)
      assert(r.getLong(1) == ordered.length.toLong, s"$typ n_hours")
      assert(r.getLong(2) == zs.count(z => math.abs(z) >= 3.0).toLong,
        s"$typ n_anomalies")
      if (zs.nonEmpty) {
        assert(math.abs(r.getDouble(3) - zs.max) < 1e-6, s"$typ max_z")
        assert(math.abs(r.getDouble(4) - zs.min) < 1e-6, s"$typ min_z")
      } else assert(r.isNullAt(3) && r.isNullAt(4), s"$typ all-null z")
    }
  }

  test("e53: the window runs over the aggregated hourly series, not raw events") {
    val p = plan(EventOps.e53RateAnomaly(spark, sf))
    assert(p.contains("Window"), "the rolling baseline is a window frame")
    val winAt = p.indexOf("Window")
    val aggBelow = p.indexOf("HashAggregate", winAt)
    assert(aggBelow > winAt,
      "a partial-agg'd hourly count must feed the window (plans print top-down): " +
        "sorting raw events for a per-hour baseline is the scale anti-pattern\n" + p)
  }

  test("e51: the user-keyed window sort is the only corpus exchange; no join") {
    val p = plan(EventOps.e51EventTransitions(spark, sf))
    assert(!p.contains("Join"), "transition mining must not self-join the log")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userExchanges >= 1, "the lag window must partition by user_id")
  }

  test("e25: one hash exchange on user_id carries the whole as-of; no range join") {
    val p = plan(EventOps.e25AsofJoin(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the as-of must be the union-and-carry window, not a range product")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userExchanges >= 1, "window must partition by user_id")
  }

  test("e33: bucketized range join matches a brute-force interval scan") {
    val rows = EventOps.e33RangeJoin(spark, sf).collect()
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts"))).collect()
    val errs = ev.filter(_.getString(0) == "error").map(r => (r.getLong(1), r.getLong(2)))
    val purch = ev.filter(_.getString(0) == "purchase").map(r => (r.getLong(1), r.getLong(2)))
    val win = 15L * 60 * 1000000
    val expect = purch.flatMap { case (pid, pts) =>
      val covering = errs.filter { case (_, ets) => ets <= pts && pts <= ets + win }
      if (covering.isEmpty) None
      else {
        // latest onset wins, event_id breaks ties
        val (eid, ets) = covering.minBy { case (id, ets) => (-ets, id) }
        Some(pid -> ((pts, eid, ets, pts - ets)))
      }
    }.toMap
    assert(rows.length == expect.size, "one row per covered purchase")
    rows.foreach { r =>
      val (pts, eid, ets, gap) = expect(r.getLong(0))
      assert(r.getLong(1) == pts && r.getLong(2) == eid &&
        r.getLong(3) == ets && r.getLong(4) == gap,
        s"purchase ${r.getLong(0)}: expected ($pts,$eid,$ets,$gap), got $r")
    }
  }

  test("e33: the range join is a bucket equi-join, never a nested-loop product") {
    val p = plan(EventOps.e33RangeJoin(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bucketization must turn the theta join into an equi-join")
  }

  test("e26: shard assignment matches an independent md5 recompute; manifest is exhaustive") {
    val rows = CurationOps.e26ShardManifest(spark, sf).collect()
    def shardOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 64
    }
    val docs = graft.Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
    val expected = docs.groupBy(shardOf).view.mapValues(_.length.toLong).toMap
    assert(rows.map(_.getLong(1)).sum == docs.length, "every doc lands in a shard")
    rows.foreach { r =>
      assert(expected(r.getLong(0)) == r.getLong(1),
        s"shard ${r.getLong(0)}: doc count diverges from the Scala md5 recompute")
    }
  }

  test("e36: full epoch order matches an independent Scala recompute of hash, shard and fingerprint") {
    val rows = CurationOps.e36EpochOrder(spark, sf).collect()
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:1".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val docs = graft.Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
    val byShard = docs.groupBy(id => h(id) % 64)
    assert(rows.map(_.getLong(1)).sum == docs.length, "every doc is ordered exactly once")
    rows.foreach { r =>
      val ordered = byShard(r.getLong(0)).sortBy(id => (h(id), id))
      assert(ordered.length.toLong == r.getLong(1))
      assert(ordered.head == r.getLong(2),
        s"shard ${r.getLong(0)}: first_doc diverges from the Scala order recompute")
      val fp = ordered.zipWithIndex
        .map { case (id, i) => ((i + 1) * (id % 997)) % 1000003 }.sum
      assert(fp == r.getLong(3),
        s"shard ${r.getLong(0)}: order fingerprint diverges — the sequence is not the declared one")
    }
  }

  test("e27: ranks are 1..5 per doc, scores non-increasing, spot-checked against Scala") {
    val rows = CurationOps.e27TfidfTopk(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (d, rs) =>
      val ranks = rs.map(_.getInt(1)).sorted
      assert(ranks.toSeq == (1 to rs.length), s"doc $d ranks must be contiguous from 1")
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $d tfidf must be non-increasing in rank")
    }
    // independent recompute for one document
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tokensOf(r.getString(1))).toMap
    val n = docs.size
    val dfreq = docs.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    val d0 = docs.keys.min
    val exp = docs(d0).groupBy(identity).view.mapValues(_.size).toSeq
      .map { case (t, tf) =>
        val s = BigDecimal(tf * math.log((n + 1.0) / (dfreq(t) + 1.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (t, tf.toLong, dfreq(t).toLong, s)
      }
      .sortBy { case (t, _, _, s) => (-s, t) }.take(5)
    val got = byDoc(d0).sortBy(_.getInt(1))
      .map(r => (r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == exp, s"doc $d0: engine top-5 $got != Scala recompute $exp")
  }

  test("e28: per-doc keep counts match a global first-owner recompute") {
    val rows = CurationOps.e28PassageDedup(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tokensOf(r.getString(1))).sortBy(_._1)
    val owners = scala.collection.mutable.Map[String, (Long, Int)]()
    val expKept = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    val expTotal = scala.collection.mutable.Map[Long, Int]()
    for ((id, w) <- docs) {
      val ps = w.grouped(16).map(_.mkString(" ")).toSeq
      expTotal(id) = ps.length
      for ((p, i) <- ps.zipWithIndex)
        // first owner by (doc_id, pidx): docs iterate in id order, chunks in order
        if (!owners.contains(p)) { owners(p) = (id, i); expKept(id) += 1 }
    }
    assert(rows.length == docs.length)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == expTotal(id) && r.getInt(2) == expKept(id),
        s"doc $id: (n_passages,n_kept)=(${r.getInt(1)},${r.getInt(2)}) " +
          s"!= recompute (${expTotal(id)},${expKept(id)})")
    }
    // the election is an aggregation, not a window sort over every passage
    val p = plan(CurationOps.e28PassageDedup(spark, sf))
    assert(!p.contains("Window"), "keeper election must be min(struct), not row_number")
  }

  test("e35: BM25 ranks are 1..5 per query with non-increasing scores; one hit recomputed") {
    val rows = CurationOps.e35Bm25Topk(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Int]("qid")).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse, s"scores not non-increasing: $scores")
      // every hit matched at least one of the query's <=4 terms
      sorted.foreach(r => assert(r.getAs[Long]("n_match") >= 1
        && r.getAs[Long]("n_match") <= 4))
    }
    // independent scalar recompute of one (query, doc) score via Scala
    val top = rows.minBy(r => (r.getAs[Int]("qid"), r.getAs[Int]("rnk")))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[String]]("w").filter(_.nonEmpty).toSeq).toMap
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.length).sum / n
    val df = docs.values.flatMap(_.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }
    val queries = df.toSeq.sortBy { case (t, d) => (-d, t) }.slice(19, 31)
      .grouped(4).zipWithIndex.map { case (ts, q) => q -> ts }.toMap
    val (k1, b) = (1.2, 0.75)
    val terms = queries(top.getAs[Int]("qid"))
    val w = docs(top.getAs[Long]("doc_id"))
    val expected = terms.map { case (t, d) =>
      val tf = w.count(_ == t)
      if (tf == 0) 0.0
      else math.log(1 + (n - d + 0.5) / (d + 0.5)) *
        tf * (k1 + 1) / (tf + k1 * (1 - b + b * w.length / avgdl))
    }.sum
    assert(math.abs(expected - top.getAs[Double]("score")) < 1e-5,
      s"scala recompute $expected vs plan ${top.getAs[Double]("score")}")
  }

  test("e35: query set broadcasts onto tf and the tail is the bounded-heap top-k") {
    val p = plan(CurationOps.e35Bm25Topk(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the 12-term query set must broadcast — only matching rows survive into scoring")
    assert(p.contains("TopKPerKey") || p.contains("GraftTopK") || p.contains("TakeOrdered"),
      s"the per-query top-5 must be heap-bounded:\n${p.take(1500)}")
  }

  test("e37: full top-40 PMI table matches an independent Scala recompute") {
    val rows = CurationOps.e37PmiCooc(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => tokensOf(r.getString(1)))
    val uni = docs.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tTot = uni.values.sum.toDouble
    val pairs = docs.flatMap { w =>
      w.zip(w.drop(1)) ++ w.zip(w.drop(2))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pTot = pairs.values.sum.toDouble
    val exp = pairs.toSeq.filter(_._2 >= 5).map { case ((a, b), cab) =>
      val pmi = BigDecimal(math.log((cab / pTot) /
          ((uni(a) / tTot) * (uni(b) / tTot))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a, b, cab, uni(a), uni(b), pmi)
    }.sortBy { case (a, b, _, _, _, pmi) => (-pmi, a, b) }.take(40)
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == exp, s"engine top-40 diverges from Scala recompute:\n$got\nvs\n$exp")
  }

  test("e37: pair counts partial-aggregate and the tail is TakeOrdered, not a global sort") {
    val p = lazyPlan(CurationOps.e37PmiCooc(spark, sf))
    assert(p.contains("TakeOrdered"),
      s"top-40 must be TakeOrdered's bounded heaps:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("e38: scores and buckets match an independent Scala recompute incl. terciles") {
    val rows = CurationOps.e38LmQuality(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tokensOf(r.getString(1)))
      .filter(_._2.nonEmpty)
    val uni = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tTot = uni.values.sum
    val v = uni.size
    val nll = docs.map { case (id, w) =>
      val s = -w.map(t => math.log((uni(t) + 1.0) / (tTot + v))).sum / w.length
      id -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    assert(rows.length == docs.length)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2) - nll(r.getLong(0))) < 2e-6,
        s"doc ${r.getLong(0)}: nll ${r.getDouble(2)} != recompute ${nll(r.getLong(0))}")
    }
    // tercile boundaries: (n-1)p linear interpolation over sorted scores
    val sorted = nll.values.toSeq.sorted
    def q(p: Double): Double = {
      val rank = (sorted.length - 1) * p
      val (lo, hi) = (math.floor(rank).toInt, math.ceil(rank).toInt)
      val raw = sorted(lo) + (sorted(hi) - sorted(lo)) * (rank - lo)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (q33, q66) = (q(1.0 / 3), q(2.0 / 3))
    rows.foreach { r =>
      val expected = if (r.getDouble(2) <= q33) "head"
        else if (r.getDouble(2) <= q66) "middle" else "tail"
      assert(r.getString(3) == expected,
        s"doc ${r.getLong(0)}: bucket ${r.getString(3)} != $expected (q33=$q33 q66=$q66)")
    }
    // CCNet semantics: the buckets split the corpus into near-thirds
    val counts = rows.groupBy(_.getString(3)).view.mapValues(_.size)
    assert(counts.keySet == Set("head", "middle", "tail"))
    assert(counts.values.max - counts.values.min <= docs.length / 3 + 1,
      s"terciles must be near-balanced: $counts")
  }

  test("e39: per-source stats match a Scala recompute and both verdicts appear") {
    val rows = CurationOps.e39DomainGate(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("source", "doc_id", "text", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).toLowerCase.replaceAll("\\s+", " "), r.getLong(3)))
    val keeper = docs.groupBy(_._3).map { case (_, g) => g.minBy(_._2)._2 }.toSet
    val bySrc = docs.groupBy(_._1)
    val corpusShort = docs.count(_._4 < 200).toDouble / docs.length
    assert(rows.length == bySrc.size)
    rows.foreach { r =>
      val g = bySrc(r.getString(0))
      val nShort = g.count(_._4 < 200).toLong
      val nDup = g.count(d => !keeper.contains(d._2)).toLong
      assert(r.getLong(1) == g.length.toLong, s"${r.getString(0)}: n_docs")
      assert(r.getLong(3) == nDup, s"${r.getString(0)}: n_dup ${r.getLong(3)} != $nDup")
      assert(r.getLong(5) == nShort, s"${r.getString(0)}: n_short")
      val shortRate = BigDecimal(nShort.toDouble / g.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val bar = BigDecimal(1.1 * corpusShort)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expected = if (nDup.toDouble / g.length > 0.2 || shortRate > bar) "drop" else "keep"
      assert(r.getString(7) == expected,
        s"${r.getString(0)}: verdict ${r.getString(7)} != $expected")
    }
    assert(rows.map(_.getString(7)).toSet == Set("keep", "drop"),
      "the relative bar must split this corpus — both verdicts should appear")
  }

  test("e39: keeper election is packed-long HashAggregate; corpus rate broadcasts") {
    val p = lazyPlan(CurationOps.e39DomainGate(spark, sf))
    // the election must stay in HashAggregate: a struct-valued argmin
    // buffer silently falls back to SortAggregate (a per-partition sort
    // of the corpus — the Amplify 77 GB-spill shape, r10 verdict weak #1)
    assert(!p.contains("SortAggregate"),
      "keeper election fell back to SortAggregate")
    // the ONLY window allowed is the sid dictionary build — a
    // row_number over the source-bounded `per` relation (reads its
    // cache, never the corpus); a second window would mean dup
    // attribution started sorting documents again
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"expected at most the dictionary window, got $windows")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row corpus rate must broadcast")
  }

  test("e47: tile math matches a hand example; fraction bounded; empty text is null") {
    val rows = CurationOps.e47IntradocDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, u) = (r.getLong(1), r.getLong(2))
      assert(u <= n && u >= 0)
      if (n > 0) {
        val f = r.getDouble(3)
        assert(f >= 0.0 && f <= 1.0)
        assert(math.abs(f - (1.0 - u.toDouble / n)) < 1e-6)
      } else assert(r.isNullAt(3))
    }
    // hand example: "a b a b c" -> tiles ["a b", "a b", "c"] -> 3 tiles, 2 uniq
    import spark.implicits._
    val one = Seq((1L, "a b a b c")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
      .withColumn("n_chars", length(col("text")))
    one.createOrReplaceTempView("e47_tmp")
    val dir = java.nio.file.Files.createTempDirectory("e47doc").toString
    one.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = CurationOps.e47IntradocDedup(spark, dir).collect()(0)
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - 0.333333) < 1e-6)
  }

  test("e47: the cleaning rule needs no cross-document state — no semantic shuffle") {
    val p = plan(CurationOps.e47IntradocDedup(spark, sf))
    // no aggregation, no join, no window anywhere — per-row HOFs only;
    // the allowed exchanges are the declared orderBy's range partition
    // and the fixture-gated staging spread (spreadIfNarrow fires on the
    // test fixture's 1-split scan; on a many-split production corpus it
    // is a no-op and the plan is scan -> project -> sort)
    assert(!p.contains("Join"), "no join anywhere — per-row HOFs only")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      "no aggregation — the dedup rule is intra-row")
    assert(!p.contains("Window"), "no window — nothing orders token rows")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"expected at most the gated spread + the orderBy range exchange: $exchanges\n$p")
  }

  test("e50: attribution matches an independent Scala recompute of all four filters") {
    val rows = CurationOps.e50FilterAttribution(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("lowttr", "mtl", "nostop", "short"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0)).map(tokensOf).filter(_.nonEmpty)
    def flags(w: Seq[String]) = (
      w.size < 20,
      w.distinct.size.toDouble / w.size < 0.45,
      !w.contains("the"),
      w.map(_.length).sum.toDouble / w.size > 4.8)
    val f = docs.map(flags)
    val dropped = f.count { case (a, b, c, dd) => a || b || c || dd }
    val exp = Map(
      "short"  -> (f.count(_._1), f.count { case (a, b, c, dd) => a && !b && !c && !dd }),
      "lowttr" -> (f.count(_._2), f.count { case (a, b, c, dd) => b && !a && !c && !dd }),
      "nostop" -> (f.count(_._3), f.count { case (a, b, c, dd) => c && !a && !b && !dd }),
      "mtl"    -> (f.count(_._4), f.count { case (a, b, c, dd) => dd && !a && !b && !c }))
    rows.foreach { r =>
      val (nf, ns) = exp(r.getString(0))
      assert(r.getLong(1) == nf.toLong, s"${r.getString(0)} n_flagged")
      assert(r.getLong(2) == ns.toLong, s"${r.getString(0)} n_sole")
      assert(r.getLong(4) == dropped.toLong, "dropped")
      assert(r.getLong(5) == f.length.toLong, "n_docs")
      assert(math.abs(r.getDouble(3) - nf.toDouble / dropped) < 1e-6, "drop_share")
    }
    assert(rows.exists(_.getLong(1) > 0), "at least one filter must fire on the fixture")
  }

  test("e52: replication factors follow the T=2 rule and copy counts match a recompute") {
    val rows = CurationOps.e52TempUpsample(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = docs.groupBy(_._2)
    assert(rows.length == bySrc.size)
    val total = docs.length.toDouble
    val sqSum = bySrc.values.map(ds => math.sqrt(ds.size / total)).sum
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val src = r.getString(0)
      val n = bySrc(src).size
      val nat = n / total
      val expR = round6(math.min(math.sqrt(nat) / sqSum / nat, 4.0))
      assert(r.getLong(1) == n.toLong, s"$src n_docs")
      assert(math.abs(r.getDouble(2) - expR) < 1e-9, s"$src r_target")
      // recompute every doc's deterministic copy count
      val frac = expR - math.floor(expR)
      val copies = bySrc(src).map { case (id, _, _) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"up:$id".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        val u = java.lang.Long.parseLong(hex, 16) / 4294967296.0
        math.floor(expR).toLong + (if (u < frac) 1L else 0L)
      }
      assert(r.getLong(3) == copies.sum, s"$src n_copies")
      val chars = bySrc(src).map(_._3).zip(copies).map { case (c, k) => c * k }.sum
      assert(r.getLong(5) == chars, s"$src chars_out")
      // the realized rate must track the target within sampling noise
      assert(math.abs(r.getLong(3).toDouble / n - expR) < 0.5,
        s"$src realized rate wildly off target")
    }
    // T=2 pushes toward uniform: under-represented sources replicate
    // (r > 1), over-represented ones thin out (r < 1) — both sides
    // should appear on a corpus with unequal source sizes
    assert(rows.forall(r => r.getDouble(2) > 0))
    if (bySrc.values.map(_.size).toSet.size > 1)
      assert(rows.exists(_.getDouble(2) > 1.0) && rows.exists(_.getDouble(2) < 1.0),
        "unequal source sizes must produce both up- and down-weighted sources")
  }

  test("e54: sampled heavy hitters match an exact Scala recount; the quorum gate holds") {
    val rows = CurationOps.e54CmsHeavyHitters(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getBoolean(2)),
      "gate_ok must pass: >=19/20 sketch estimates inside [n, n + ceil(eps*total)]")
    // the r10 sampled gate: exact counts over the deterministic 1/16 md5
    // VOCABULARY slice — recompute the sample membership bit-exactly
    // (first 4 md5 bytes of 'cms:'+bigram as an unsigned 32-bit value)
    def sampled(bg: String): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("cms:" + bg).getBytes("UTF-8"))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      v % 16 == 0
    }
    val counts = graft.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
      .flatMap { t =>
        val w = tokensOf(t)
        if (w.size < 2) Seq.empty else w.zip(w.drop(1)).map { case (a, b) => s"$a $b" }
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // sampling by VALUE: a sampled bigram's count over the slice IS its
    // full-corpus count — assert against the unsliced recount
    val expTop = counts.toSeq.filter(kv => sampled(kv._1))
      .sortBy { case (b, n) => (-n, b) }.take(20)
    rows.zip(expTop).foreach { case (r, (b, n)) =>
      assert(r.getString(0) == b && r.getLong(1) == n,
        s"rank mismatch: got (${r.getString(0)},${r.getLong(1)}), want ($b,$n)")
    }
  }

  test("e54: a deliberately colliding sketch would fail the gate (bound is real)") {
    // sanity on the contract itself: estimates are never BELOW truth
    // (CMS only over-counts), so within_bounds=false can only mean the
    // eps*total overcount budget was blown — recompute one estimate
    // directly against the library to pin the probe path
    import org.apache.spark.util.sketch.CountMinSketch
    val cms = CountMinSketch.create(1e-4, 0.99, 42)
    Seq("a b", "a b", "c d").foreach(cms.addString(_))
    assert(cms.estimateCount("a b") >= 2L)
    assert(cms.estimateCount("c d") >= 1L)
    assert(cms.estimateCount("zz qq") >= 0L)
  }

  test("e55: frozen-merge encoding matches a sequential greedy BPE apply") {
    val rows = CurationOps.e55BpeEncode(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val merges = Seq(("table", "hash"), ("part", "filter"), ("customer", "join"))
    def applyMerge(w: List[String], a: String, b: String): List[String] = w match {
      case x :: y :: rest if x == a && y == b => s"${a}_$b" :: applyMerge(rest, a, b)
      case x :: rest                          => x :: applyMerge(rest, a, b)
      case Nil                                => Nil
    }
    val docs = graft.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), tokensOf(r.getString(1)).toList))
      .filter(_._2.nonEmpty)
    val exp = docs.groupBy(_._1).map { case (src, ds) =>
      val pairs = ds.map { case (_, w) =>
        val out = merges.foldLeft(w) { case (cur, (a, b)) => applyMerge(cur, a, b) }
        (w.size.toLong, out.size.toLong)
      }
      src -> ((pairs.size.toLong, pairs.map(_._1).sum, pairs.map(_._2).sum))
    }
    assert(rows.size == exp.size)
    for ((src, (nd, tin, tout)) <- exp) {
      val r = rows(src)
      assert(r.getLong(1) == nd && r.getLong(2) == tin && r.getLong(3) == tout,
        s"$src: got (${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}), want ($nd,$tin,$tout)")
    }
    assert(rows.values.exists(r => r.getLong(3) < r.getLong(2)),
      "the frozen merges must actually fire somewhere on the fixture")
  }

  test("e55: encoding is a pure projection — no join, no window, source-sized agg only") {
    val p = plan(CurationOps.e55BpeEncode(spark, sf))
    assert(!p.contains("Join") && !p.contains("Window"),
      "a frozen merge table is baked into the plan; encoding must not look anything up")
  }

  test("e56: the overlap matrix matches a brute-force set-intersection recompute") {
    val rows = CurationOps.e56SourceOverlap(spark, sf).collect()
    val bySrc = graft.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), tokensOf(r.getString(1))))
      .groupBy(_._1).map { case (src, ds) =>
        src -> ds.flatMap { case (_, w) =>
          if (w.size < 3) Seq.empty
          else w.sliding(3).map(_.mkString(" ")).toSeq
        }.toSet
      }
    val srcs = bySrc.keys.toSeq.sorted
    val exp = for {
      a <- srcs; b <- srcs if a < b
      n = (bySrc(a) intersect bySrc(b)).size if n > 0
    } yield ((a, b), n)
    val expMap = exp.toMap
    assert(rows.length == expMap.size, "pair set must match the brute recompute")
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == expMap(k).toLong, s"pair $k n_shared")
      assert(math.abs(r.getDouble(3) - expMap(k).toDouble / bySrc(k._1).size) < 1e-6)
      assert(math.abs(r.getDouble(4) - expMap(k).toDouble / bySrc(k._2).size) < 1e-6)
    }
  }

  test("e56: no shingle-keyed self-join — the set aggregation replaces it") {
    val p = lazyPlan(CurationOps.e56SourceOverlap(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      "the oracle's self-join formulation must NOT appear in the engine plan; " +
        "collect_set per shingle + a constant-width explode replaces it")
    assert(p.contains("BroadcastHashJoin"),
      "the source-sized totals must broadcast onto the constant-sized pair matrix")
  }

  test("e52: policy derives from one partial-agg exchange and broadcasts back") {
    val p = plan(CurationOps.e52TempUpsample(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the source-sized policy must broadcast onto the corpus scan")
    assert(!p.contains("SortMergeJoin"),
      "joining the corpus to a ~20-row policy via shuffle is the anti-pattern")
  }

  test("e50: one corpus pass — a single aggregate exchange, no joins, no window") {
    val p = plan(CurationOps.e50FilterAttribution(spark, sf))
    assert(!p.contains("Join"), "attribution must not join — flags are per-row")
    assert(!p.contains("Window"))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"expected the gated spread, the single-row aggregate exchange, and the " +
        s"4-row orderBy only: $exchanges\n$p")
  }
}
