package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Event-time operators over the `events` table (SURVEY.md §2.10 E4-E5).
  * Batch forms here; the Structured Streaming forms (withWatermark) live in
  * graft.streaming.EventStreams and are asserted equal to these in tests.
  */
object EventOps {

  /** E4: event-time tumbling window aggregation. Window start is emitted as
    * epoch seconds (BIGINT) so the oracle compare is precision-agnostic
    * (the raw parquet timestamps are ns; Spark reads µs). Money summed as
    * exact integer cents — order-independent, hash-stable. */
  def e4TimeWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("value_cents"))
      .orderBy("win_start", "event_type")

  /** E5: sessionization — session_window with a 30-minute gap. A session's
    * start is its first event's timestamp (floored to seconds for the
    * compare). Semantics: an event joins the session iff ts < prev_ts + gap
    * (strictly), matching the gaps-and-islands oracle. State is partitioned
    * by user_id, so it scales horizontally with users. */
  def e5SessionWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("sess_start"),
        col("n"))
      .orderBy("user_id", "sess_start")

  /** E18: distinct-count SKETCH — `approx_count_distinct` (HyperLogLog++,
    * fixed 2^p-register state per group, partial-aggregable) beside the
    * exact `count(distinct)`, which shuffles every distinct key. At
    * 100 TB cardinality estimation runs the sketch; this key gates its
    * CONTRACT: the estimate must land within 5 standard errors of the
    * exact count (rsd = 0.02 → ±10%, P(miss) < 1e-6), with an absolute
    * floor of 10 for tiny groups where relative error is meaningless.
    * DuckDB independently recomputes the exact side and asserts
    * `hll_ok`; an out-of-bound estimate fails the hash compare. */
  def e18DistinctSketch(s: SparkSession, d: String): DataFrame = {
    val rsd = 0.02
    events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .select(col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(col("exact_users") * (5 * rsd), lit(10.0))).as("hll_ok"))
      .orderBy("event_type")
  }

  /** E25: as-of (point-in-time) join — for every click, the most recent
    * purchase at or before it by the same user. Reference analogue: the
    * v2 pipeline pairing each scraped record with the newest dataset
    * snapshot it was seen under as paging state advances
    * (web_scrpaer_2.py:246-281).
    *
    * Spark has no ASOF JOIN operator. The scalable form is the
    * union-and-carry idiom: tag both sides, union them, and let one
    * running `last(..., ignoreNulls)` window carry the latest purchase
    * forward onto each click row. Cost is a single hash exchange on
    * user_id plus one in-partition sort — no range-join row explosion
    * (a naive t2 <= t1 join is quadratic per user), no per-key loop,
    * and skew bounded by one user's own event count. The purchase side
    * is pre-aggregated to one row per (user, ts) so the pick is
    * deterministic under timestamp ties; purchases sort BEFORE clicks
    * at equal ts (side 0 < 1), giving ASOF's `>=` semantics. DuckDB's
    * native ASOF LEFT JOIN is the oracle. */
  def e25AsofJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
    val tagged = clicks
      .select(col("user_id"), col("ts"), lit(1).as("side"), col("event_id"),
        lit(null).cast("double").as("purchase_value"))
      .unionByName(purchases.select(col("user_id"), col("ts"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"),
        col("purchase_value")))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("m", last(when(col("side") === 0,
          struct(col("ts").as("pts"), col("purchase_value").as("pv"))),
        ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(col("m.pts")).as("asof_ts_us"),
        col("m.pv").as("asof_value"))
      .orderBy("event_id")
  }

  /** E33: interval-containment range join WITHOUT an equi key —
    * attribute every purchase to the latest "error window" (the 15
    * minutes after an error event, any user) covering it. Spark has no
    * native range join, and the naive form is a BroadcastNestedLoopJoin
    * that re-scans every interval per probe row; the scalable idiom is
    * BUCKETIZATION: quantize time into buckets exactly as wide as the
    * interval, so every interval spans at most 2 buckets (emitted to
    * both) and every point lands in exactly 1 — the theta join becomes
    * a bucket equi-join plus an exact containment filter, with no
    * duplicate pairs possible (a pair meets only in the point's bucket).
    *
    * 100 TB path: the shuffle is hash(bucket) on both sides; candidate
    * volume is Σ_buckets errors(b)·purchases(b) — density-bounded, and
    * the argmax agg below it groups by the SAME bucket-local purchase
    * rows, so candidates collapse to one row per purchase in the
    * partial aggregate BEFORE the exchange: output (and shuffled bytes)
    * stay linear in purchases however dense the windows get. Hot
    * buckets (flash incident + flash sale) are ordinary AQE skew-join
    * territory, same knob as x3. Reference analogue: matching each
    * scraped record against the retry window the scraper keeps after a
    * failed page (web_scraper.py:216-220 logs into a recovery window).
    *
    * Semantics: inclusive bounds [ets, ets+15min]; latest onset wins,
    * event_id breaks onset ties. */
  def e33RangeJoin(s: SparkSession, d: String): DataFrame = {
    val winUs = 15L * 60 * 1000000 // 15 min in µs = bucket width
    val ev = events(s, d)
    val errs = ev.where(col("event_type") === "error")
      .select(col("event_id").as("error_id"), unix_micros(col("ts")).as("ets_us"))
      .withColumn("b0", floor(col("ets_us") / winUs))
      .select(col("error_id"), col("ets_us"),
        explode(array(col("b0"), col("b0") + 1)).as("bucket"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), unix_micros(col("ts")).as("pts_us"))
      .withColumn("bucket", floor(col("pts_us") / winUs))
    // argmax by (onset desc, error_id asc), packed into ONE long:
    // gap = pts - ets ∈ [0, 15 min] < 2^30, so `gap << 33 | error_id`
    // orders by (gap asc = onset desc, error_id asc) under plain
    // min(long). A struct-valued buffer would force SortAggregate (a
    // per-partition sort of the bucket-join candidate relation); the
    // packed long keeps the collapse in HashAggregate map-side, so
    // shuffled bytes stay one row per purchase however dense the
    // windows get. Bound: error_id < 2^33, enforced in-plan
    // (Packing.packChecked — out-of-bounds fails loudly; production
    // widening: quantize gap to ms for 10 more id bits).
    purch.join(errs, "bucket")
      .where(col("ets_us") <= col("pts_us") &&
        col("pts_us") <= col("ets_us") + winUs)
      .groupBy("purchase_id", "pts_us")
      .agg(min(Packing.packChecked(col("pts_us") - col("ets_us"), 33,
        col("error_id"), "e33")).as("mk"))
      .select(col("purchase_id"), col("pts_us").as("purchase_ts_us"),
        col("mk").bitwiseAND(lit((1L << 33) - 1)).as("error_id"),
        (col("pts_us") - shiftright(col("mk"), 33)).as("error_ts_us"),
        shiftright(col("mk"), 33).as("gap_us"))
      .orderBy("purchase_id")
  }

  /** E33h: the candidate-volume CONTRACT for e33, in the e8h mold —
    * e33's named cost term is the per-bucket error×purchase candidate
    * product (density-quadratic when amplification packs more of both
    * into the same time span), and this key MEASURES it in-plan instead
    * of asserting it: per time bucket, the exploded-error posting count
    * times the purchase count, histogrammed by log2(candidates). The
    * oracle recomputes the histogram independently, so every SCALE.md
    * slope explanation that blames the density term cites a number the
    * DuckDB gate checks at that same scale.
    *
    * 100 TB path: two filtered scans partial-aggregated to one row per
    * bucket, a bucket-count-sized equi-join, and a ≤64-row histogram —
    * the measurement costs a tiny fraction of the operator it gates. */
  def e33hCandidateVolume(s: SparkSession, d: String): DataFrame = {
    val winUs = 15L * 60 * 1000000
    val ev = events(s, d)
    val errs = ev.where(col("event_type") === "error")
      .select(unix_micros(col("ts")).as("ets_us"))
      .withColumn("b0", floor(col("ets_us") / winUs))
      .select(explode(array(col("b0"), col("b0") + 1)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_err"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(floor(unix_micros(col("ts")) / winUs).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_purch"))
    errs.join(purch, "bucket") // a bucket missing either side yields no candidates
      .select((col("n_err") * col("n_purch")).as("cand"))
      .select((length(bin(col("cand"))) - 1).cast("long").as("cand_bucket"),
        col("cand"))
      .groupBy("cand_bucket")
      .agg(count(lit(1)).as("n_buckets"), sum("cand").as("candidate_volume"))
      .orderBy("cand_bucket")
  }

  /** E53: rolling-baseline rate anomaly detection — per event type,
    * each hour's arrival count scored against the trailing 24
    * OBSERVED hourly rows (`rowsBetween(-24, -1)`: the current row
    * never contaminates its own baseline), z = (n − μ)/σ over that
    * frame, anomalous when |z| ≥ 3. The ops-side primitive behind
    * ingest-pipeline monitoring (a scraper burst or a replayed shard
    * surfaces as a spike against its own recent history), and the
    * bounded-trailing-frame window surface the window family had not
    * yet exercised (e22/e25 use running unbounded frames).
    *
    * Frame semantics, stated precisely (r9 advisory): the baseline is
    * ROW-based, not time-based — hours with zero arrivals produce no
    * row, so a gap STRETCHES the 24-row frame arbitrarily far back in
    * wall time, and a fully silent hour is never itself scored (no
    * row exists to score). This detector therefore surfaces bursts
    * and replays, NOT dead sources; a dead-source monitor needs the
    * densified variant (per-type `sequence()` of hours, zero-filled,
    * then the same window) whose frame is guaranteed calendar-24h.
    * The declared key keeps the observed-rows form deliberately: it
    * is the exact semantics of the oracle SQL (which windows the same
    * aggregated series), and the fixture's generator emits every hour
    * so the two frames coincide on this data.
    *
    * Declared shape is the per-type summary (hours scored, anomalies,
    * extreme z both directions) — informative even when a scale's
    * series happens to be calm. z is rounded to 6 dp BEFORE the |z|
    * threshold so both engines compare the identical double; the first
    * hours of each series have a sub-2-row baseline, their z is null,
    * and null counts as not-anomalous on both engines.
    *
    * 100 TB path: the ONLY corpus exchange is the partial-agg'd hourly
    * count; the window runs over the AGGREGATED series (hours × types
    * rows — thousands per year, regardless of event volume), so the
    * rolling baseline costs nothing at any scale. Raw events are never
    * sorted. */
  def e53RateAnomaly(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-24, -1)
    hourly
      .withColumn("mu", avg("n").over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      // a CONSTANT baseline (sd = 0) leaves z undefined, exactly like
      // the sub-2-row baseline: null, not-anomalous, on both engines
      // (and ANSI mode would otherwise fault the division)
      .withColumn("z", when(col("sd") > 0,
        round((col("n") - col("mu")) / col("sd"), 6)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(when(abs(col("z")) >= 3.0, 1L).otherwise(0L)).as("n_anomalies"),
        max(col("z")).as("max_z"), min(col("z")).as("min_z"))
      .orderBy("event_type")
  }

  /** E51: user-journey transition matrix — first-order Markov
    * statistics over each user's time-ordered event sequence: for every
    * (from_type, to_type) pair, how many transitions occurred and the
    * conditional probability p(to | from). The sequence-mining
    * primitive behind session-quality heuristics, bot detection
    * (impossible transition rates), and synthetic-journey generation —
    * and the lag()-window surface the window family (W) had not yet
    * exercised (e14b/d1 rank, e10/e17 aggregate windows).
    *
    * Order within a user is (ts, event_id) — the event id breaks
    * same-microsecond ties deterministically, so both engines see the
    * SAME sequence and the transition counts are exact, not
    * tie-dependent.
    *
    * 100 TB path: the ONLY corpus exchange is the user-keyed window
    * sort (user_id partitioning — the natural key, reused unchanged by
    * the lag), transition pairs partial-aggregate to at most
    * |event types|² rows before the final exchange, and the
    * probability normalization is a second window over that k²-row
    * relation — constant-sized regardless of corpus. A per-user
    * sequence never materializes as an array, so a power-user with
    * millions of events costs sort time, not memory. */
  def e51EventTransitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("from_type", lag("event_type", 1).over(byUser))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_to", round(
        col("n") / sum("n").over(Window.partitionBy("from_type")), 6))
      .orderBy("from_type", "to_type")
  }

  /** E53b: DEAD-SOURCE detection over a densified hourly series — the
    * calendar-frame variant the e53 docstring names as the thing the
    * observed-rows form cannot do (r9 advisory). The hourly count
    * series is zero-filled against a full hour spine (per-type cross
    * join with `sequence(min_hr, max_hr)`), so the trailing-24-row
    * window IS a trailing-24-HOUR window, a silent hour produces a
    * scoreable n=0 row, and "dead while the baseline was active"
    * becomes a first-class verdict instead of an invisible gap.
    *
    * The fixture's generator emits every hour, so outages are DERIVED
    * in-plan (the e43 snapshot-B stance: both engines transform the
    * identical corpus, no second fixture): hours whose epoch-hour index
    * ≡ 13 or 50 (mod 97) are blanked before densification. The spine is
    * built from the UNFILTERED bounds, so blanked boundary hours can
    * never shrink the frame.
    *
    * Dead = n = 0 with a baseline mean > 0 (the source WAS active);
    * anomaly = |z| ≥ 3 as in e53 (a dead hour under an active baseline
    * is typically both). z rounds to 6 dp BEFORE thresholding — e53's
    * identical-double stance — and sub-2-row or constant baselines
    * leave z null = not-anomalous on both engines.
    *
    * 100 TB path: identical to e53 — the only corpus exchange is the
    * partial-agg'd hourly rollup; the spine is |types| × |hours|
    * (thousands of rows per year regardless of event volume), built
    * from a 1-row broadcast bounds aggregate; the window and the
    * left join both run on that aggregated series. Raw events are
    * never sorted, and densification costs spine-size, not data. */
  def e53bDeadHours(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
    // integer epoch-hour (`div`, not `/` — Column `/` is float division)
    val outage = expr("(unix_timestamp(hr) div 3600) % 97")
    val hourly = base
      .where(outage =!= 13L && outage =!= 50L)
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n_obs"))
    val bounds = base.agg(min("hr").as("mn"), max("hr").as("mx"))
    val spine = base.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("hr"))
    val w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-24, -1)
    spine.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("n", coalesce(col("n_obs"), lit(0L)))
      .withColumn("mu", avg("n").over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .withColumn("z", when(col("sd") > 0,
        round((col("n") - col("mu")) / col("sd"), 6)))
      .withColumn("dead", (col("n") === 0 && col("mu") > 0).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("n") === 0, 1L).otherwise(0L)).as("n_silent"),
        sum(col("dead")).as("n_dead"),
        sum(when(abs(col("z")) >= 3.0, 1L).otherwise(0L)).as("n_anomalies"),
        max(col("z")).as("max_z"), min(col("z")).as("min_z"))
      .orderBy("event_type")
  }

  /** E61: retention COHORT matrix — users bucketed by the week of
    * their first event (the cohort), then counted in every week they
    * return; the (cohort, week-offset) grid with per-cohort retention
    * rates is THE standard user-analytics rollup (and the last big
    * events-family shape the suite lacked: a self-referential
    * first-touch attribution feeding a bounded matrix).
    *
    * Week = `date_trunc('week')` — Monday-start on both engines; the
    * offset divides an exact multiple of 7 days, so integer division
    * is lossless. A user is active in their own cohort week by
    * construction (their first event is in it), so offset-0 cells are
    * the cohort sizes and `cohort_size` is never null.
    *
    * 100 TB path: TWO corpus-keyed exchanges, both partial-agg'd —
    * the distinct (user, week) activity relation, and (derived FROM
    * that relation, which is persisted and users×weeks-bounded, never
    * corpus-sized) the per-user first-week aggregate; the join
    * reuses the user_id key. The matrix past them is weeks²-sized,
    * and the cohort-size spread is a window over THAT relation. Raw
    * events are touched exactly once. */
  def e61RetentionCohorts(s: SparkSession, d: String): DataFrame =
    retentionFromActivity(
      events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct())

  /** The e61 matrix derivation from a distinct (user, week) activity
    * relation — shared verbatim by the full-scan key (e61) and the
    * incrementally maintained one (e61b), so both state one
    * semantics under e61's oracle. */
  private[graft] def retentionFromActivity(activity: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val active = activity
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = active.groupBy("user_id").agg(min("wk").as("cohort"))
    val out = active.join(first, "user_id")
      .withColumn("wk_offset",
        (datediff(col("wk"), col("cohort")) / 7).cast("int"))
      .groupBy("cohort", "wk_offset")
      .agg(count(lit(1)).as("n_active"))
      .withColumn("cohort_size",
        max(when(col("wk_offset") === 0, col("n_active"))).over(
          Window.partitionBy("cohort")))
      .withColumn("retention", round(col("n_active") / col("cohort_size"), 6))
      .select(unix_timestamp(col("cohort")).as("cohort_start"),
        col("wk_offset"), col("n_active"), col("cohort_size"), col("retention"))
      .orderBy("cohort_start", "wk_offset")
    // the matrix is weeks²-bounded: materialize it so the corpus-sized
    // `active` cache can be RELEASED before returning — without this
    // every invocation in a long-lived session leaked a cacheManager
    // entry (r10 advice); stays lazy under the Plans dump
    graft.Tables.materializeAndRelease(out, active)
  }

  /** The incremental-refresh states (e61b/e63/e66/e68) stage under the
    * events' exact (size, mtime) signature — the suite-wide `ensure`
    * contract, [[graft.util.Staged.ensure]]. */
  private def stageState(s: SparkSession, d: String, root: String)(
      build: => Unit): Unit = {
    import java.nio.file.Paths
    graft.util.Staged.ensure(Paths.get(root),
      graft.util.Staged.sourceSig(Paths.get(d, "events.parquet")),
      Seq("_SUCCESS"))(build)
  }

  /** Staged distinct-activity state for [[e61bIncrRetention]]. */
  def e61bStateDir(d: String): String =
    graft.util.PathKeys.fixtureDir("events_retention_state", d)

  def e61bEnsure(s: SparkSession, d: String): Unit =
    stageState(s, d, e61bStateDir(d)) {
      events(s, d)
        .where(col("ts") < lit(e63Boundary).cast("timestamp"))
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(e61bStateDir(d))
    }

  /** E61b: INCREMENTAL maintenance of a JOIN-SHAPED view (r10 verdict
    * ask #5) — the refresh trilogy (e63 algebraic partials, e66 sketch
    * state, e68 histogram state) covered aggregates; e61's retention
    * matrix is a self-join (activity ⋈ per-user first-week), which no
    * per-grain partial can re-aggregate. The maintainable STATE is the
    * distinct (user, week) activity relation: new events can only ADD
    * activity pairs (append-only facts never retract a week), so
    * `state' = distinct(state ∪ delta-pairs)` is exact, and the matrix
    * re-derives from state' through the identical e61 tail — cohorts,
    * offsets, window and all — so e61's full-recompute oracle gates
    * the maintenance end-to-end.
    *
    * 100 TB path: the state relation is users × active-weeks — DATA-
    * bounded, not history-scan-bounded; the only base-table touch is
    * the delta scan with the boundary pushed to parquet row groups
    * (`ts >= boundary` — the e63 pushdown contract, spec-pinned), so a
    * refresh costs O(state) + O(new data) however deep the history.
    * The distinct-union is one hash exchange on (user, wk); the
    * matrix tail is unchanged from e61. */
  def e61bIncrRetention(s: SparkSession, d: String): DataFrame = {
    e61bEnsure(s, d)
    val state = s.read.parquet(e61bStateDir(d))
    val delta = events(s, d)
      .where(col("ts") >= lit(e63Boundary).cast("timestamp"))
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    retentionFromActivity(state.unionByName(delta).distinct())
  }

  /** Staged partial-aggregate state for [[e63IncrAgg]] — the
    * materialized-view half of incremental maintenance. Grain is
    * (event_type, epoch day); every measure is an algebraic partial
    * (count / integer-cent sum / min / max), i.e. re-aggregable without
    * touching base rows. Staleness signature matches
    * [[graft.sources.PartitionedLayout.ensure]]. */
  def e63StateDir(d: String): String =
    graft.util.PathKeys.fixtureDir("events_agg_state", d)

  /** Refresh boundary between the maintained base and the fresh delta:
    * a plain `ts` comparison — the predicate parquet can prune on
    * row-group min/max stats (a `dayofmonth(ts)` cut could not be
    * pushed). The fixture spans one month; in production the boundary
    * is the state's high-watermark. */
  private[graft] val e63Boundary = "2024-01-24 00:00:00"

  private[graft] def e63Partials(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        min(round(col("value") * 100).cast("long")).as("min_cents"),
        max(round(col("value") * 100).cast("long")).as("max_cents"))

  def e63Ensure(s: SparkSession, d: String): Unit =
    stageState(s, d, e63StateDir(d)) {
      e63Partials(events(s, d)
        .where(col("ts") < lit(e63Boundary).cast("timestamp")))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(e63StateDir(d))
    }

  /** E63: INCREMENTAL aggregate maintenance — the refresh never rescans
    * the base: it unions the stored partial-aggregate state (a few
    * hundred (type, day) rows) with partials computed over ONLY the
    * delta rows (a pushed `ts >= boundary` scan filter), then
    * re-aggregates the union to the final per-type rollup. avg is
    * derived sum/count at the end — never a stored partial — so the
    * merge stays algebraic.
    *
    * 100 TB path: this is the production ETL refresh shape — the state
    * side is O(groups) regardless of history size, the scanned side is
    * O(new data); a full recompute (what the DuckDB oracle does, and
    * what proves the maintenance correct) would re-read the entire
    * base every refresh. */
  def e63IncrAgg(s: SparkSession, d: String): DataFrame = {
    e63Ensure(s, d)
    val state = s.read.parquet(e63StateDir(d))
    val delta = e63Partials(
      events(s, d).where(col("ts") >= lit(e63Boundary).cast("timestamp")))
    e63Rollup(state.unionByName(delta))
  }

  /** The e63 final rollup over day-grain partials — shared by the
    * one-shot refresh (e63) and the micro-batch streaming fold (e63s)
    * so both state one semantics under e63's full-recompute oracle. */
  private[graft] def e63Rollup(partials: DataFrame): DataFrame =
    partials
      .groupBy("event_type")
      .agg(sum("n").as("n"),
        sum("sum_cents").as("sum_cents"),
        min("min_cents").as("min_cents"),
        max("max_cents").as("max_cents"),
        count(lit(1)).as("n_day_partials"))
      .withColumn("avg_cents",
        round(col("sum_cents").cast("double") / col("n"), 6))
      .orderBy("event_type")

  /** Staged HLL sketch state for [[e66HllStateMerge]] — e63's algebraic
    * partials are exactly re-aggregable; DISTINCT counts are not (the
    * per-day distinct sets don't add), which is why the incremental form
    * of "daily uniques over all history" stores a SKETCH per grain:
    * DataSketches HLL registers union by max, so state ∪ delta equals
    * the sketch of the whole history, bit-for-bit, in O(groups) bytes. */
  def e66StateDir(d: String): String =
    graft.util.PathKeys.fixtureDir("events_hll_state", d)

  private def e66Sketches(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))

  def e66Ensure(s: SparkSession, d: String): Unit =
    stageState(s, d, e66StateDir(d)) {
      e66Sketches(events(s, d)
        .where(col("ts") < lit(e63Boundary).cast("timestamp")))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(e66StateDir(d))
    }

  /** E66: incremental DISTINCT-count maintenance — the sketch-valued
    * sibling of e63: per-type all-history unique users refreshed by
    * unioning the stored per-(type, day) HLL sketch state with sketches
    * over ONLY the delta rows (pushed `ts >= boundary`), then
    * `hll_union_agg` + estimate. History is never rescanned for the
    * estimate; register-max union makes the merged sketch IDENTICAL to
    * one built over all history (HllStateMergeSpec pins that equality
    * exactly, not approximately).
    *
    * The exact side beside it is the GATE, not the operator (the
    * e18/e2r stance: never assume a sketch, measure it in-plan) — the
    * declared bound is 5 standard errors at lgK=12 (≈8%) with the e18
    * absolute floor of 10. The oracle recomputes the exact side and
    * pins `hll_ok` TRUE.
    *
    * 100 TB path: the refresh touches O(groups) state rows (each a
    * ~2 KB sketch) + the delta scan; "daily uniques over all history"
    * without the full-history distinct shuffle every refresh is exactly
    * how production metric stores run. */
  /** The incremental half of e66 alone: (event_type, n_day_sketches,
    * est_users) from state ∪ delta — split out so HllStateMergeSpec can
    * pin its estimate EQUAL to a direct all-history sketch. */
  private[graft] def e66Merged(s: SparkSession, d: String): DataFrame = {
    e66Ensure(s, d)
    val state = s.read.parquet(e66StateDir(d))
    val delta = e66Sketches(
      events(s, d).where(col("ts") >= lit(e63Boundary).cast("timestamp")))
    state.unionByName(delta)
      .groupBy("event_type")
      .agg(hll_union_agg(col("sk")).as("sk"),
        count(lit(1)).as("n_day_sketches"))
      .select(col("event_type"), col("n_day_sketches"),
        hll_sketch_estimate(col("sk")).cast("long").as("est_users"))
  }

  /** Staged histogram state for [[e68HistQuantiles]] — the third member
    * of the incremental-refresh family: e63 maintains ALGEBRAIC
    * partials, e66 a DISTINCT sketch; order statistics are neither
    * (per-day medians don't merge), so the refreshable form of
    * "all-history percentiles" stores a fixed-bin HISTOGRAM per grain —
    * bin counts add, and the quantile read-off is a deterministic
    * function of the merged counts (so unlike e66 there is no
    * probabilistic gate: the oracle recomputes the identical answer). */
  def e68StateDir(d: String): String =
    graft.util.PathKeys.fixtureDir("events_hist_state", d)

  /** 40 bins of 1000 cents: deterministic, clamped top bin. */
  private def e68Bin: org.apache.spark.sql.Column =
    least(floor(round(col("value") * 100) / 1000).cast("long"), lit(39L))

  private def e68Partials(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"), to_date(col("ts")).as("d"),
        e68Bin.as("bin"))
      .agg(count(lit(1)).as("n"))

  def e68Ensure(s: SparkSession, d: String): Unit =
    stageState(s, d, e68StateDir(d)) {
      e68Partials(events(s, d)
        .where(col("ts") < lit(e63Boundary).cast("timestamp")))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(e68StateDir(d))
    }

  /** E68: incremental PERCENTILE maintenance — merged histogram state +
    * delta bins, quantiles read off the cumulative distribution with
    * PURE-INTEGER thresholds (`cum·2 ≥ total` for p50, `cum·10 ≥
    * 9·total` for p90, `cum·100 ≥ 99·total` for p99 — no float ever
    * touches the compare). Reported values are bin lower edges in
    * cents: the histogram's declared ±1000-cent resolution, which
    * HistQuantileSpec bounds against the exact order statistic.
    *
    * 100 TB path: refresh cost is O(groups × bins) state rows + the
    * pushed-boundary delta scan; the quantile read-off is a window over
    * the types × 40-bin relation — invisible at any corpus size. The
    * production form widens bins adaptively or swaps in a t-digest; the
    * fixed grid keeps every engine/oracle bit identical. */
  def e68HistQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    e68Ensure(s, d)
    val state = s.read.parquet(e68StateDir(d))
    val delta = e68Partials(
      events(s, d).where(col("ts") >= lit(e63Boundary).cast("timestamp")))
    val merged = state.unionByName(delta)
      .groupBy("event_type", "bin")
      .agg(sum("n").as("n"))
    val w = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("event_type")
    merged
      .withColumn("cum", sum("n").over(w))
      .withColumn("total", sum("n").over(wt))
      .groupBy("event_type")
      .agg(max("total").as("total_n"),
        (min(when(col("cum") * 2 >= col("total"), col("bin"))) * 1000)
          .as("p50_cents"),
        (min(when(col("cum") * 10 >= col("total") * 9, col("bin"))) * 1000)
          .as("p90_cents"),
        (min(when(col("cum") * 100 >= col("total") * 99, col("bin"))) * 1000)
          .as("p99_cents"))
      .orderBy("event_type")
  }

  def e66HllStateMerge(s: SparkSession, d: String): DataFrame = {
    val merged = e66Merged(s, d)
    val exact = events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_day_sketches"), col("exact_users"),
        (abs(col("est_users") - col("exact_users")).cast("double") <=
          greatest(col("exact_users") * 0.08, lit(10.0))).as("hll_ok"))
      .orderBy("event_type")
  }
}
