package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Z-order (Morton-curve) clustered parquet layout + a multi-dimension
  * range scan over it — the data-layout technique that makes BOTH
  * dimensions of a 2-D predicate prunable from row-group min/max stats,
  * where a single-column sort serves only its leading key. Storage-level
  * sibling of [[PartitionedLayout]] (directory pruning) one level down:
  * row-group pruning inside files.
  *
  * Reference analogue: v2's range-scrape mode slices the dataset axis
  * only (`web_scrpaer_2.py:291-354`); an analytics store over the same
  * data wants scans bounded in BOTH user and time, which is exactly what
  * the interleave buys.
  *
  * The z-value is a pure bit-twiddle over quantized coordinates —
  * `shiftleft`/`&`/`|` built-ins all the way down (the classic
  * mask-spread: 16 bits of user_id interleaved with 16 bits of
  * epoch-hour), so it stays inside whole-stage codegen AND is
  * re-computable verbatim by the DuckDB oracle's integer bit ops.
  *
  * 100 TB path: the layout write is one range-repartition by z (a single
  * total-order exchange, the same cost as any sorted-table build) and
  * the scan side is embarrassingly prunable — each row group covers a
  * z-contiguous tile, so a (user × time) box touches O(perimeter) row
  * groups instead of O(rows)/O(full time range). ZOrderLayoutSpec
  * measures exactly that on real footers: it writes the same rows
  * z-sorted and ts-sorted with small row groups and counts how many
  * groups' [min,max] boxes intersect the query box — the z layout must
  * prune strictly more. The declared key's aggregate is grouped by
  * z-tile (z >> 20) so the oracle verifies the interleave arithmetic
  * bit-for-bit, not just the filtered row set.
  */
object ZOrderLayout {

  /** 16-bit mask spread: x -> bits of x interleaved with zeros.
    * Long-domain throughout (no sign games at 32 bits). */
  private[graft] def spread16(x: Column): Column = {
    val masked = x.bitwiseAND(lit(0xFFFFL))
    val s8 = masked.bitwiseOR(shiftleft(masked, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s4 = s8.bitwiseOR(shiftleft(s8, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s2 = s4.bitwiseOR(shiftleft(s4, 2)).bitwiseAND(lit(0x33333333L))
    s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton z-value of (user_id, epoch-hour). The hour coordinate is
    * `epoch_hour mod 2^16` — a CONFIGURED layout epoch in production
    * (subtract the table's base hour); the mod keeps the fixture
    * deterministic at any path. user bits even, hour bits odd. */
  private[graft] def zval(user: Column, ts: Column): Column = {
    val hourQ = pmod((unix_timestamp(ts) / 3600L).cast("long"), lit(65536L))
    spread16(user).bitwiseOR(shiftleft(spread16(hourQ), 1)).as("zval")
  }

  def layoutDir(d: String): String =
    graft.util.PathKeys.fixtureDir("events_zorder", d)

  /** One-time z-clustered write: rows carry their z-value, the exchange
    * is a range-repartition ON z and each output task sorts its slice,
    * so every row group's (user, hour) bounding box is a compact tile.
    * Staleness signature matches [[PartitionedLayout.ensure]]. */
  def ensure(s: SparkSession, d: String): Unit = {
    import java.nio.file.Paths
    graft.util.Staged.ensure(Paths.get(layoutDir(d)),
        graft.util.Staged.sourceSig(Paths.get(d, "events.parquet")),
        Seq("_SUCCESS")) {
      // INT64-micros timestamps: INT96 (the compat default) carries no
      // usable column stats, which would kill both the ts pushdown and
      // the row-group pruning this layout exists for. The conf is
      // session-shared, so the previous value is restored after the
      // write — otherwise every LATER parquet write in the session
      // (e63/e66/e68 state, streaming drains) silently changes its
      // on-disk timestamp encoding depending on whether e62 ran first
      // (r10 advice: order-dependent artifacts).
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "TIMESTAMP_MICROS")
      try {
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), col("value"),
            zval(col("user_id"), col("ts")))
          .repartitionByRange(col("zval"))
          .sortWithinPartitions("zval")
          .write.mode(SaveMode.Overwrite).parquet(layoutDir(d))
      } finally {
        prev match {
          case Some(v) => s.conf.set(key, v)
          case None    => s.conf.unset(key)
        }
      }
    }
  }

  /** E62: 2-D range scan over the z-clustered layout — users 4..79 in
    * a 10-day time window, aggregated per z-tile (zval >> 20, i.e. the
    * top 12 interleaved bits = a 64-user × 64-hour tile). Both range
    * predicates are plain column comparisons, so they reach the parquet
    * scan as PushedFilters and prune on row-group min/max stats; the
    * tile group-by proves the stored z-values are the interleave of
    * exactly those columns. */
  def e62ZorderScan(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    s.read.parquet(layoutDir(d))
      .where(col("user_id").between(4, 79) &&
        col("ts") >= lit("2024-01-11 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-21 00:00:00").cast("timestamp"))
      .groupBy(shiftright(col("zval"), 20).as("z_tile"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        min("user_id").as("min_user"), max("user_id").as("max_user"))
      .orderBy("z_tile")
  }
}
