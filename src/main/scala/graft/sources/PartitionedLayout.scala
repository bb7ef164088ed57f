package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Hive-style partitioned parquet layout + partition-pruned scans — the
  * storage-level analogue of the reference's per-dataset scrape scoping
  * (`web_scrpaer_2.py:475-476`: only the requested datasets are visited).
  *
  * At 100 TB the fact tables are laid out partitioned by their scan key
  * (here: orders by o_orderstatus); a predicate on the partition column
  * then prunes whole directories BEFORE any I/O — visible in the plan as
  * `PartitionFilters` + a reduced `PartitionCount`, which
  * PartitionPruningSpec asserts. This is directory-level pruning, a
  * separate mechanism from the row-group `PushedFilters` that
  * PlanShapeSpec checks on flat scans.
  */
object PartitionedLayout {

  /** Layout path is per scale factor — the same session may verify at
    * one SF and test at another. Keyed by basename PLUS a hash of the
    * full source path so two roots with the same basename never collide. */
  def layoutDir(d: String): String =
    graft.util.PathKeys.fixtureDir("orders_by_status", d)

  /** One-time: write orders partitioned by status. Staleness is the
    * source's exact (size, mtime) signature, not just _SUCCESS — a
    * regenerated orders.parquet at the same path must invalidate the
    * derived layout, or the pruned scan silently serves old data. */
  def ensure(s: SparkSession, d: String): Unit = {
    import java.nio.file.Paths
    graft.util.Staged.ensure(Paths.get(layoutDir(d)),
        graft.util.Staged.sourceSig(Paths.get(d, "orders.parquet")),
        Seq("_SUCCESS")) {
      orders(s, d).write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderstatus")
        .parquet(layoutDir(d))
    }
  }

  /** Partition-pruned scan: only the o_orderstatus=F directory is read. */
  def prunedScan(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    s.read.parquet(layoutDir(d))
      .where(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }
}
