package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The version protocol the text and vector index lifecycles read by.
  * An index row carries `ver`: the base reads as −1, a fold row as the
  * id of the batch that wrote it — every drain stamps it, so each fold
  * tree has one schema. A tombstone `(key, upto)` retires the versions
  * of its key older than `upto` (the version shipped with the
  * tombstone's own batch survives); one written without `upto` retires
  * them all. So ONE read serves every tree either lifecycle writes, and
  * over a tombstone-free read set it plans exactly the append read. */
private[graft] object Versioned {

  /** `base` at ver −1 ∪ the fold `dirs` read with their tree's
    * `schema` ([[FoldTree.read]]), each side narrowed by `narrow` and
    * projected to `base`'s columns plus `ver`. */
  def rows(s: SparkSession, base: DataFrame, schema: StructType,
      dirs: Seq[String], narrow: DataFrame => DataFrame = identity): DataFrame = {
    val cols = (base.columns :+ "ver").map(col)
    val b = narrow(base).withColumn("ver", lit(-1L)).select(cols: _*)
    if (dirs.isEmpty) b
    else b.unionByName(narrow(FoldTree.read(s, schema, dirs)).select(cols: _*))
  }

  /** The tombstones in `dirs`, deduplicated; `None` for no dirs — the
    * driver decides it from the listing it already holds, with no job. */
  def tombs(s: SparkSession, schema: StructType, dirs: Seq[String]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(s.read.schema(schema).parquet(dirs: _*)
      .withColumn("upto", coalesce(col("upto"), lit(Long.MaxValue))).distinct())

  /** `rows` without the versions a tombstone retires: a broadcast
    * anti-join on `key` match AND `ver < upto` (the Lucene live-docs
    * bitmap as a relation). Without tombstones no join is planned. */
  def live(rows: DataFrame, tombs: Option[DataFrame], key: String): DataFrame =
    tombs.fold(rows) { all =>
      val t = all.select(col(key).as("t_key"), col("upto"))
      rows.join(broadcast(t), rows(key) === t("t_key") && rows("ver") < t("upto"),
        "left_anti")
    }
}
