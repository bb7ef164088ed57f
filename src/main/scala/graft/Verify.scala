package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cores(4))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c restricts the dump to named queries
    // (iteration aid, same contract as the bench's BENCH_ONLY; the
    // driver's full gate never sets it)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { req =>
      val unknown = req.diff(SparkEntry.queries.keySet)
      unknown.toSeq.sorted.foreach(n =>
        System.err.println(s"[verify] SPARK_GRAFT_VERIFY_ONLY: unknown query '$n'"))
    }
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    if (picked.isEmpty)
      sys.error("SPARK_GRAFT_VERIFY_ONLY matched no queries — nothing to verify")
    val status = picked.map { case (name, fn) =>
      try {
        // queries that persist() shared sub-relations register them in the
        // session cache for the query's lifetime — release between queries
        spark.catalog.clearCache()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        name -> "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name -> s"error: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query status so rounds can distinguish "not declared" from
    // "declared but crashed" (VERDICT r1 §what's-wrong 3).
    val statusJson = status
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/status.json"), statusJson)
    spark.stop()
  }
}
