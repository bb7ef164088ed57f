package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every SparkEntry query to
  * docs/plans/<key>.txt — the reviewable evidence for the plan-shape
  * contracts in SCALE.md. Usage: sbt "runMain graft.Plans [sfDir] [outDir]". */
object Plans {

  /** Renumber `#<exprId>` and `plan_id=<n>` tokens in first-appearance
    * order so a dump's text depends only on the plan's shape, not on the
    * session-global ID counters (which shift whenever an unrelated query
    * is added earlier in the run). Without this every regeneration
    * touches all ~130 files with pure counter noise and real plan drift
    * drowns in it. */
  private[graft] def canonicalize(text: String): String = {
    def renumber(t: String, re: scala.util.matching.Regex,
                 fmt: Int => String): String = {
      val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
      re.replaceAllIn(t, m => fmt(ids.getOrElseUpdate(m.group(1), ids.size)))
    }
    val a = renumber(text, "#(\\d+)".r, n => s"#$n")
    val b = renumber(a, "plan_id=(\\d+)".r, n => s"plan_id=$n")
    // two more session-global counters that churned every regeneration:
    // lambda variable ids (x_179 → x_180 whenever an earlier query adds
    // a HOF) and JVM identity hashes in native-Expression literal
    // arguments ([[D@63c25f3a — a new array object every run)
    val c0 = renumber(b, "lambda x_(\\d+)".r, n => s"lambda x_$n")
    // HOF binder variables use other letters too (zip_with's second arg
    // prints as `lambda y_58`) — same session-global counter noise
    val c1 = renumber(c0, "lambda y_(\\d+)".r, n => s"lambda y_$n")
    // JVM synthetic lambda class ids (`$$Lambda$8402/0x00007fe9...`)
    // carry a per-JVM registration counter AND an address — both churn
    // every run; the `@hex` rule below never sees them because the
    // address is embedded before any `@`
    val c = c1.replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda\\$~")
    // identity hashes only where the JVM prints them — `<type>@<hex>`
    // with the type token ending in an identifier char, `;` (object
    // array like [Ljava.lang.String;) or a primitive-array letter
    // after `[`. A blanket `@hex` match also canonicalized hex-ish
    // tokens inside string literals/names and could mask a real plan
    // diff (r13 advice).
    // `~` joins the anchor class: the Lambda rewrite above leaves
    // `Lambda$~@<identityHash>` and the hash must still canonicalize;
    // RDD registration ids (`MapPartitionsRDD[2659]`) are a per-session
    // counter printed by checkpointed-RDD scan arguments.
    // {4,12}: an identity hash is Integer.toHexString with no zero pad,
    // so short values print 4-5 chars (a real `@bf47f` slipped the old
    // {6,10} floor and churned e40's dump in r15)
    c.replaceAll("([A-Za-z0-9_$;\\]~])@[0-9a-f]{4,12}\\b", "$1@~")
      .replaceAll("RDD\\[\\d+\\]", "RDD[~]")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("docs/plans")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    // keep declared results lazy: materializeAndRelease would otherwise
    // collapse e61/e64-style keys to a `Scan ExistingRDD` stub and the
    // dump would lose its exchange/aggregate evidence
    graft.Tables.keepLazyForPlans = true
    Files.createDirectories(Paths.get(outDir))
    // SPARK_GRAFT_PLANS_ONLY=a,b,c restricts the dump to named queries
    // (iteration aid, same contract as the bench/verify ONLY filters)
    val only = sys.env.get("SPARK_GRAFT_PLANS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    // auxiliary dumps: plan-shape evidence for internal legs a declared
    // key executes before its returned plan (e2pq's phase-1 ADC
    // shortlist — the codes-only scan is the format's claim and would
    // otherwise be invisible in the declared dump)
    val aux: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map("e2pq_adc_leg" -> ((s, d) => graft.sources.IvfServe.e2pqAdcLeg(s, d)._1),
        "e48c_delta_leg" -> ((s, d) => graft.ops.CurationOps.e48cDeltaLeg(s, d)))
    (selected ++ (if (only.isEmpty) aux else aux.filter(kv => only.get(kv._1))))
      .toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // streaming-drain and iterative queries execute on construction and
      // report their final batch plan like any other
      try {
        // per-key cache isolation (the Verify/Bench contract): under
        // keepLazyForPlans a key's materializeAndRelease never runs, so
        // its persisted sub-relations stay registered and a LATER key
        // sharing the same canonical subtree (e45's shingle rows inside
        // e56) would dump a plan routed through the earlier key's cache
        // instead of its own standalone shape
        spark.catalog.clearCache()
        val df = fn(spark, sfDir)
        Files.writeString(Paths.get(s"$outDir/$name.txt"),
          canonicalize(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
      } catch { case e: Throwable =>
        Files.writeString(Paths.get(s"$outDir/$name.txt"),
          s"plan unavailable: ${e.getMessage}\n")
      }
    }
    spark.stop()
  }
}
