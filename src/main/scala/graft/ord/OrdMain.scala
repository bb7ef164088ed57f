package graft.ord

import org.apache.spark.sql.SparkSession

/** Executable CLI over [[OrdApi]] — the reference's interactive scraper
  * configuration (`/root/reference/web_scrpaer_2.py:291-334,509-527`)
  * as a runnable main. Mode numbers, prompt order, 1-based end-inclusive
  * range semantics, and the blank-input defaults are the reference's;
  * the scrape step is replaced by the ORD query pipeline and the save
  * step by the byte-exact formatted-JSON writer (OrdApi.saveFormatted).
  *
  * Arguments (argv form; with NO argv the reference's prompt loop runs
  * on stdin):
  * {{{
  *   1|all      [dsStart] [dsEnd]
  *   2|datasets id1,id2,...
  *   3|range    dsStart dsEnd rxStart rxEnd
  *   4|custom   id=start-end[,id=start-end...]
  *   5|single   dsIndex [rxIndex]            (reference default rx = 1)
  * Options: --corpus <golden-file>   scope every mode to a file (datasets
  *                                   numbered within it)
  *          --save <path>            write the byte-exact formatted JSON
  *          --out <dir>              write result rows as TSV (distributed)
  * }}}
  */
object OrdMain {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("ord-scraper")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_PARTS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq, () => scala.io.StdIn.readLine())
    finally spark.stop()
  }

  /** Testable core: parses argv (or prompts via `readLine` when argv is
    * empty, mirroring web_scrpaer_2.py:291-334), runs the mode on `api`,
    * prints a row summary, and honors --save/--out. */
  private[graft] def run(
      s: SparkSession, argv: Seq[String], readLine: () => String,
      api: OrdApi = OrdApi): Unit = {
    val (flags, pos) = parseFlags(argv)
    val mode = pos.headOption.getOrElse(prompt(readLine,
      "Enter mode (1-5): "))
    val df = mode match {
      case "1" | "all" =>
        val a = pos.lift(1).orElse(ask(readLine,
          "Start dataset index (1-based, Enter for 1): "))
        val b = pos.lift(2).orElse(ask(readLine,
          "End dataset index (1-based, Enter for All): "))
        (a, b) match {
          case (None, None) => api.allReactions(s, flags.get("corpus"))
          case _ => api.uniformRange(s, a.fold(1)(_.toInt),
            b.fold(Int.MaxValue)(_.toInt), 1, Int.MaxValue,
            flags.get("corpus"))
        }
      case "2" | "datasets" =>
        val ids = pos.lift(1).getOrElse(prompt(readLine,
          "Enter dataset IDs (comma-separated): "))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        api.specificDatasets(s, ids, flags.get("corpus"))
      case "3" | "range" =>
        def arg(i: Int, q: String): Int =
          pos.lift(i).orElse(ask(readLine, q)).fold(
            if (i % 2 == 1) 1 else Int.MaxValue)(_.toInt)
        api.uniformRange(s,
          arg(1, "Start dataset index: "), arg(2, "End dataset index: "),
          arg(3, "Start reaction index: "), arg(4, "End reaction index: "),
          flags.get("corpus"))
      case "4" | "custom" =>
        val spec = pos.lift(1).getOrElse(promptRanges(readLine))
        val ranges = spec.split(",").filter(_.nonEmpty).map { kv =>
          val Array(id, r) = kv.split("=")
          val Array(a, b) = r.split("-")
          id.trim -> (a.trim.toInt, b.trim.toInt)
        }.toMap
        api.customRanges(s, ranges, flags.get("corpus"))
      case "5" | "single" =>
        val d = pos.lift(1).getOrElse(prompt(readLine,
          "Enter Dataset Index (e.g., 50): ")).toInt
        val r = pos.lift(2).orElse(ask(readLine,
          "Enter Reaction Index (e.g., 1): ")).fold(1)(_.toInt)
        // the reference's degenerate range
        api.uniformRange(s, d, d, r, r, flags.get("corpus"))
      case other =>
        System.err.println(s"unknown mode '$other', defaulting to all")
        api.allReactions(s, flags.get("corpus"))
    }
    val rows = df.collect() // curated golden-scale result, ≤ a few hundred rows
    println(s"ROWS=${rows.length}")
    rows.take(20).foreach(r => println(r.mkString("\t")))
    flags.get("out").foreach { dir =>
      df.write.mode("overwrite").option("sep", "\t")
        .option("header", "true").csv(dir)
      println(s"OUT=$dir")
    }
    flags.get("save").foreach { path =>
      // save the formatted-JSON document for exactly the datasets the
      // mode touched (byte-exact writer; collides loudly on dup ids)
      val ids = rows.map(r =>
        r.getString(r.fieldIndex("dataset_id"))).distinct.toSeq
      api.saveFormatted(s, path, flags.get("corpus"), ids)
      println(s"SAVED=$path")
    }
  }

  private def parseFlags(
      argv: Seq[String]): (Map[String, String], Seq[String]) = {
    val flags = scala.collection.mutable.Map[String, String]()
    val pos = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case f if f.startsWith("--") && i + 1 < argv.length =>
          flags(f.drop(2)) = argv(i + 1); i += 2
        case f if f.startsWith("--") =>
          // a trailing flag must not leak into positional parsing, where
          // it would surface as a confusing number-format error
          throw new IllegalArgumentException(s"missing value for $f")
        case p => pos += p; i += 1
      }
    }
    (flags.toMap, pos.toSeq)
  }

  private def prompt(readLine: () => String, q: String): String = {
    print(q)
    Option(readLine()).map(_.trim).getOrElse("")
  }

  /** Blank answer → None (the reference's "Enter for default"). */
  private def ask(readLine: () => String, q: String): Option[String] =
    Some(prompt(readLine, q)).filter(_.nonEmpty)

  /** Mode 4's id-by-id prompt loop (web_scrpaer_2.py:320-326). */
  private def promptRanges(readLine: () => String): String = {
    val parts = scala.collection.mutable.Buffer[String]()
    var done = false
    while (!done) {
      val id = prompt(readLine, "Enter dataset ID (Enter to finish): ")
      if (id.isEmpty) done = true
      else {
        val a = prompt(readLine, s"  Start idx for $id: ")
        val b = prompt(readLine, s"  End idx for $id: ")
        parts += s"$id=${if (a.isEmpty) "1" else a}-${if (b.isEmpty) Int.MaxValue.toString else b}"
      }
    }
    parts.mkString(",")
  }
}
