package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-amplification generator: writes an N×-size copy of a testdata
  * directory for scaling-slope measurement
  * (`Amplify <src> <dst> [N] [--perturb] [--eps=0.03] [--tables=a,b]`).
  *
  * Each copy c offsets every key domain by c × (max_key + 1), applied
  * consistently across fact/dimension FKs (orders.o_custkey moves with
  * customer.c_custkey, lineitem with orders/part/supplier), so joins
  * behave exactly as at 1× — N× the rows, N× the matched pairs, no
  * cross-copy edges. Content columns are made copy-DISJOINT where an
  * operator measures similarity: document tokens get a per-copy suffix
  * (so dedup/similarity candidate sets scale linearly instead of every
  * doc gaining N−1 artificial near-duplicates). region/nation stay
  * fixed: they are bounded dimensions at any scale. Copy 0 is
  * byte-identical content, so point lookups and literal-keyed queries
  * still hit.
  *
  * EMBEDDINGS have two modes:
  *
  *  - default: verbatim copies with per-copy `label` cells (more cells,
  *    constant cell size). Honest for THROUGHPUT but circular for the
  *    e2r QUALITY gate: a query's exact top-k is its verbatim copies,
  *    which share its LSH bucket (recall_lsh pinned 1.0) yet sit in
  *    per-copy IVF cells (recall_ivf pinned 0.0) — the measurement
  *    reads the amplifier, not the index.
  *  - `--perturb`: copies c>0 get EPSILON-NOISED vectors (deterministic
  *    xxhash64-seeded uniform noise per (vec_id, copy, dim)), and ALL
  *    rows — copy 0 included — get GEOMETRIC labels: nearest-centroid
  *    assignment over 10×N base vectors taken as coarse centroids
  *    (cells grow in number, not size — the IVF shape at any scale).
  *    A query's exact top-k is now its near-identical neighbors, whose
  *    cell/bucket membership flips exactly when the noise crosses a
  *    Voronoi or hyperplane boundary — so e2r's recalls land strictly
  *    inside (0,1) and measure quantizer stability, i.e. the index.
  *    Only the label column of copy 0 changes; its vectors stay
  *    byte-identical (vec_id-literal queries still hit).
  *
  * Deliberately a generator main, not a library op — interpreted lambda
  * transforms and a crossJoin against the (tiny, broadcast) centroid
  * set are fine here. */
object Amplify {

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length >= 2,
      "usage: Amplify <srcDir> <dstDir> [factor] [--perturb] [--eps=E] [--tables=a,b]")
    val factor = if (pos.length > 2) pos(2).toInt else 10
    val perturb = flags.contains("--perturb")
    val eps = flags.collectFirst { case f if f.startsWith("--eps=") =>
      f.stripPrefix("--eps=").toDouble }.getOrElse(DefaultEps)
    val only = flags.collectFirst { case f if f.startsWith("--tables=") =>
      f.stripPrefix("--tables=").split(",").toSet }.getOrElse(Set.empty[String])
    val extendTime = flags.contains("--extend-time")
    // a typo'd flag (--pertrub) must not silently run a different mode
    // and hand downstream a fixture with the circular 1.0/0.0 recalls
    val unknown = flags.filterNot(f =>
      f == "--perturb" || f == "--extend-time" ||
        f.startsWith("--eps=") || f.startsWith("--tables="))
    require(unknown.isEmpty,
      s"unknown flag(s) ${unknown.mkString(", ")} — " +
        "usage: Amplify <srcDir> <dstDir> [factor] [--perturb] [--eps=E] " +
        "[--tables=a,b] [--extend-time]")
    val spark = GraftSession.builder()
      .master(s"local[${GraftSession.cores(32)}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, pos(0), pos(1), factor, perturb, eps, only, extendTime)
    spark.stop()
  }

  /** Uniform noise half-width per dimension for --perturb. The vectors
    * are unit-norm with per-dim σ≈1/8; 0.12 puts the noise-induced
    * cosine jitter above the top-2 centroid margin and the LSH bit
    * margins often enough that a measurable-but-minority fraction of
    * near-duplicate copies crosses a cell/bucket boundary — including
    * the occasional ≥2-bit flip that escapes multi-probe, so ALL THREE
    * recalls land strictly inside (0,1) (measured: sf0.1×10 ivf 0.29 /
    * lsh 0.67 / mp 0.92; sf0.01×10 ivf 0.38 / lsh 0.50 / mp 0.96).
    * Smaller eps (0.03-0.10) pins recall_mp at exactly 1.0 — a valid
    * measurement, but an endpoint says nothing about mp's own loss. */
  val DefaultEps: Double = 0.12

  /** Programmatic entry (AnnRecallSpec builds a perturbed fixture with
    * it). `only` empty = all tables. */
  def run(spark: SparkSession, src: String, dst: String, factor: Int,
      perturb: Boolean = false, eps: Double = DefaultEps,
      only: Set[String] = Set.empty, extendTime: Boolean = false): Unit = {
    def wanted(t: String): Boolean = only.isEmpty || only.contains(t)
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // one scan per table for ALL of its key-domain sizes
    def offs(df: DataFrame, cols: String*): Seq[Long] = {
      val row = df.agg(max(col(cols.head)).cast("long"),
        cols.tail.map(c => max(col(c)).cast("long")): _*).head()
      cols.indices.map(row.getLong(_) + 1)
    }

    /** Union of `factor` copies; per copy, `keyOffsets` columns shift by
      * c × domain-size and `extra` applies any content rewrite. */
    def copiesOf(t: String, keyOffsets: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = read(t)
      (0 until factor).map { c =>
        val shifted = keyOffsets.foldLeft(base) { case (df, (k, o)) =>
          // preserve the source column type (a +long would widen ints)
          df.withColumn(k, (col(k) + lit(c * o)).cast(base.schema(k).dataType))
        }
        extra(shifted, c)
      }.reduce(_.unionByName(_))
    }

    def amplify(t: String, keyOffsets: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit =
      if (wanted(t)) {
        writeSingleFile(copiesOf(t, keyOffsets, extra), s"$dst/$t.parquet")
        println(s"[amplify] $t x$factor done")
      }

    /** The driver's testdata ships each table as ONE parquet FILE (the
      * streaming staging copies `events.parquet` as a file), so the
      * amplified layout must match: write, then promote the single part
      * file to the bare path. */
    def writeSingleFile(df: DataFrame, path: String): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import scala.util.Using
      val tmp = path + ".dir"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Using.resource(Files.list(Paths.get(tmp))) { st =>
        st.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
      }
      Files.createDirectories(Paths.get(path).getParent)
      Files.move(Paths.get(part), Paths.get(path),
        StandardCopyOption.REPLACE_EXISTING)
      Using.resource(Files.walk(Paths.get(tmp))) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }

    // bounded dimensions: identical at any scale
    Seq("region", "nation").filter(wanted).foreach { t =>
      writeSingleFile(read(t), s"$dst/$t.parquet")
      println(s"[amplify] $t copied")
    }
    if (wanted("customer"))
      amplify("customer", Map("c_custkey" -> offs(read("customer"), "c_custkey").head))
    if (wanted("supplier"))
      amplify("supplier", Map("s_suppkey" -> offs(read("supplier"), "s_suppkey").head))
    if (wanted("part"))
      amplify("part", Map("p_partkey" -> offs(read("part"), "p_partkey").head))
    if (wanted("orders")) {
      val Seq(oOrd) = offs(read("orders"), "o_orderkey")
      amplify("orders", Map("o_orderkey" -> oOrd,
        "o_custkey" -> offs(read("customer"), "c_custkey").head))
    }
    if (wanted("lineitem"))
      amplify("lineitem", Map(
        "l_orderkey" -> offs(read("orders"), "o_orderkey").head,
        "l_partkey" -> offs(read("part"), "p_partkey").head,
        "l_suppkey" -> offs(read("supplier"), "s_suppkey").head))
    if (wanted("events")) {
      val Seq(oEvent, oUser) = offs(read("events"), "event_id", "user_id")
      // --extend-time: copy c shifts every timestamp by c × (span + 1),
      // so the amplified corpus EXTENDS in time at constant event
      // density — the shape a real multi-year event log has — instead
      // of densifying the same span (the default, which multiplies
      // per-window candidate products quadratically; both regimes are
      // needed to pin which term a range-join slope measures). The
      // shift preserves the source's ts physical type (timestamp vs
      // BIGINT nanos fixtures).
      val extendShift: (DataFrame, Int) => DataFrame =
        if (!extendTime) (d, _) => d
        else {
          import org.apache.spark.sql.types.{LongType, TimestampNTZType}
          read("events").schema("ts").dataType match {
            case LongType => // raw nanos fixture
              val r = read("events").agg(min(col("ts")), max(col("ts"))).head()
              val spanNs = r.getLong(1) - r.getLong(0) + 1
              (d, c) => if (c == 0) d else
                d.withColumn("ts", col("ts") + lit(c.toLong * spanNs))
            case t => // µs timestamp (TZ or NTZ): shift via timestampadd
              val asTs = if (t == TimestampNTZType) col("ts").cast("timestamp") else col("ts")
              val r = read("events")
                .agg(min(unix_micros(asTs)), max(unix_micros(asTs))).head()
              val spanUs = r.getLong(1) - r.getLong(0) + 1
              (d, c) => if (c == 0) d else
                d.withColumn("ts",
                  expr(s"timestampadd(MICROSECOND, ${c.toLong * spanUs}, ts)"))
          }
        }
      amplify("events", Map("event_id" -> oEvent, "user_id" -> oUser), extendShift)
    }
    // Per-copy token suffix keeps copies dissimilar; copy 0 untouched.
    // The suffix carries a hash of the SOURCE path so re-amplification
    // stays collision-free: with a bare "x$c", copy 1's suffixed
    // original "tok"+"x1" equals the verbatim copy-0 token "tokx1"
    // from the input's own sub-copy 1, silently MERGING bigram postings
    // across copies — measured 11.9× pair volume per 10× data at
    // sf10a where true copy-disjointness gives exactly 10×. Distinct
    // copies of one run differ in c; nested runs differ in the source
    // key, so no two suffix paths collide.
    if (wanted("documents")) {
      val key = graft.util.PathKeys.pathKey(src).take(4)
      amplify("documents", Map("doc_id" -> offs(read("documents"), "doc_id").head),
        (df, c) =>
          if (c == 0) df
          else {
            val sfx = s"x$c$key"
            df.withColumn("text", array_join(
                transform(split(col("text"), " "), t => concat(t, lit(sfx))), " "))
              .withColumn("n_chars", length(col("text")).cast("long"))
          })
    }
    if (wanted("embeddings")) {
      val base = read("embeddings")
      val Seq(oVec) = offs(base, "vec_id")
      if (!perturb)
        amplify("embeddings", Map("vec_id" -> oVec,
          "label" -> offs(base, "label").head))
      else {
        // copies c>0: deterministic uniform noise in [-eps, eps] per
        // (vec_id, copy, dim) — xxhash64 as the seedless PRNG, so the
        // fixture is reproducible and both engines read identical bytes
        val noised = copiesOf("embeddings", Map("vec_id" -> oVec), (df, c) =>
          if (c == 0) df
          else df.withColumn("embedding",
            transform(col("embedding"), (x, i) => (x +
              lit(eps) * ((pmod(xxhash64(col("vec_id"), lit(c), i), lit(2001))
                - lit(1000)) / lit(1000.0))).cast("float"))))
        // geometric labels for EVERY row: nearest-centroid (argmax
        // cosine, ties to the lowest centroid id) over 10×factor base
        // vectors — cell count grows with scale, cell size stays
        // constant. Centroid ids start at 8: vec_id < 8 are e2/e2r's
        // query literals and a query that IS a centroid would have a
        // degenerate margin. The centroid set is tiny and broadcast;
        // N×C cosines is generator-budget work.
        // constant CELL SIZE (~200 vectors), not constant cell count:
        // nCent tracks the amplified row count, so re-amplifying
        // sfx1 → sfx10 grows cells 10× in NUMBER, not size — the IVF
        // shape whose per-cell work stays bounded at any scale (a fixed
        // cell count re-amplified once made e13's per-cell quadratic
        // work 10× heavier: measured 3 s → 28 s at sf10a).
        val baseCount = base.count()
        // the centroid window is [8, 8+nCent): with <=8 source rows it is
        // EMPTY, the labels inner join drops every row, and an empty
        // embeddings.parquet would be written silently
        require(baseCount > 8,
          s"--perturb needs >8 embedding rows for centroids (got $baseCount)")
        val nCent = math.min(baseCount * factor / 200L, baseCount - 8)
          .toInt.max(4)
        val cents = base
          .where(col("vec_id") >= 8 && col("vec_id") < 8 + nCent)
          .select(col("vec_id").as("cid"),
            col("embedding").cast("array<double>").as("cv"))
        // argmax as ONE hash-aggregable primitive: max(struct(cos,-cid))
        // is not a mutable-buffer aggregation type, so Spark planned a
        // SortAggregate that SORTED the N×C cross-join relation — at
        // the sfx100 build (2M rows × 10k centroids = 2e10 rows) that
        // sort spilled 77 GB and killed the box. Packing quantized
        // cosine and centroid id into one long keeps the argmax in
        // HashAggregate with map-side partials (the cross join streams,
        // nothing materializes). Quantization is 1e-9 over cos∈[-1,1] —
        // far below any real cell margin; ties resolve to the LOWEST
        // cid exactly as the struct form did (larger packed = smaller
        // cid at equal quantized cosine).
        val M = 1000000L
        require(8L + nCent < M, s"packed argmax assumes cid < $M (got $nCent cells)")
        val labels = noised
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .crossJoin(broadcast(cents))
          .select(col("vec_id"),
            (((graft.functions.GraftFunctions.cosine(col("v"), col("cv")) + 1.0)
              * 1e9).cast("long") * M - col("cid")).as("packed"))
          .groupBy("vec_id")
          .agg(max(col("packed")).as("p"))
          .select(col("vec_id"),
            (pmod(lit(M) - pmod(col("p"), lit(M)), lit(M)) - 8).cast("int").as("label"))
        writeSingleFile(
          noised.drop("label").join(labels, "vec_id")
            .select("vec_id", "embedding", "label"),
          s"$dst/embeddings.parquet")
        println(s"[amplify] embeddings x$factor done (perturb eps=$eps, " +
          s"$nCent geometric cells)")
      }
    }
  }
}
