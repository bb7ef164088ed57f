package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import graft.{GraftSession, SparkEntry}
import graft.ord.{OrdApi, OrdFixtures, OrdPipeline}
import graft.sources.LexIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

/** The JVM half of the workload benchmark: stages the program, runs one
  * client in a closed loop (the next operation starts when the previous
  * one returned) until `--seconds` have passed and at least one whole
  * cycle of the workload's mix has run, and writes every operation's timings,
  * result digests and, when tracing, spans and Spark's own counters to one
  * JSON file. `perfbench/run.py` generates the tables, starts this main,
  * checks the results and turns the file into metrics.
  *
  * Every call into the program goes through a public entry point:
  * `OrdApi`, `OrdPipeline`, `OrdFixtures`, `LexIndex.ensure` and the
  * `SparkEntry.queries` key functions.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, cores: Int, setupReps: Int,
      ordDatasets: Int, ordReactions: Int, corpusSeed: Long, corpusCache: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      need("cores").toInt, m.getOrElse("setup-reps", "3").toInt,
      m.getOrElse("ord-datasets", "0").toInt, m.getOrElse("ord-reactions", "0").toInt,
      m.getOrElse("corpus-seed", "0").toLong, m.getOrElse("corpus-cache", ""))
  }

  /** One operation of the closed loop. `run` is the timed part; the check
    * it returns runs after the clock stopped. */
  trait Op {
    def name: String
    def kind: String // read | write
    def run(s: SparkSession, t: Tracer): () => Check
  }
  /** `expect`/`got` are compared by run.py; an empty `expect` means the
    * result is checked against the DuckDB oracle through `dump`. */
  final case class Check(rows: Long, expect: String, got: String, dump: String = "")

  private val nf = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // the program resolves its fixture root from the environment once;
    // run.py has already refused unsafe roots, this pins that the JVM sees
    // the same one
    require(sys.env.get("GRAFT_FIXTURE_DIR").contains(OrdFixtures.fixtureDir) &&
      Paths.get(OrdFixtures.fixtureDir).startsWith(Paths.get(a.work)),
      s"fixture dir ${OrdFixtures.fixtureDir} is not inside the run dir ${a.work}")
    val out = nf.objectNode()
    val tracer = new Tracer(a.trace)
    val t0 = System.nanoTime()
    var spark = session(a)
    val gen = out.putObject("gen")
    val workload: Workload = a.workload match {
      case "ord_api" =>
        val g0 = System.nanoTime()
        val w = new OrdWorkload(a, spark)
        gen.put("s", (System.nanoTime() - g0) / 1e9)
        gen.put("datasets", w.plan.entries.size).put("reactions", w.plan.totalReactions)
        w
      case "curate_scale" => new KeyWorkload(a, CurateKeys.map(_ -> "read"))
      case "index_rw" => new KeyWorkload(a,
        IndexWrites.map(_ -> "write") ++ Seq.fill(2)(IndexReads).flatten.map(_ -> "read"))
      case other => sys.error(s"unknown workload $other")
    }
    val oracle = out.putObject("oracle_sql")
    workload.keys.foreach(k => SparkEntry.oracleSql.get(k).foreach(oracle.put(k, _)))
    // Set-up, repeated: stop the session, drop what the program staged,
    // start a new session and let the program stage again.
    val setups = out.putArray("setup")
    for (_ <- 1 to a.setupReps) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      workload.wipeStaged()
      val s0 = System.nanoTime()
      spark = tracer.span("session.start")(session(a))
      val s1 = System.nanoTime()
      tracer.span("ensure")(workload.ensure(spark, tracer))
      val s2 = System.nanoTime()
      setups.addObject().put("session_ms", (s1 - s0) / 1e6).put("ensure_ms", (s2 - s1) / 1e6)
        .put("s", (s2 - s0) / 1e9)
    }
    val conf = out.putObject("config")
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .foreach(k => conf.put(k, spark.conf.get(k)))
    conf.put("xmx_mb", Runtime.getRuntime.maxMemory / 1048576)
      .put("spark_version", spark.version)

    val ops = out.putArray("ops")
    var i = 0
    def runOne(op: Op, cycle: Int): Unit = {
      hygiene(spark)
      tracer.setOp(i)
      val rec = ops.addObject().put("i", i).put("op", op.name).put("kind", op.kind)
        .put("cycle", cycle)
      def fail(where: String, e: Throwable): Unit = rec.put("error",
        s"$where${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      val o0 = System.nanoTime()
      rec.put("t0", tracer.nowMs)
      val check = try tracer.span("op")(op.run(spark, tracer)) catch {
        case e: Throwable => fail("", e); null
      }
      rec.put("t1", tracer.nowMs).put("wall_ms", (System.nanoTime() - o0) / 1e6)
      rec.put("busy_ms", graft.streaming.StreamBusy.busySecs * 1e3)
        .put("triggers", graft.streaming.StreamBusy.batchCount)
      tracer.setOp(-1)
      // the result check runs after the clock stopped: digests,
      // parse-backs and the dumps the DuckDB oracle reads
      if (check != null) try {
        val r = check()
        rec.put("rows", r.rows).put("expect", r.expect).put("got", r.got)
        if (r.dump.nonEmpty) rec.put("dump", r.dump)
      } catch { case e: Throwable => fail("check: ", e) }
      i += 1
    }
    // warm-up: recorded as cycle -1 and checked, left out of the timings
    workload.warmup(new SplittableRandom(a.seed ^ 0x3a7L)).foreach(runOne(_, -1))
    val recorder = new SparkRecorder
    if (a.trace) recorder.register(spark)

    val sched = workload.schedule(new SplittableRandom(a.seed ^ 0x5eedL))
    val phase0 = System.nanoTime()
    val deadline = phase0 + (a.seconds * 1e9).toLong
    var cycleDone = false
    while (!cycleDone || System.nanoTime() < deadline) {
      val (op, cycle, lastOfCycle) = sched.next()
      runOne(op, cycle)
      if (lastOfCycle) cycleDone = true
    }
    val phaseS = (System.nanoTime() - phase0) / 1e9
    out.put("phase_s", phaseS)
    if (a.trace) {
      Thread.sleep(1500) // let the listener bus deliver the last events
      out.set("spark", recorder.json)
      out.set("spans", tracer.json)
      out.put("trace_overhead_pct",
        100.0 * (recorder.callbackNs.get + tracer.selfNs.get) / 1e9 / phaseS)
    }
    spark.stop()
    out.put("peak_rss_mb", vmHwmMb())
    out.put("jvm_s", (System.nanoTime() - t0) / 1e9)
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(out))
  }

  def session(a: Args): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder())
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Between operations and outside the clock, the hygiene `graft.Bench`
    * applies: drop session caches, cached RDD blocks and reliable
    * checkpoint files a previous operation left, so no operation reuses
    * another's materialisation. */
  private def hygiene(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.streaming.StreamBusy.reset()
    s.sparkContext.getCheckpointDir.foreach { d =>
      val root = Paths.get(new java.net.URI(d).getPath)
      if (Files.isDirectory(root)) Files.list(root).forEach { p =>
        if (p.getFileName.toString.startsWith("rdd-")) deleteTree(p)
      }
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally st.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally st.close()
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(-1.0)
    finally src.close()
  }

  def rowsDigest(rows: Array[Row]): String = Digest.of(rows.map(_.toString).mkString("\n"))

  // ─────────────────────────────────────────────── workloads

  val CurateKeys: Seq[String] = Seq("e6_minhash_lsh", "e16_dedup_clusters",
    "e19_dedup_pipeline", "e20b_bloom_decon", "e48c_bpe_delta", "e64_pagerank",
    "e70_curation_pipeline")
  val IndexWrites: Seq[String] = Seq("e35u_lex_upsert")
  val IndexReads: Seq[String] = Seq("e35s_bm25_serve", "e35q_adhoc_terms", "e35p_phrase_query")

  /** A workload stages the program and yields an endless schedule of
    * (operation, cycle number, last operation of its cycle). Each cycle
    * holds the workload's whole operation mix once, in seeded order. */
  trait Workload {
    def keys: Seq[String] = Nil
    /** Operations run once before the clock starts. */
    def warmup(r: SplittableRandom): Seq[Op] = Nil
    def wipeStaged(): Unit
    def ensure(s: SparkSession, t: Tracer): Unit
    def schedule(r: SplittableRandom): Iterator[(Op, Int, Boolean)]
  }

  private def cycles(r: SplittableRandom, mix: SplittableRandom => IndexedSeq[Op]) =
    Iterator.from(0).flatMap { c =>
      val ops = mix(r)
      ops.zipWithIndex.map { case (o, k) => (o, c, k == ops.size - 1) }
    }

  def shuffle[A](r: SplittableRandom, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val b = xs.toBuffer
    for (i <- b.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t
    }
    b.toIndexedSeq
  }

  /** Declared keys over the generated tables in `--data`. Every execution
    * reports the digest of its rows; the first execution of each key also
    * dumps its rows for the DuckDB oracle. */
  final class KeyWorkload(a: Args, kinds: Seq[(String, String)]) extends Workload {
    override def keys: Seq[String] = kinds.map(_._1)
    private val seen = scala.collection.mutable.Set[String]()

    def wipeStaged(): Unit = Files.list(Paths.get(OrdFixtures.fixtureDir))
      .forEach(p => deleteTree(p))

    def ensure(s: SparkSession, t: Tracer): Unit =
      if (a.workload == "index_rw") t.span("sources.ensure")(LexIndex.ensure(s, a.data))

    private def op(key: String, k: String): Op = new Op {
      val name = key
      val kind = k
      private val fn = SparkEntry.queries(key)
      def run(s: SparkSession, t: Tracer): () => Check = {
        val df = t.span("api.build")(fn(s, a.data))
        val rows = t.span("api.exec")(df.collect())
        () => {
          val digest = rowsDigest(rows)
          val dump =
            if (seen.add(key)) {
              val p = s"${a.work}/dumps/$key"
              s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
                .coalesce(1).write.mode("overwrite").parquet(p)
              p
            } else ""
          Check(rows.length, "", digest, dump)
        }
      }
    }

    private val all = kinds.map { case (k, kind) => op(k, kind) }.toIndexedSeq
    private val writes = all.filter(_.kind == "write")

    private val reads = all.filter(_.kind == "read")

    /** Each write opens an equal share of the cycle; the reads after it
      * come in seeded order. Fixed write slots keep which operation pays
      * the process's first streaming start-up and fold-base staging, and
      * how warm the code is when each write runs, the same for every
      * seed, so the figures move with the code rather than the seed. */
    def schedule(r: SplittableRandom): Iterator[(Op, Int, Boolean)] =
      cycles(r, r => {
        val rs = shuffle(r, reads)
        val per = (rs.size + writes.size - 1) / math.max(1, writes.size)
        if (writes.isEmpty) rs
        else writes.zip(rs.grouped(per).toSeq).flatMap { case (w, g) => w +: g }.toIndexedSeq
      })
  }

  /** The ORD API against a synthetic corpus (generated from `--corpus-seed`)
    * staged as the program's own fixture parquet; `--seed` draws the
    * requests and their order. Reads are the five `OrdApi` modes, writes
    * are `saveFormatted` of small selections and the distributed exports.
    * Every answer is known from the generator's plan. */
  final class OrdWorkload(a: Args, spark: SparkSession) extends Workload {
    val plan: OrdGen.Plan = OrdGen.plan(a.corpusSeed, a.ordDatasets, a.ordReactions)
    private val entries = plan.entries
    private val byId = entries.map(e => e.id -> e).toMap
    private val rxIds = entries.map(e => OrdGen.reactionIds(plan.seed, e))

    // the corpus is written once into `--corpus-cache` and copied into
    // each run's fresh fixture dir
    locally {
      import spark.implicits._
      val cache = Paths.get(a.corpusCache)
      val names = Seq(OrdFixtures.nestedPath, OrdFixtures.rawPath).map(Paths.get(_).getFileName)
      if (!Files.exists(cache.resolve("DONE"))) {
        val tmp = Paths.get(s"${a.corpusCache}.tmp")
        deleteTree(tmp)
        val seed = plan.seed
        spark.createDataset(entries).repartition(a.cores)
          .map(e => OrdGen.dataset(seed, e))
          .write.parquet(tmp.resolve(names(0)).toString)
        spark.createDataset(entries).repartition(a.cores)
          .flatMap(e => OrdGen.raws(new ObjectMapper(), OrdGen.dataset(seed, e)))
          .write.parquet(tmp.resolve(names(1)).toString)
        Files.createFile(tmp.resolve("DONE"))
        deleteTree(cache)
        Files.move(tmp, cache)
      }
      for (n <- names) copyTree(cache.resolve(n), Paths.get(OrdFixtures.fixtureDir).resolve(n))
    }

    def wipeStaged(): Unit = () // the corpus is the staged fixture
    def ensure(s: SparkSession, t: Tracer): Unit = t.span("ord.ensure")(OrdFixtures.ensure(s))

    /** Expected rows (dataset id, catalog number, 1-based reaction
      * position, reaction id) of a request, in result order. */
    private type Expected = Seq[(String, Int, Int, String)]

    private def scope(corpus: Option[String]): IndexedSeq[(OrdGen.Entry, Int)] =
      entries.filter(e => corpus.forall(_ == e.file)).zipWithIndex.map { case (e, i) => (e, i + 1) }

    private def rowsOf(e: OrdGen.Entry, num: Int, lo: Int, hi: Int): Expected =
      (math.max(lo, 1) to math.min(hi, e.nRx)).map(k => (e.id, num, k, rxIds(e.g)(k - 1)))

    private def readOp(nm: String, call: SparkSession => DataFrame, expected: => Expected): Op =
      new Op {
        val name = nm
        val kind = "read"
        def run(s: SparkSession, t: Tracer): () => Check = {
          val df = t.span("api.build")(call(s))
          val rows = t.span("api.exec")(df.collect())
          () => {
            val got = rows.map(r => Seq(r.getAs[Any]("dataset_id"), r.getAs[Any]("ds_pos"),
              r.getAs[Any]("rx_pos1"), r.getAs[Any]("reaction_id")).mkString(":"))
            val exp = expected.map { case (d, n, k, x) => s"$d:$n:$k:$x" }
            Check(rows.length, s"${exp.size}/${Digest.of(exp.mkString("\n"))}",
              s"${got.length}/${Digest.of(got.mkString("\n"))}")
          }
        }
      }

    private def randomIds(r: SplittableRandom, n: Int): Seq[String] =
      Seq.fill(n)(entries(r.nextInt(entries.size)).id).distinct

    private def nonEmpty(r: SplittableRandom): OrdGen.Entry = {
      var e = entries(r.nextInt(entries.size))
      while (e.nRx == 0) e = entries(r.nextInt(entries.size))
      e
    }

    private def specific(r: SplittableRandom): Op = {
      val ids = randomIds(r, 1 + r.nextInt(5))
      val idSet = ids.toSet
      readOp("specific_datasets", OrdApi.specificDatasets(_, ids),
        scope(None).filter(x => idSet(x._1.id)).flatMap { case (e, n) => rowsOf(e, n, 1, e.nRx) })
    }

    private def uniform(r: SplittableRandom): Op = {
      val corpus = if (r.nextBoolean()) Some(OrdGen.Files(r.nextInt(OrdGen.Files.size))) else None
      val sc = scope(corpus)
      val a0 = r.nextInt(sc.size + 1) // 0 exercises the clamp
      val b0 = a0 + r.nextInt(25)
      val c0 = r.nextInt(4)
      val d0 = c0 + r.nextInt(40)
      readOp("uniform_range", OrdApi.uniformRange(_, a0, b0, c0, d0, corpus),
        sc.filter { case (_, n) => n >= math.max(a0, 1) && n <= b0 }
          .flatMap { case (e, n) => rowsOf(e, n, c0, d0) })
    }

    private def custom(r: SplittableRandom): Op = {
      val ranges = randomIds(r, 1 + r.nextInt(5)).map { id =>
        val lo = r.nextInt(4); id -> (lo, lo + r.nextInt(30)) }.toMap
      readOp("custom_ranges", OrdApi.customRanges(_, ranges),
        scope(None).filter(x => ranges.contains(x._1.id)).flatMap { case (e, n) =>
          val (lo, hi) = ranges(e.id); rowsOf(e, n, lo, hi) })
    }

    private def single(r: SplittableRandom): Op = {
      val e = nonEmpty(r)
      // one request in ten asks past the dataset's end (an empty answer)
      val k = if (r.nextInt(10) == 0) e.nRx + 1 else 1 + r.nextInt(e.nRx)
      readOp("single_target", OrdApi.singleTarget(_, e.id, k),
        scope(None).filter(_._1.id == e.id).flatMap { case (x, n) => rowsOf(x, n, k, k) })
    }

    private def all: Op = readOp("all_reactions", OrdApi.allReactions(_),
      scope(None).flatMap { case (e, n) => rowsOf(e, n, 1, e.nRx) })

    private var saves = 0
    private def save(r: SplittableRandom): Op = {
      val ids = randomIds(r, 1 + r.nextInt(4))
      new Op {
        val name = "save_formatted"
        val kind = "write"
        def run(s: SparkSession, t: Tracer): () => Check = {
          saves += 1
          val path = s"${a.work}/saves/$saves.json"
          Files.createDirectories(Paths.get(path).getParent)
          t.span("api.save")(OrdApi.saveFormatted(s, path, None, ids))
          () => {
            val got = OrdGen.jsonDigest(mapper.readTree(Paths.get(path).toFile))
            val expected = ids.map(byId).sortBy(e => (e.file, e.pos))
              .map(e => OrdGen.dataset(plan.seed, e))
            Files.delete(Paths.get(path))
            Check(ids.size, OrdGen.jsonDigest(OrdFixtures.renderFile(mapper, expected)), got)
          }
        }
      }
    }

    private val exports: Seq[(String, (SparkSession, String) => DataFrame, Long)] = Seq(
      ("export_s6_sink", OrdPipeline.ordS6Sink, entries.size.toLong),
      ("export_s6b_raw_sink", OrdPipeline.ordS6bRawSink, entries.size.toLong),
      ("export_a4_renest", OrdPipeline.ordA4Renest, entries.count(_.nRx > 0).toLong))

    private def export(nm: String, fn: (SparkSession, String) => DataFrame, expect: Long): Op =
      new Op {
        val name = nm
        val kind = "write"
        def run(s: SparkSession, t: Tracer): () => Check = {
          val path = s"${a.work}/exports/$nm"
          val df = t.span("api.build")(fn(s, a.data))
          t.span("api.exec")(df.write.mode("overwrite").parquet(path))
          () => {
            val n = s.read.parquet(path).count()
            deleteTree(Paths.get(path))
            Check(n, expect.toString, n.toString)
          }
        }
      }

    /** One cycle: 11 reads over the five modes, 6 saves and the three
      * exports, in a fixed interleaving with freshly drawn parameters.
      * Code generation and JIT keep warming through the first cycles, so
      * a fixed order keeps each operation's warmth the same for every
      * seed; the seed draws what each request asks for. */
    private def mix(r: SplittableRandom): IndexedSeq[Op] = {
      val ex = exports.map { case (n, f, e) => export(n, f, e) }
      IndexedSeq(all, specific(r), save(r), uniform(r), single(r), ex(0),
        custom(r), save(r), uniform(r), single(r), save(r), ex(1),
        specific(r), custom(r), save(r), uniform(r), single(r), ex(2), save(r), save(r))
    }

    /** The first request of a process pays JVM, Spark and code-generation
      * start-up (about 10 s here) that a serving process pays once. */
    override def warmup(r: SplittableRandom): Seq[Op] = Seq(uniform(r))

    def schedule(r: SplittableRandom): Iterator[(Op, Int, Boolean)] = cycles(r, mix)
  }
}
