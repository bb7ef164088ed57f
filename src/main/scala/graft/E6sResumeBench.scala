package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

import graft.streaming.DocStreams

/** Restart-resume cost measurement for the e6s streaming similarity
  * ingest (r6 verdict ask #8): the stop/restart SPEC proves no
  * collision is lost or duplicated; this main measures what a restart
  * COSTS at scale — does a resumed drain redo already-probed work, or
  * only pay for the batches that had not landed when the stream
  * stopped?
  *
  * Protocol (same-session A/B, the only comparison this host supports):
  *
  *  1. COLD: drain all `nBuckets` micro-batches in one run, timed.
  *  2. PHASED: fresh work dir; the first half of the buckets lands,
  *     drains, and the query STOPS (checkpoint + index + match dirs
  *     survive); the rest lands and a second drain RESUMES from the
  *     same checkpoint, timed separately.
  *
  * If resume were re-probing the full corpus, resume ≈ cold. The
  * incremental design — matches persist per `batch=<id>` directory,
  * the checkpoint skips already-committed files, each new batch probes
  * the on-disk index of strictly-prior batches — predicts
  * phaseA + resume ≈ cold + one stream-startup overhead, with resume
  * carrying only the LATE batches' probe work (each against a fuller
  * index, so resume > phaseA is expected and correct).
  *
  * Prints one JSON line:
  * `{"cold_s":…,"phase_a_s":…,"resume_s":…,"pairs_cold":…,
  *   "pairs_phased":…,"pairs_batch_e6":…,"buckets":…}`
  * — the pair counts re-assert drain/batch parity at this scale (the
  * distinct (d1,d2) set of both drains must equal batch e6's).
  */
object E6sResumeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx1")
    val nBuckets = if (args.length > 1) args(1).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stage once, then reuse the bucket files directly for the
    // phased-arrival landing dirs
    val staged = DocStreams.bucketedLanding(spark, sfDir, nBuckets)
    import scala.jdk.CollectionConverters._
    val parts = scala.util.Using.resource(Files.list(staged)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toArray.sortBy(_.getFileName.toString)
    }
    require(parts.length == nBuckets, s"expected $nBuckets staged buckets")

    val base = Files.createTempDirectory("graft-e6s-resume")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def drain(landing: java.nio.file.Path, work: java.nio.file.Path): Double =
      timed(DocStreams.e6sIncrementalDrain(spark,
        spark.readStream.schema(DocStreams.docsSchema)
          .option("maxFilesPerTrigger", 1).parquet(landing.toString),
        work))
    def land(dir: java.nio.file.Path, ps: Seq[java.nio.file.Path]): Unit =
      ps.foreach(p => Files.copy(p, dir.resolve(p.getFileName)))

    // 0. WARM-UP drain (discarded): the first drain in a JVM pays
    // codegen/JIT/reader-cache costs that would otherwise load the
    // cold number only — all three reported numbers run warm
    val warmLanding = Files.createDirectories(base.resolve("warm-landing"))
    land(warmLanding, parts.toSeq)
    drain(warmLanding, base.resolve("warm-work"))

    // 1. COLD: everything already landed, one drain
    val coldLanding = Files.createDirectories(base.resolve("cold-landing"))
    val coldWork = base.resolve("cold-work")
    land(coldLanding, parts.toSeq)
    val coldS = drain(coldLanding, coldWork)

    // 2. PHASED: half lands, drain, STOP; rest lands, drain RESUMES
    val phLanding = Files.createDirectories(base.resolve("phased-landing"))
    val phWork = base.resolve("phased-work")
    val half = nBuckets / 2
    land(phLanding, parts.take(half).toSeq)
    val phaseAS = drain(phLanding, phWork)
    land(phLanding, parts.drop(half).toSeq)
    val resumeS = drain(phLanding, phWork)

    def pairCount(work: java.nio.file.Path): Long =
      DocStreams.drainedMatches(spark, work)
        .select("d1", "d2").distinct().count()
    val pairsCold = pairCount(coldWork)
    val pairsPhased = pairCount(phWork)
    val pairsBatch = graft.ops.SimOps.e6MinhashLsh(spark, sfDir).count()

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"cold_s":${fmt(coldS)},"phase_a_s":${fmt(phaseAS)},""" +
      s""""resume_s":${fmt(resumeS)},"pairs_cold":$pairsCold,""" +
      s""""pairs_phased":$pairsPhased,"pairs_batch_e6":$pairsBatch,""" +
      s""""buckets":$nBuckets,"sf":"$sfDir"}""")
    DocStreams.deleteTree(base)
    spark.stop()
  }
}
