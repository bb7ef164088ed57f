package graft

import org.apache.spark.sql.SparkSession

/** User-facing session factory: a SparkSession configured the way the
  * engine expects — UTC semantics, the graft SQL extensions
  * (`graft_cosine`), AQE on, shuffle parallelism sized to the machine.
  * A user of the reference pipeline switches to this library with:
  *
  * {{{
  * val spark = GraftSession.local()
  * val byDataset = graft.ord.OrdPipeline.ordA4Renest(spark, dir)
  * val topk = graft.ops.SimOps.e2CosineTopk(spark, dir)
  * }}}
  *
  * On a cluster, use `GraftSession.configure(builder)` with your own
  * master/deploy settings — only engine-relevant confs are applied.
  *
  * Every session the project's own mains and specs open comes from here
  * (`local`, or `builder` where a main sets its own master), so they all
  * run under the one engine configuration `configure` defines. */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // GC'd checkpointed RDDs (e16's final per-query state) release
      // their files; intermediate loop state is deleted eagerly in-op
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // e2pq's refine fetch pushes a ~512-id In-list into the parquet
      // reader — see graft.sources.IvfServe.InFilterThresholdPin
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        graft.sources.IvfServe.InFilterThresholdPin.toString)

  /** A fresh builder with [[configure]] applied, for callers that set
    * their own master and partitioning. */
  def builder(): SparkSession.Builder = configure(SparkSession.builder())

  /** Local core count for a main: `SPARK_GRAFT_CPUS` when it is a
    * positive integer, else `default`. */
  def cores(default: Int = Runtime.getRuntime.availableProcessors()): Int =
    sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1)
      .getOrElse(default)

  def local(
      cores: Int = Runtime.getRuntime.availableProcessors(),
      ui: Boolean = false): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", ui.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
