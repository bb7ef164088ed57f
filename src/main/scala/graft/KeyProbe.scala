package graft

import org.apache.spark.scheduler._

/** Per-key job profiler (r16 optimization round, guide §1): runs the
  * named declared keys once each on a fresh local session and prints,
  * per key, every Spark job with its wall time, stage/task counts and
  * description — the measurement the local-mode bench can't show
  * without a UI. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... \
  *     sbt "runMain graft.KeyProbe e35u_lex_upsert e16_dedup_clusters"
  *
  * Diagnostic only — never part of the bench/verify contract. */
object KeyProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: KeyProbe <queryName> [more...]")
    val sfDir = Bench.sfDir
    val spark = GraftSession.local(GraftSession.cores())
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      spark.sparkContext.setCheckpointDir("/dev/shm/graft-keyprobe-ckpt")

    case class JobRec(id: Int, desc: String, start: Long,
        var end: Long = -1L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val r = JobRec(e.jobId, desc, e.time)
        r.stages = e.stageInfos.size
        r.tasks = e.stageInfos.map(_.numTasks).sum
        jobs.put(e.jobId, r); order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- args) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      // the bench's cache hygiene so numbers are comparable
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      jobs.clear(); order.clear()
      graft.streaming.StreamBusy.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain the last job-end events
      println(f"\n=== $name wall=$wall%.3f s busy=${graft.streaming.StreamBusy.busySecs}%.3f " +
        s"triggers=${graft.streaming.StreamBusy.batchCount} jobs=${jobs.size()} ===")
      import scala.jdk.CollectionConverters._
      val recs = order.asScala.toSeq.distinct.flatMap(id => Option(jobs.get(id)))
      var prevEnd = -1L
      for (r <- recs) {
        val secs = if (r.end < 0) -1.0 else (r.end - r.start) / 1e3
        val gap = if (prevEnd < 0) 0.0 else (r.start - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, r.end)
        println(f"job ${r.id}%4d ${secs}%8.3f s gap=${gap}%6.3f stages=${r.stages}%2d " +
          f"tasks=${r.tasks}%4d  ${r.desc.take(100)}")
      }
      // top-line summary by description prefix
      val byDesc = recs.groupBy(_.desc.split(":").headOption.getOrElse(""))
        .map { case (k, rs) =>
          (k, rs.size, rs.map(r => if (r.end < 0) 0.0 else (r.end - r.start) / 1e3).sum)
        }.toSeq.sortBy(-_._3)
      println("--- by description prefix ---")
      byDesc.foreach { case (k, n, t) =>
        println(f"  $t%8.3f s  n=$n%3d  ${k.take(80)}") }
    }
    spark.stop()
  }
}
