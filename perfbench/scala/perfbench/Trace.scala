package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Spans around every call the benchmark makes into a layer. Spans live in
  * memory and are written out when the run ends. With tracing off every
  * call is a plain pass-through. Times are epoch milliseconds (the clock
  * Spark's own events carry) with nanosecond-resolved durations. */
final class Tracer(val on: Boolean) {
  private val nf = JsonNodeFactory.instance
  private val spans = nf.arrayNode()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  val selfNs = new AtomicLong(0L)

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def setOp(i: Int): Unit = op = i

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val enter = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs
      selfNs.addAndGet(System.nanoTime() - enter)
      try body
      finally {
        val exit = System.nanoTime()
        val t1 = nowMs
        stack = stack.tail
        spans.addObject().put("id", id).put("parent", parent).put("name", name)
          .put("op", op).put("t0", t0).put("t1", t1)
        selfNs.addAndGet(System.nanoTime() - exit)
      }
    }

  def json: ArrayNode = spans
}

/** Spark's own counters, recorded through listeners the benchmark
  * registers (no change to the program): job intervals and their
  * stage/task counts, per-stage task metrics summed over the stage's
  * tasks, Catalyst phase times from each query execution's tracker, and
  * streaming micro-batch progress. Records are raw and time-stamped;
  * attribution to operations happens after the run. */
final class SparkRecorder {
  private val nf = JsonNodeFactory.instance
  private val jobs = new ConcurrentLinkedQueue[ObjectNode]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val stageTimes = new ConcurrentLinkedQueue[ObjectNode]()
  private val queries = new ConcurrentLinkedQueue[ObjectNode]()
  private val batches = new ConcurrentLinkedQueue[ObjectNode]()
  val callbackNs = new AtomicLong(0L)

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t)
  }

  // executor run ms, cpu ns, gc ms, shuffle read, shuffle write, memory
  // spill, disk spill, input bytes, output bytes
  private val NMetrics = 9

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.add(nf.objectNode().put("id", e.jobId).put("start", e.time)
        .put("stages", e.stageInfos.size).put("tasks", e.stageInfos.map(_.numTasks).sum))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobEnds.put(e.jobId, e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new Array[Long](NMetrics))
        a.synchronized {
          a(0) += m.executorRunTime; a(1) += m.executorCpuTime; a(2) += m.jvmGCTime
          a(3) += m.shuffleReadMetrics.totalBytesRead
          a(4) += m.shuffleWriteMetrics.bytesWritten
          a(5) += m.memoryBytesSpilled; a(6) += m.diskBytesSpilled
          a(7) += m.inputMetrics.bytesRead; a(8) += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      stageTimes.add(nf.objectNode().put("id", i.stageId).put("attempt", i.attemptNumber())
        .put("start", i.submissionTime.getOrElse(-1L))
        .put("end", i.completionTime.getOrElse(-1L)).put("tasks", i.numTasks))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(record(qe, ok = true))
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      timed(record(qe, ok = false))
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      val n = nf.objectNode().put("ok", ok)
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(-1L)
      n.put("start", start)
      Seq("analysis", "optimization", "planning").foreach { p =>
        n.put(p, phases.get(p).map(_.durationMs).getOrElse(0L))
      }
      queries.add(n)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      batches.add(nf.objectNode()
        .put("start", java.time.Instant.parse(p.timestamp).toEpochMilli)
        .put("busy", p.batchDuration).put("rows", p.numInputRows)
        .put("name", Option(p.name).getOrElse("")))
    }
  }

  def register(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }

  def json: ObjectNode = {
    val out = nf.objectNode()
    val js = out.putArray("jobs")
    jobs.asScala.foreach { j =>
      js.add(j.deepCopy().put("end", jobEnds.getOrDefault(j.get("id").asInt, -1L)))
    }
    val st = out.putArray("stages")
    stageTimes.asScala.foreach { t =>
      val a = Option(stages.get(t.get("id").asInt)).getOrElse(new Array[Long](NMetrics))
      st.add(t.deepCopy()
        .put("run_ms", a(0)).put("cpu_ns", a(1)).put("gc_ms", a(2))
        .put("shuffle_read", a(3)).put("shuffle_write", a(4))
        .put("spill_mem", a(5)).put("spill_disk", a(6))
        .put("input", a(7)).put("output", a(8)))
    }
    val qs = out.putArray("queries"); queries.asScala.foreach(qs.add)
    val bs = out.putArray("batches"); batches.asScala.foreach(bs.add)
    out
  }
}
