package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge

/** TOP-K PER KEY as a first-class Catalyst operator — the whole-operator
  * extension path (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`)
  * from SURVEY §7.4, for semantics the built-ins only approximate:
  *
  * The declarative form, `row_number().over(partitionBy(key).orderBy(o))
  * .filter(rn <= k)`, SHUFFLES EVERY INPUT ROW and then sorts each key's
  * whole group — at 100 TB that is the entire table through the wire for
  * a result of k rows per key. Spark's own `TakeOrderedAndProject` fixes
  * this for the global-top-k case with per-partition partial heaps; this
  * operator is its per-key generalization:
  *
  *  - `partial = true` exec (map side, no distribution requirement):
  *    bounded heap of k rows per key per input partition — at most
  *    `partitions × keys × k` rows ever reach the exchange;
  *  - `partial = false` exec (`ClusteredDistribution` on the key, so
  *    EnsureRequirements inserts the shuffle): merges the partial
  *    winners into the exact per-key top-k.
  *
  * Exactness requires the ordering to be TOTAL per key (pass tie-break
  * columns), same as deterministic row_number. Memory is O(keys·k) per
  * task — the reason a heap, not a sort, runs on the map side.
  *
  * PATHOLOGICAL KEY CARDINALITY: when nearly every row is its own key,
  * a map-side heap map would hold the whole partition. The partial exec
  * therefore carries a FLUSH VALVE ([[TopKPerKeyExec.flushHeldRows]]):
  * once the held-row count crosses the threshold it emits everything
  * accumulated so far and starts a fresh map. Any partial output that
  * is a SUPERSET of the per-partition winners is correct (the final
  * exec recomputes the exact top-k), so flushing trades reduction for
  * bounded memory — the same deal hash aggregation makes when it spills
  * partial results. The FINAL exec is SORT-BASED and streaming: it
  * requires its child ordered by (keys, order), so EnsureRequirements
  * plants a SortExec after the exchange — Spark's external sorter,
  * which SPILLS — and the exec itself just walks each key's contiguous,
  * best-first run emitting the first k rows: O(1) state, no heap map,
  * no OOM at any key cardinality (the r4 final exec held every key's
  * heap for its partition — hash-aggregate's working-set assumption but
  * without hash-aggregate's spill path). Under normal cardinality the
  * sorted input is the already-reduced partial output (≤ partitions ×
  * keys × k rows), so the sort is over the small side, not the table.
  * Key-run boundaries are detected with the key ORDERING, not byte
  * equality, so sort-equal keys that differ in bytes (-0.0 vs 0.0)
  * cannot split a group.
  *
  * WHY NO CODEGEN (`CodegenSupport`): the operator is a PIPELINE
  * BREAKER like sort and hash-agg — it must consume its whole input
  * before emitting, so fusing it into a parent's produce/consume loop
  * buys nothing. Its per-row work is one UnsafeProjection (already
  * code-generated), one generated-ordering comparison, and a heap
  * insert; none of that is interpreted expression evaluation. The
  * stages above and below still whole-stage-compile — the plan shows
  * WholeStageCodegen spans ending at the exec boundary, exactly as they
  * do at Spark's own SortExec.
  */
case class TopKPerKeyNode(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    child: LogicalPlan,
    flushHeldRows: Int = TopKPerKeyExec.DefaultFlushHeldRows)
  extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  require(partitionExprs.nonEmpty, "TopKPerKey needs >=1 key column " +
    "(global top-k is Spark's built-in TakeOrderedAndProject)")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyNode =
    copy(child = c)
}

case class TopKPerKeyExec(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    partial: Boolean,
    child: SparkPlan,
    flushHeldRows: Int = TopKPerKeyExec.DefaultFlushHeldRows)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(partitionExprs) :: Nil

  // the final exec consumes key-contiguous best-first runs; the sort
  // this demands is planted by EnsureRequirements as a spill-safe
  // SortExec over the (already partial-reduced) exchange output
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(partitionExprs.map(SortOrder(_, Ascending)) ++ orderExprs)

  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else child.outputOrdering

  // both phases only drop rows inside their partition, so the child's
  // partitioning holds for the output: a per-key consumer above the
  // final exec (a rank window on the same key) reuses its exchange
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numFlushes" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "partial heap-map flushes"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numFlushes = longMetric("numFlushes")
    val kLocal = k
    val partLocal = partitionExprs
    val orderLocal = orderExprs
    val childOutput = child.output
    if (!partial) {
      // SORT-BASED FINAL: the child is (key, order)-sorted, so each
      // key's rows arrive contiguously and best-first — emit the first
      // k of each run. O(1) state; the upstream SortExec owns spilling.
      return child.execute().mapPartitions { iter =>
        val keyOrd = RowOrdering.create(
          partLocal.map(SortOrder(_, Ascending)), childOutput)
        new Iterator[InternalRow] {
          private var prevKeyRow: InternalRow = null
          private var emitted = 0
          private var pending: InternalRow = null
          private def advance(): Unit = {
            while (pending == null && iter.hasNext) {
              val row = iter.next()
              if (prevKeyRow == null || keyOrd.compare(prevKeyRow, row) != 0) {
                prevKeyRow = row.copy()
                emitted = 0
              }
              if (emitted < kLocal) { emitted += 1; pending = row }
            }
          }
          override def hasNext: Boolean = { advance(); pending != null }
          override def next(): InternalRow = {
            advance()
            val r = pending; pending = null; numOutputRows += 1; r
          }
        }
      }
    }
    val maxHeld = flushHeldRows
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(partLocal, childOutput)
      val ord = RowOrdering.create(orderLocal, childOutput)
      // heap head = the WORST kept row under the requested sort order
      // (PriorityQueue dequeues the maximum of its Ordering)
      val heapOrd: Ordering[InternalRow] = ord
      val heaps = scala.collection.mutable.LinkedHashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      new Iterator[InternalRow] {
        private var held = 0
        private var drain: Iterator[InternalRow] = Iterator.empty

        // emit each key's winners best-first (dequeueAll is worst-first)
        private def flushAll(): Iterator[InternalRow] = {
          val out = heaps.values.toArray.iterator
            .flatMap(_.dequeueAll.reverseIterator)
          heaps.clear()
          held = 0
          out
        }

        private def pump(): Unit = {
          while (!drain.hasNext && iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            val heap = heaps.getOrElse(key, null) match {
              case null =>
                val h = scala.collection.mutable.PriorityQueue
                  .empty[InternalRow](heapOrd)
                heaps.put(key.copy(), h)
                h
              case h => h
            }
            if (heap.size < kLocal) { heap.enqueue(row.copy()); held += 1 }
            else if (ord.compare(row, heap.head) < 0) {
              heap.dequeue()
              heap.enqueue(row.copy())
            }
            if (held >= maxHeld) { numFlushes += 1; drain = flushAll() }
          }
          if (!drain.hasNext && !iter.hasNext && heaps.nonEmpty)
            drain = flushAll()
        }

        override def hasNext: Boolean = { pump(); drain.hasNext }
        override def next(): InternalRow = {
          pump(); numOutputRows += 1; drain.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

object TopKPerKeyExec {
  /** Map-side held-row cap before a flush — ~4M rows of heap state per
    * task; at 8-byte keys plus row payloads this stays comfortably
    * inside a task's execution-memory share while making the flush path
    * unreachable for normal key cardinalities. */
  val DefaultFlushHeldRows: Int = 1 << 22
}

/** Planner rule: logical TopKPerKeyNode → partial + shuffle + final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, part, ord, child, flush) =>
      TopKPerKeyExec(k, part, ord, partial = false,
        TopKPerKeyExec(k, part, ord, partial = true, planLater(child), flush)) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** Exact top-k rows per key. `orderBy` is (column, ascending) — make
    * it total per key (add tie-breaks) for deterministic output.
    * Registers the planner strategy on the session idempotently, so it
    * works on any session (the `GraftExtensions` config hook also
    * injects it for `spark.sql.extensions` users). */
  def topKPerKey(
      df: DataFrame, k: Int,
      keys: Seq[String], orderBy: Seq[(String, Boolean)],
      flushHeldRows: Int = TopKPerKeyExec.DefaultFlushHeldRows): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val analyzed = Bridge.analyzed(df)
    def attr(n: String): Attribute =
      analyzed.output.find(a => spark.sessionState.conf.resolver(a.name, n))
        .getOrElse(throw new IllegalArgumentException(
          s"topKPerKey: no column '$n' in ${analyzed.output.map(_.name).mkString(", ")}"))
    val ord = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    Bridge.ofRows(spark,
      TopKPerKeyNode(k, keys.map(attr), ord, analyzed, flushHeldRows))
  }
}
