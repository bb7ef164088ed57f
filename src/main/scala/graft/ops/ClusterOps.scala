package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Dedup endgame + event-funnel analytics. */
object ClusterOps {

  /** Default iteration cap for e16's label propagation — far above any
    * real near-dup cluster diameter; the convergence guard throws loudly
    * if it is ever hit. The `maxIters` parameter of
    * [[componentsWithStats]] lowers it to exercise the failure path
    * (checkpoint cleanup on a non-converged run). */
  val MaxCcIters: Int = 100

  /** Reliable checkpoint location for iterative queries. `checkpoint()`
    * (vs `localCheckpoint()`) writes blocks to this directory — an
    * HDFS-compatible path at cluster scale — so an executor loss
    * mid-loop recovers from persisted files instead of killing the query
    * (localCheckpoint stores blocks on executors AND truncates lineage,
    * making the loss unrecoverable). Override via GRAFT_CHECKPOINT_DIR. */
  def ensureCheckpointDir(s: SparkSession): String = synchronized {
    s.sparkContext.getCheckpointDir.getOrElse {
      val dir = explicitCheckpointDir.getOrElse(
        graft.util.PathKeys.fixtureRoot + "/checkpoints")
      s.sparkContext.setCheckpointDir(dir)
      s.sparkContext.getCheckpointDir.get
    }
  }

  /** The checkpoint location a deployment set explicitly, if any. */
  def explicitCheckpointDir: Option[String] = sys.env.get("GRAFT_CHECKPOINT_DIR")

  /** Checkpoint files backing a checkpointed DataFrame (empty when the
    * plan isn't a checkpoint scan — cleanup is strictly best-effort). */
  private def checkpointFiles(df: DataFrame): Seq[String] =
    scala.util.Try {
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.getCheckpointFile.toSeq
        }.flatten
    }.getOrElse(Seq.empty)

  private def deleteFiles(s: SparkSession, files: Seq[String]): Unit =
    files.foreach { f =>
      scala.util.Try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }

  /** E16: duplicate clusters — connected components over the near-dup
    * pair graph (exact-hash pairs ∪ n-gram-Jaccard pairs), labeling each
    * clustered document with its component's minimum doc_id (the
    * canonical keeper). This is the step that turns pairwise similarity
    * into actual dedup decisions.
    *
    * Algorithm: FRONTIER-based min-label propagation WITH PATH HALVING —
    * Pregel-style connected components where each round (1) only nodes
    * whose label changed last round send messages, and (2) every node
    * additionally jumps to its label's own label (`lbl ← lbl(lbl)`, the
    * pointer-halving step of union-find). Halving makes the round count
    * ~log(diameter) instead of diameter (measured 8 → 4 rounds on the
    * sf0.1 graph; a diameter-9 chain converges in ≤5 rounds,
    * DedupClusterSpec). Each round is ONE driver-side action: the
    * convergence count rides the round's action as an `observe` metric,
    * so there is no separate count job per round (the r3 loop paid
    * checkpoint + count). Iterations are hard-capped at [[MaxCcIters]]
    * with a loud failure. At 100 TB the same loop runs unchanged —
    * state is two (node, label) columns, each step shuffles by node id,
    * and state is RELIABLY checkpointed on a SCALE-ADAPTIVE cadence
    * (see the cadence derivation in [[componentsWithStats]]: every
    * round at loop width 1 where a KB-sized snapshot is free and keeps
    * each round's plan leaf-rooted, every 3rd round on wide graphs
    * where the per-round durable write was the dominant decade-2 cost;
    * rounds in between persist to cache rooted at the last snapshot, so
    * executor loss mid-loop replays at most two cached rounds). */
  def e16DedupClusters(s: SparkSession, d: String): DataFrame =
    e16WithStats(s, d)._1

  /** e16 plus the number of propagation rounds it took to converge and
    * the number of DURABLE label snapshots written — the loop runs
    * eagerly (each round materializes cache or checkpoint), so both are
    * known by the time the labeled DataFrame is returned. Exposed for
    * DedupClusterSpec's round-count and write-cadence assertions;
    * `maxIters`/`ckptEvery` pass through to [[componentsWithStats]]. */
  private[graft] def e16WithStats(s: SparkSession, d: String,
      maxIters: Int = MaxCcIters,
      ckptEvery: Option[Int] = None): (DataFrame, Int, Int) = {
    // exact-duplicate pairs: same normalized content hash (the one
    // definition shared with e1TextDedup), as a posting-list aggregation
    // + partition-local double-explode — one scan of documents, no
    // self-join (the same inverted-index shape as e8's pair generation)
    val exactPairs = SimOps.listPairs(
      documents(s, d)
        .select(col("doc_id"), sha2(TextOps.norm(col("text")), 256).as("ch"))
        .groupBy("ch").agg(collect_list(col("doc_id")).as("ds"))
        .where(size(col("ds")) > 1), "ds")
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"))
    val (nearPairsFull, e8Caches) = SimOps.e8NgramJaccardWithCaches(s, d)
    val nearPairs = nearPairsFull.select("d1", "d2")
    val undirected = exactPairs.unionByName(nearPairs).distinct()
    val (labeled, iter, snapshots) =
      componentsWithStats(s, undirected, e8Caches, maxIters, ckptEvery)
    (labeled.orderBy("doc_id"), iter, snapshots)
  }

  /** Connected components over an undirected pair set (d1, d2) — the
    * frontier/path-halving loop extracted from e16 so the end-to-end
    * dedup pipeline (e19) can run it over e6's verified candidates.
    * Returns (unsorted (doc_id, cluster_id, cluster_size) for every
    * node that appears in a pair, rounds to converge, durable label
    * snapshots written). `relCaches` are the caller's persisted
    * sub-relations backing `undirected`; they are released as soon as
    * the edge set is durably checkpointed. `maxIters` caps the rounds;
    * `ckptEvery` pins the durable-snapshot cadence (None derives it
    * from the graph's loop width, see below). Both are checked before
    * any job runs. */
  private[graft] def componentsWithStats(
      s: SparkSession, undirected: DataFrame,
      relCaches: Seq[DataFrame],
      maxIters: Int = MaxCcIters,
      ckptEvery: Option[Int] = None): (DataFrame, Int, Int) = {
    require(maxIters >= 1 && ckptEvery.forall(_ >= 1),
      s"componentsWithStats: maxIters ($maxIters) and ckptEvery " +
        s"(${ckptEvery.getOrElse("derived")}) must be >= 1")
    ensureCheckpointDir(s)
    // The edge set is probed by every iteration: reliable checkpoint —
    // durable files AND a truncated logical plan, so each round's analysis
    // sees a leaf scan instead of re-optimizing the embedded e8 pipeline
    // (measured 8 s -> 13 s when this was a persist with intact lineage).
    // Both directions come from ONE explode (a two-branch union would
    // execute the whole pair pipeline twice), and the relation is
    // persisted across the checkpoint so the checkpoint's internal write
    // job re-reads the cache instead of re-running the plan. The edge
    // count rides the checkpoint action as an observe metric and sizes
    // the loop's shuffle width below.
    val obsE = new org.apache.spark.sql.Observation(
      s"e16_edges_${System.nanoTime()}")
    val edgesCache = undirected
      .select(explode(array(
        struct(col("d1").as("a"), col("d2").as("b")),
        struct(col("d2").as("a"), col("d1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = edgesCache
      .observe(obsE, count(lit(1)).as("changed"))
      .checkpoint() // eager — caches are releasable once this is on disk
    relCaches.foreach(_.unpersist(blocking = false))
    edgesCache.unpersist(blocking = false)
    val nEdges = obsChanged(obsE)

    // The LOOP's shuffle width is sized to the GRAPH, not the corpus: the
    // pair graph is orders of magnitude smaller than the document table
    // (~10³ nodes here vs 10⁵ rows; the same ratio holds at 100 TB), so
    // corpus-sized shuffle widths would give every tiny round 32+ tasks
    // of scheduling overhead. One partition per ~100k edges, capped at
    // the session's configured width. AQE is disabled INSIDE the loop
    // only: its per-stage replanning adds latency to each of the ~7
    // rounds and its coalescing decision is exactly what the explicit
    // width already encodes. Both confs are restored in the finally.
    // KNOWN SCOPE: these are session-global for the loop's duration —
    // fine under the driver contract (Verify/Bench run declared queries
    // sequentially on one session; DedupClusterSpec asserts restoration)
    // but a host running concurrent queries on the same session should
    // isolate e16 on its own session (newSession()) instead.
    val conf = s.conf
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    var iter = 0
    var changed = 0L
    var labels: DataFrame = null
    val loopParts =
      math.max(1L, math.min(prevParts.toLong, nEdges / 100000L)).toInt
    var edgesLoop: DataFrame = null
    var converged = false
    // Durable-checkpoint CADENCE, scale-adaptive (r16; r5→r6 measured
    // the large-graph side, r16 measured the small-graph side):
    //
    //  - LARGE graphs (loopParts > 1): writing every round's full label
    //    set to checkpoint files was the dominant decade-2 cost (e16
    //    sf10a 39.8 s, worst scaler in the suite — the writes grow with
    //    the graph), so rounds between checkpoints persist to
    //    memory/disk cache and executor loss replays at most
    //    CkptEveryWide-1 cached rounds from the last durable snapshot.
    //  - SMALL graphs (loopParts == 1, i.e. < ~100k edges): the r16
    //    profile showed the cached rounds do NOT chain through the
    //    cache — each cache round's registered plan INLINES the prior
    //    round's physical plan ~3× (CacheManager substitution misses the
    //    nested round subtree; cachedPlan node counts 29 → 85 → 259
    //    across one cadence window), so per-round cost DOUBLES with
    //    depth since the last snapshot (measured act seconds 0.15 /
    //    0.32 / 0.97) while a reliable checkpoint of the KB-sized label
    //    set costs ~0.04 s and keeps every round leaf-rooted. Cadence 1
    //    measured the e16 loop 2.7 → 1.7 s at sf0.1 with flat ~0.15 s
    //    rounds.
    //
    // The convergence count keeps riding the round's single action
    // either way (checkpoint, or a noop-sink write that materializes
    // the cache). The `ckptEvery` parameter pins the cadence instead
    // (the cadence spec's wide-regime check).
    val CkptEveryWide = 3
    val cadence = ckptEvery.getOrElse(if (loopParts == 1) 1 else CkptEveryWide)
    var heldCaches: List[DataFrame] = Nil // persisted rounds since last snapshot
    var lastCkpt: Seq[String] = Seq.empty // current durable snapshot's files
    var snapshots = 0 // durable label writes (the cadence the spec pins)
    try {
      conf.set("spark.sql.shuffle.partitions", loopParts.toString)
      conf.set("spark.sql.adaptive.enabled", "false")
      // The checkpointed edge files keep the WIDE partitioning they were
      // written with (corpus-sized, 32 here) — probing them directly
      // would give every round's join 32 tasks of scheduling overhead.
      // One graph-sized repartition by the join key, persisted: rounds
      // read the cache; an executor loss recomputes it from the durable
      // checkpoint files.
      edgesLoop = edges.repartition(loopParts, col("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // round 0: every node is in the frontier (all labels "changed" at
      // init); the vertex count rides the init checkpoint as an observe
      // metric instead of a separate count job
      val obs0 = new org.apache.spark.sql.Observation(
        s"e16_init_${System.nanoTime()}")
      labels = edgesLoop.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node"))
        .observe(obs0, count(lit(1)).as("changed")).checkpoint()
      snapshots += 1
      lastCkpt = checkpointFiles(labels)
      var frontier = labels
      changed = obsChanged(obs0)
    // Round state: every `cadence`-th round goes through a RELIABLE
    // checkpoint (durable files — executor loss recovers, the reason
    // localCheckpoint was dropped — and a truncated logical plan);
    // rounds in between persist to memory/disk cache, materialized by a
    // noop-sink write, their lineage rooted at the last snapshot. The
    // changed-label count is an `observe` metric on the round's SINGLE
    // action either way (Dataset.checkpoint and DataFrame.write both run
    // under withAction, so the CollectMetrics listener fires — verified
    // by DedupClusterSpec's job-count assertion): one driver-side action
    // per round, no separate convergence job. The ==0 convergence test
    // is robust even if the checkpoint's internal write re-runs the
    // plan and double-counts the accumulator (0 doubles to 0).
      while (changed > 0 && iter < maxIters) {
        val msgs = edgesLoop
          .join(frontier, edgesLoop("b") === frontier("node"))
          .groupBy(col("a")).agg(min(col("lbl")).as("nbl"))
        val prop = labels.join(msgs, labels("node") === msgs("a"), "left")
          .select(col("node"), col("lbl").as("old"),
            least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("lbl1"))
        // PATH HALVING: every label value is itself a node id of the same
        // component, so jumping to the label's current label (`lbl(lbl)`)
        // is a monotone shortcut that cuts convergence from O(diameter)
        // to ~O(log diameter) rounds — one extra equi-join per round
        // against the (tiny, cached-or-checkpointed) label map.
        val jump = labels.select(col("node").as("jn"), col("lbl").as("jl"))
        val obs = new org.apache.spark.sql.Observation(
          s"e16_round${iter}_${System.nanoTime()}")
        // persisted either way: on checkpoint rounds the checkpoint's
        // internal write job re-reads the round's cache instead of
        // re-running the three joins; on cache rounds this IS the state
        val nextCache = prop.join(jump, prop("lbl1") === col("jn"), "left")
          .select(col("node"), col("old"),
            least(col("lbl1"), coalesce(col("jl"), col("lbl1"))).as("lbl"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // registered BEFORE the round's materializing action: if the
        // checkpoint or noop-sink write throws, the finally's !converged
        // path must see this round's cache in heldCaches or it leaks for
        // the session
        heldCaches = nextCache :: heldCaches
        val observed = nextCache.observe(obs,
          sum(when(col("lbl") =!= col("old"), 1L).otherwise(0L)).as("changed"))
        if ((iter + 1) % cadence == 0) {
          val next = observed.checkpoint()
          snapshots += 1
          frontier = next.where(col("lbl") =!= col("old")).select("node", "lbl")
          // reassign labels BEFORE anything in the round tail that can
          // throw (obsChanged blocks on the listener bus): `next` is
          // already durably checkpointed, so a mid-round failure must
          // steer the finally's !converged cleanup at THIS snapshot, not
          // the previous one. The previous snapshot and the cached
          // rounds since it back nothing once `next` is on disk.
          val prevFiles = lastCkpt
          lastCkpt = checkpointFiles(next)
          labels = next.drop("old")
          deleteFiles(s, prevFiles)
          heldCaches.foreach(_.unpersist(blocking = false)) // incl. nextCache
          heldCaches = Nil
        } else {
          // cache round: one noop-sink action materializes the persisted
          // state and delivers the observe metric — no durable write
          observed.write.format("noop").mode("overwrite").save()
          frontier = nextCache.where(col("lbl") =!= col("old")).select("node", "lbl")
          labels = nextCache.drop("old") // nextCache already in heldCaches
        }
        changed = obsChanged(obs) // reported by the round's action above
        iter += 1
      }
      // diameter-bound exceeded: labels would be silently wrong vs the
      // exact recursive-CTE oracle — fail loudly instead (inside the try
      // so the finally reclaims the in-flight state snapshot)
      if (changed > 0)
        throw new IllegalStateException(
          s"e16 label propagation did not converge in $iter rounds " +
            s"($changed labels still changing) — raise the iteration cap")
      // TERMINAL snapshot when convergence lands on a cache round: the
      // returned plan must be leaf-backed so every intermediate cache is
      // releasable now and the result survives executor loss after this
      // call returns — one extra durable write per QUERY, not per round
      if (heldCaches.nonEmpty) {
        val fin = labels.checkpoint()
        snapshots += 1
        val prevFiles = lastCkpt
        lastCkpt = checkpointFiles(fin)
        labels = fin
        deleteFiles(s, prevFiles)
        heldCaches.foreach(_.unpersist(blocking = false))
        heldCaches = Nil
      }
      converged = true
    } finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      if (edgesLoop != null) edgesLoop.unpersist(blocking = false)
      // the loop is done with the edge snapshot on EVERY exit path; the
      // final labels checkpoint (which the returned plan reads) outlives
      // this call only on success — a failed run must not leak its
      // in-flight state snapshot or its cached rounds either
      deleteFiles(s, checkpointFiles(edges))
      if (!converged) {
        heldCaches.foreach(_.unpersist(blocking = false))
        deleteFiles(s, lastCkpt)
      }
    }
    val sized = labels
      .withColumn("cluster_id", col("lbl")).drop("lbl")
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))

    (sized.select(col("node").as("doc_id"), col("cluster_id"), col("cluster_size")),
      iter, snapshots)
  }

  /** E19: the END-TO-END dedup pipeline — the composition an LLM
    * training-data pipeline actually runs, declared as one oracle-gated
    * dataflow (r6 verdict ask #7):
    *
    *   e6 verified candidates (jaccard ≥ 0.5, the near-dup bar)
    *   → connected components (the e16 loop over those edges)
    *   → first-seen keeper per cluster — D1 semantics: the min-label
    *     CC labels every node with its component's MINIMUM doc_id, so
    *     the keeper test is simply doc_id = cluster_id (rank-1 of the
    *     doc_id-ordered window, without running a window)
    *   → surviving-corpus stats per source.
    *
    * Stage boundaries add no exchanges beyond the component plans: the
    * labels come back as a checkpointed leaf (the loop's own terminal
    * state), the non-keeper set is a broadcast-able projection of it,
    * and the stats are one partial-agg groupBy over the documents scan
    * with that anti-style left join applied map-side. */
  def e19DedupPipeline(s: SparkSession, d: String): DataFrame = {
    val cand = SimOps.e6VerifiedUnsorted(s, d)
      .where(col("jaccard") >= 0.5)
      .select("d1", "d2")
    val (labels, _, _) = componentsWithStats(s, cand, Nil)
    // non-keepers: clustered docs that are not their cluster's min id
    val dropped = labels.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(true).as("is_dropped"))
    documents(s, d)
      .join(dropped, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("is_dropped").isNull, 1)).as("n_kept"),
        count(col("is_dropped")).as("n_dropped"),
        sum(when(col("is_dropped").isNull, col("n_chars"))).as("chars_kept"))
      .orderBy("source")
  }

  /** Read the `changed` observe metric once its action (the round's
    * checkpoint) has reported. `sum` over zero matching rows is null →
    * 0. */
  private def obsChanged(obs: org.apache.spark.sql.Observation): Long =
    obs.get.get("changed") match {
      case Some(n: Number) => n.longValue()
      case _               => 0L
    }

  /** E15: signup→purchase funnel — per user, the first signup and the
    * first purchase at-or-after it, with conversion delay. One scan per
    * event type + an equi-join on user_id; the time predicate filters
    * after the join (no range-join explosion). */
  def e15Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val signup = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t_signup"))
    val conv = ev.where(col("event_type") === "purchase")
      .join(signup, "user_id")
      .where(col("ts") >= col("t_signup"))
      .groupBy("user_id").agg(min(col("ts")).as("t_conv"))
    signup.join(conv, Seq("user_id"), "left")
      .select(
        col("user_id"),
        unix_timestamp(col("t_signup")).as("signup_s"),
        unix_timestamp(col("t_conv")).as("conv_s"),
        col("t_conv").isNotNull.as("converted"),
        (unix_timestamp(col("t_conv")) - unix_timestamp(col("t_signup")))
          .as("delay_s"))
      .orderBy("user_id")
  }

  /** E64: PageRank power iteration over the event-category transition
    * graph — the second iterative-fixpoint family beside e16's connected
    * components (CC propagates labels to convergence; PageRank iterates
    * a LINEAR operator a fixed number of rounds). Nodes are the `props.k`
    * categories; edges are per-user consecutive-event transitions
    * (the e51 sequence derivation), weighted by count.
    *
    * Iteration discipline (the e40 float-parity convention): every
    * per-iteration quantity that feeds the next round — the incoming
    * mass per node, the dangling mass, the resulting rank — is rounded
    * to 12 dp in BOTH engines, so each round starts from bit-identical
    * doubles and summation order can never drift the hash. Dangling
    * nodes (no out-edges) redistribute their rank uniformly.
    *
    * 100 TB path: the heavy work is the edge extraction — one shuffle
    * by user for the lag + one partial-agg'd count by (src, dst); the
    * iteration itself joins the edge relation (partitioned once on src,
    * persisted) against a rank relation of O(nodes) rows and reduces by
    * dst — partial aggregation keeps each round one exchange of
    * O(nodes) rows, and the loop never collects anything but the two
    * 1-row scalars (N, dangling mass). At web scale the rank side stays
    * a distributed relation; nothing here assumes it fits anywhere. */
  def e64Pagerank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val iters = 6
    val ev = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("node"))
      .where(col("node").isNotNull)
    val seqW = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val edges = ev
      .withColumn("src", lag("node", 1).over(seqW))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("node").as("dst"))
      .agg(count(lit(1)).as("w"))
      .persist(MEMORY_AND_DISK)
    val nodes = ev.select("node").distinct().persist(MEMORY_AND_DISK)
    val n = nodes.count() // O(|categories|) scalar, bounds every round
    val outw = edges.groupBy("src").agg(sum("w").as("outw"))
    // LOOP WIDTH sized to the GRAPH, not the corpus (the e16 loop
    // discipline, applied here in the r15 optimization round): the six
    // rounds join/aggregate O(|categories|)-row relations, so the
    // session's corpus-sized shuffle width hands every tiny round 32+
    // tasks of scheduling overhead per exchange; one partition per
    // ~100k edges (the e16 constant), capped at the session width. AQE
    // off INSIDE the loop only — its per-stage replanning adds latency
    // to each round and the explicit width already encodes its
    // coalescing decision. Both confs restored in the finally; the
    // corpus-sized edge extraction above runs BEFORE the narrow scope.
    val conf = s.conf
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      // per-edge probability: exact integer operands -> identical IEEE
      // division on both engines; repartitioned once on the probe key so
      // all six joins reuse the same layout
      val probs = edges.join(outw, "src")
        .select(col("src"), col("dst"),
          (col("w").cast("double") / col("outw")).as("p"))
        .repartition(col("src"))
        .persist(MEMORY_AND_DISK)
      val nEdges = probs.count() // settle, then release the upstream edge cache
      edges.unpersist(blocking = false)
      val loopParts =
        math.max(1L, math.min(prevParts.toLong, nEdges / 100000L)).toInt
      conf.set("spark.sql.shuffle.partitions", loopParts.toString)
      conf.set("spark.sql.adaptive.enabled", "false")
      val srcNodes = probs.select("src").distinct().persist(MEMORY_AND_DISK)
      val jump = BigDecimal(0.15 / n)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      val r0 = BigDecimal(1.0 / n)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      var ranks = nodes.select(col("node"), lit(r0).as("rank"))
        .persist(MEMORY_AND_DISK)
      var prev: Option[DataFrame] = None
      for (_ <- 1 to iters) {
        // this round's dang scalar is the ONLY action per round (the e16
        // loop convention) — it also materializes `ranks`' cache, after
        // which the previous generation can be dropped; a dedicated
        // count() per round doubled the loop's job count for nothing
        val dang = ranks
          .join(srcNodes, ranks("node") === srcNodes("src"), "left_anti")
          .agg(round(coalesce(sum("rank"), lit(0.0)), 12).as("dang"))
          .head().getDouble(0)
        prev.foreach(_.unpersist(blocking = false))
        val inMass = probs.join(ranks, probs("src") === ranks("node"))
          .groupBy("dst")
          .agg(round(sum(col("p") * col("rank")), 12).as("in_mass"))
        val next = nodes
          .join(inMass, nodes("node") === inMass("dst"), "left")
          .select(col("node"),
            round(lit(jump) + lit(0.85) *
              (coalesce(col("in_mass"), lit(0.0)) + lit(dang) / n), 12)
              .as("rank"))
          .persist(MEMORY_AND_DISK)
        prev = Some(ranks)
        ranks = next
      }
      val inDeg = probs.groupBy("dst").agg(count(lit(1)).as("in_deg"))
      val result = ranks
        .join(inDeg, ranks("node") === inDeg("dst"), "left")
        .select(col("node"), col("rank"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
        .orderBy("node")
      // the rank vector is O(|categories|): materialize it, then RELEASE
      // every cache the loop held — nodes, probs, srcNodes, the final two
      // rank generations — so repeated invocations in a long-lived
      // session don't accumulate cacheManager entries (r10 advice);
      // stays lazy under the Plans dump so the loop's join/agg shape
      // remains reviewable evidence
      graft.Tables.materializeAndRelease(result,
        (prev.toSeq :+ ranks :+ nodes :+ probs :+ srcNodes): _*)
    } finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** E67: cluster-aware train/val/test SPLIT — the assignment that makes
    * e42's leakage check pass by construction: a near-duplicate pair
    * split across train and eval is contamination (the eval doc is a
    * paraphrase of training data), so the split key must be the
    * DEDUP CLUSTER, not the document. Composition of parts the suite
    * already gates: e16's connected components label every near-dup
    * cluster; every doc's split is drawn from md5(cluster rep) —
    * singletons (no near-dup edge) are their own rep — 80/10/10 by hex
    * bucket, zero RNG (the e14 determinism stance).
    *
    * The leakage gate is COMPUTED, not assumed: `leak_clusters` counts
    * reps observed in >1 split (structurally 0 — one rep hashes to one
    * bucket), and the oracle recomputes the same count relationally, so
    * a split keyed on doc_id by mistake would light the gate red on
    * both engines' compare.
    *
    * 100 TB path: e16's CC cost is already paid by the dedup pass (the
    * labels are a byproduct an actual pipeline persists); past that the
    * split is one broadcast-free projection + a groups-sized rollup —
    * and eval sets stay clean however the corpus grows. */
  def e67ClusterSplit(s: SparkSession, d: String): DataFrame = {
    val labels = e16DedupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"))
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
    val rep = coalesce(col("cluster_id"), col("doc_id"))
    val assigned = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("rep", rep)
      .withColumn("bucket",
        pmod(conv(substring(md5(col("rep").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(10L)))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
    val leaks = assigned.groupBy("rep")
      .agg(countDistinct(col("split")).as("n_splits"))
      .where(col("n_splits") > 1)
      .agg(count(lit(1)).as("leak_clusters"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"),
        sum(col("n_chars")).as("n_chars"))
      .crossJoin(leaks) // 1-row scalar attach, the suite convention
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("n_chars"), col("leak_clusters"))
      .orderBy("split")
  }
}
