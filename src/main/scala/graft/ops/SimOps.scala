package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Similarity-search + near-dup operators over `embeddings` and
  * `documents` — the ANN / MinHash+LSH / SimHash / n-gram-Jaccard family.
  *
  * Scale stance (100 TB): the only join against the full vector table is
  * an equi-join on a bucket key (IVF cell / LSH band hash) — never an
  * all-pairs crossJoin. Query sets are tiny and broadcast. Cosine math
  * is double-precision array lambdas evaluated in one pass; both engines
  * (Spark and the DuckDB oracle) fold left-to-right over the same
  * doubles, so results are rounded at 1e-6 and hash-stable.
  */
object SimOps {

  /** The posting-list pair step shared by every candidate generator
    * (e6/e7b/e8/e13 here, e16's exact pairs in ClusterOps): all
    * unordered pairs from each posting list, PARTITION-LOCAL — element
    * i pairs with the slice strictly after it (`slice` is 1-based and
    * the slice must start after 0-based position i, hence i+2).
    * `grouped` carries `listCol` (an array column whose singletons were
    * already dropped — a one-element posting can never pair); the
    * output replaces it with element columns `a` and `b`, other columns
    * passing through. For a list built in sorted order (e13) the pair
    * is positionally ordered a-before-b; for unordered lists callers
    * impose the pair order (least/greatest or a struct pick). */
  private[ops] def listPairs(grouped: DataFrame, listCol: String): DataFrame =
    grouped
      .select(col("*"), posexplode(col(listCol)).as(Seq("__i", "a")))
      .select(col("*"), explode(slice(col(listCol), col("__i") + lit(2),
        size(col(listCol)))).as("b"))
      .drop(listCol, "__i")

  /** Elementwise-double view of the float embedding. */
  private def vectors(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  /** Rounded cosine via the native fused-loop codegen expression
    * (graft.functions.CosineSimilarity) — allocation-free, inside
    * whole-stage codegen, bit-identical to the oracle's
    * dot/(|a||b|) formulation. */
  private def cosine(a: Column, b: Column): Column =
    round(graft.functions.GraftFunctions.cosine(a, b), 6)

  /** Shared top-k: rank candidates per query on (cosine desc, cand_id)
    * — one definition so the approximate paths (e2/e2b) can never
    * silently diverge from the exact baseline (e12) in tie-breaking.
    * (private[graft]: the serve-path probes in [[graft.sources.IvfServe]]
    * rank through the same definition.) */
  private[graft] def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** E2: similarity top-k with the IVF-bucketed plan — candidates are
    * restricted to the query's coarse cell (`label` plays the
    * precomputed IVF centroid assignment), so the physical plan is a
    * BroadcastHashJoin on the cell key: at 100 TB this scans each
    * partition once and never builds an all-pairs product. Top-k runs on
    * the rounded cosine with a deterministic tie-break. */
  def e2CosineTopk(s: SparkSession, d: String): DataFrame = {
    val e = vectors(embeddings(s, d))
    val q = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label"), col("v").as("qv"))
    topK(e.join(broadcast(q), Seq("label"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qv"), col("v")).as("cos_sim")), 3)
  }

  /** E2c: e2's semantics through the custom TopKPerKey Catalyst operator
    * (graft.plans.TopKPerKey) instead of the window+filter idiom — at
    * scale the window form shuffles EVERY scored candidate; the custom
    * operator's map-side bounded heaps ship at most partitions×keys×k
    * rows to the exchange. Same rows as e2 minus the rank column
    * (oracle-checked against the same DuckDB query). */
  def e2cTopkNative(s: SparkSession, d: String): DataFrame = {
    val e = vectors(embeddings(s, d))
    val q = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label"), col("v").as("qv"))
    val scored = e.join(broadcast(q), Seq("label"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qv"), col("v")).as("cos_sim"))
    graft.plans.TopKPerKey.topKPerKey(scored, 3,
      keys = Seq("q_id"), orderBy = Seq(("cos_sim", false), ("cand_id", true)))
      .orderBy(col("q_id"), col("cos_sim").desc, col("cand_id"))
  }

  /** E12: brute-force cosine top-k baseline — the exact-answer reference
    * for E2. The tiny query set is broadcast and streamed against every
    * vector (BroadcastNestedLoopJoin): one scan of the big side, O(Q·N)
    * compute, no shuffle of the vector table — the correct "exact"
    * plan shape when Q is small. */
  def e12AnnBrute(s: SparkSession, d: String): DataFrame = {
    val e = vectors(embeddings(s, d))
    val q = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    topK(e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qv"), col("v")).as("cos_sim")), 5)
  }

  /** E2r: ANN QUALITY GATE — recall@k of the three approximate paths
    * (e2's IVF cells, e2b's LSH buckets, e2p's multi-probe LSH) against
    * the exact brute-force top-k, per query. A training-data pipeline
    * must MEASURE its approximation error, not assume it; this key makes
    * the recall a first-class, oracle-checked result (every input is
    * deterministic, so DuckDB recomputes the same exact top-k, the same
    * IVF/LSH/multi-probe candidate sets, and the same intersection
    * counts). Measured mean recall@3: sf0.01 IVF 0.04 / LSH 0.08;
    * sf0.1 IVF 0.25 / LSH 0.21 — LOW, and that is the finding: the
    * synthetic `label` column is NOT a geometric centroid assignment
    * (labels are uncorrelated with cosine proximity), and 4 hyperplanes
    * = 16 buckets is coarse without multi-probe. e2p exists to repair
    * exactly that loss, so its recall is measured HERE, by the gate that
    * motivated it (`recall_mp`), not only asserted structurally: probing
    * 5/16 buckets lifts measured mean recall@3 from 0.083 to 0.50 at
    * sf0.01 (6x). `mp_ge_lsh` states the superset guarantee in-plan —
    * multi-probe candidates contain e2b's, so per-query hits against the
    * exact top-k can only grow — and the oracle pins it TRUE, so a
    * violation fails the hash compare. The exact side reuses e12's plan
    * shape (broadcast query set, one scan); the approx sides are the
    * declared e2/e2b/e2p pipelines unchanged. */
  def e2rRecallAtK(s: SparkSession, d: String): DataFrame = {
    val k = 3
    val e = vectors(embeddings(s, d))
    val q = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // tiny (queries × k rows), probed four times — cache, not recompute
    val exact = topK(e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qv"), col("v")).as("cos_sim")), k)
      .select("q_id", "cand_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ivf = e2CosineTopk(s, d).select("q_id", "cand_id")
    val lsh = e2bCosineLsh(s, d).select("q_id", "cand_id")
    val mp = e2pLshMultiprobe(s, d).select("q_id", "cand_id")
    def hits(approx: DataFrame, name: String): DataFrame =
      exact.join(approx, Seq("q_id", "cand_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as(name))
    val out = exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hits(ivf, "hits_ivf"), Seq("q_id"), "left")
      .join(hits(lsh, "hits_lsh"), Seq("q_id"), "left")
      .join(hits(mp, "hits_mp"), Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("hits_ivf"), lit(0L)).as("hits_ivf"),
        coalesce(col("hits_lsh"), lit(0L)).as("hits_lsh"),
        coalesce(col("hits_mp"), lit(0L)).as("hits_mp"),
        round(coalesce(col("hits_ivf"), lit(0L)) / col("n_exact"), 6)
          .as("recall_ivf"),
        round(coalesce(col("hits_lsh"), lit(0L)) / col("n_exact"), 6)
          .as("recall_lsh"),
        round(coalesce(col("hits_mp"), lit(0L)) / col("n_exact"), 6)
          .as("recall_mp"),
        (coalesce(col("hits_mp"), lit(0L)) >= coalesce(col("hits_lsh"), lit(0L)))
          .as("mp_ge_lsh"))
      .orderBy("q_id")
    // queries-sized output: materialize and RELEASE the exact-top-k
    // cache (the r10 e61/e64 advice applied suite-wide)
    graft.Tables.materializeAndRelease(out, exact)
  }

  /** Sign-bit bucket from 4 deterministic sparse hyperplanes — the
    * random-hyperplane LSH for cosine distance, with axis-sparse planes
    * so both engines compute identical doubles. 16 buckets. */
  private def lshBucket(v: Column): Column = {
    def bit(b: Int): Column = {
      val s = element_at(v, 4 * b + 1) + element_at(v, 4 * b + 2) -
        element_at(v, 4 * b + 3) - element_at(v, 4 * b + 4)
      when(s >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bit(0), bit(1), bit(2), bit(3))
  }

  /** E2b: cosine top-k with random-hyperplane LSH bucketing — the
    * alternative scale path to E2's IVF cells when no precomputed
    * centroid assignment exists. Same plan shape: tiny query set
    * broadcast, equi-join on the bucket key, one scan of the vector
    * table, window top-k. Recall is approximate by design (only
    * same-bucket candidates are scored); E12 is the exact baseline. */
  def e2bCosineLsh(s: SparkSession, d: String): DataFrame = {
    val e = vectors(embeddings(s, d)).withColumn("bkt", lshBucket(col("v")))
    val q = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("bkt"), col("v").as("qv"))
    topK(e.join(broadcast(q), Seq("bkt"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qv"), col("v")).as("cos_sim")), 3)
  }

  /** E2p: MULTI-PROBE LSH top-k — the standard fix for e2b's bucketing
    * recall loss (measured by e2r: single-bucket LSH recall ~0.2 on
    * this data): each query probes its own bucket PLUS the 4 buckets at
    * Hamming distance 1 in the 4-bit code, i.e. 5 of 16 buckets,
    * scanning ~31% of the corpus instead of ~6% for a strict recall
    * superset (candidates ⊇ e2b's, so per-query hits against the exact
    * top-k can only grow — asserted in AnnRecallSpec). The plan shape
    * is unchanged and scale-safe: the probe codes are exploded on the
    * BROADCAST query side (5 rows per query, not 5× the corpus), and
    * the big table still joins by bucket equality — one scan, no
    * fan-out of the vector table. */
  def e2pLshMultiprobe(s: SparkSession, d: String): DataFrame = {
    val e = vectors(embeddings(s, d)).withColumn("bkt", lshBucket(col("v")))
    // flip bit i of the 4-char "0"/"1" bucket code
    def flip(b: Column, i: Int): Column = concat(
      substring(b, 1, i),
      when(substring(b, i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
      substring(b, i + 2, 3 - i))
    val q = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(array(col("bkt") +: (0 until 4).map(flip(col("bkt"), _)): _*))
          .as("bkt"))
    topK(e.join(broadcast(q), Seq("bkt"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qv"), col("v")).as("cos_sim")), 3)
  }

  /** E13: embedding-cosine near-duplicate pairs — the dedup-flavored
    * variant of similarity search: all same-cell pairs above a cosine
    * threshold. Candidates come only from within an IVF cell (per-cell
    * work is |cell|²/2, bounded by cell size — at 100 TB cells number in
    * the thousands, keeping every task small).
    *
    * Pairing uses the POSTING-LIST shape shared with e6/e7b/e8: ONE
    * exchange collects each cell's vectors into a sorted list (struct
    * sorted by vec_id, so the "slice after me" explode yields exactly
    * the id1 < id2 ordered pairs), then the double-explode runs
    * partition-local — replacing the former label self-join, which
    * shuffled the vector table twice. A posting row holds one whole
    * cell (|cell| × 32 doubles); that is the same per-task bound the
    * self-join already had, materialized as one row instead of a join
    * probe set. */
  def e13EmbedNeardup(s: SparkSession, d: String): DataFrame = {
    val e = vectors(embeddings(s, d))
    val cells = e.groupBy("label")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("xs"))
      .where(size(col("xs")) > 1) // singleton cells can never pair
    listPairs(cells, "xs")
      .select(col("label"),
        col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        cosine(col("a.v"), col("b.v")).as("cos_sim"))
      .where(col("cos_sim") >= 0.3)
      .orderBy("label", "id1", "id2")
  }

  /** Per-doc token array: lowercased whitespace split, empties dropped —
    * the single tokenizer definition shared by the shingle and bigram
    * builders and the stream-side per-row bands. */
  private[graft] def tokensArr: Column =
    filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)

  /** Distinct word-3-gram shingles per document — built PER ROW with
    * higher-order array functions, deduped inside the array BEFORE the
    * explode. The former form exploded every token to its own row, ran
    * a lead() window (which SORTS all token rows by (doc, pos)) and
    * deduped after — at 500k docs that is a 50M-row sort and an extra
    * wide dedup; the per-row form never materializes token rows at all
    * (measured 71 → 23 s on the e16 edge build at sf10a). The one
    * repartition parallelizes the per-row work past the single-file
    * input split AND pre-clusters by doc_id for the consumers'
    * aggregations. Row set is identical (the e6/e8 oracles recompute
    * from scratch; StreamSimilaritySpec pins the band derivation). */
  private[ops] def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleRowsOf(documents(s, d))

  /** [[shingleRows]] over any documents-shaped frame — callers that
    * shingle a SUBSET (e20's bounded benchmark side) filter the doc
    * scan first so the parquet reader prunes on doc_id instead of
    * shingling the whole corpus twice. */
  private[ops] def shingleRowsOf(docs: DataFrame): DataFrame =
    shingleRowsPrepared(graft.Tables.spreadIfNarrow(docs, col("doc_id")))

  /** [[shingleRowsOf]] minus the narrow-scan spread — for inputs that
    * are already width-prepared (e70's shared persisted projection,
    * where the spread gate's footer probe cannot see a file scan and
    * would fall back to a full-width exchange on every cache read). */
  private[ops] def shingleRowsPrepared(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokensArr)
      .select(col("doc_id"), col("source"),
        explode(when(size(col("toks")) >= 3,
          array_distinct(transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2), element_at(col("toks"), i + 3)))))
          .otherwise(array().cast("array<string>"))).as("sh"))

  /** E6: MinHash + LSH near-dup detection — shingle → 8 MinHash values
    * (md5-keyed so the oracle reproduces them) → 4 bands of 2 → band
    * hash → candidate pairs via an equi-join on (band, band_hash) →
    * verified Jaccard.
    *
    * 100 TB path: the only self-join is on the band hash, whose
    * collision rate is J² per band — candidate volume stays proportional
    * to true near-dups, not N². */
  def e6MinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLsh(s, d,
      // md5-keyed so the DuckDB oracle reproduces the exact hash values
      mh = (h, sh) => md5(concat(lit(s"$h:"), sh)),
      bandHash = (a, b) => md5(concat(a, b)))

  /** E6x: the PRODUCTION-hash fast path of e6 — xxhash64 (64-bit,
    * non-cryptographic, codegen'd, no hex-string materialization) in
    * place of md5 for both the MinHash values and the band keys: ~3×
    * cheaper per shingle and the shuffled band key is an 8-byte long
    * instead of a 32-char string. Same plan shape, same verification
    * math (n_common/n1/n2/jaccard are hash-independent). DuckDB has no
    * xxhash64, so this variant is covered by XxHashVariantSpec (exact
    * duplicates must surface identically; shared pairs must carry
    * identical Jaccard) rather than a declared oracle; e6 stays the
    * oracle-stable form. */
  def e6xMinhashLshXx(s: SparkSession, d: String): DataFrame =
    minhashLsh(s, d,
      mh = (h, sh) => xxhash64(lit(h), sh),
      bandHash = (a, b) => xxhash64(a, b))

  /** E6x DECLARED form: the hash-INDEPENDENT slice of the xxhash64
    * pipeline — exact-duplicate pairs, i.e. identical shingle sets.
    * Identical sets give identical MinHash signatures under ANY hash
    * family, so the pair surfaces from the banded join regardless of
    * which hash runs, with n_common = n1 = n2 (jaccard exactly 1);
    * conversely jaccard 1 forces set equality. That makes this slice
    * invariant across hash families and DuckDB-checkable without
    * xxhash64 — while still driving the whole production-hash pipeline
    * (xx MinHash values, 8-byte band keys, posting lists, verification)
    * end-to-end under the driver's oracle gate. The full candidate set
    * (hash-dependent by nature) stays covered by XxHashVariantSpec.
    * Honesty note: sf0.01 contains no exact-duplicate documents, so the
    * gate there is 0 = 0 (schema + emptiness both oracle-agreed); at
    * sf0.1 the slice is 8 pairs and family-invariance is additionally
    * spec-pinned (XxHashVariantSpec "e6x declared slice"). */
  def e6xMinhashXxDups(s: SparkSession, d: String): DataFrame =
    e6xMinhashLshXx(s, d)
      .where(col("n_common") === col("n1") && col("n_common") === col("n2"))
      .select(col("d1"), col("d2"), col("n_common").as("n_sh"))
      .orderBy("d1", "d2")

  /** The persisted sub-relations every MinHash+LSH consumer shares:
    * distinct (doc, shingle) rows, per-doc signatures (mh0..mh7 + n_sh),
    * and the band rows (doc_id, band, bh) — the corpus "index". Built
    * once per pipeline; `sh` and `sigs` are persisted because they feed
    * the signature aggregation AND both sides of the Jaccard
    * verification (tokenize→window→distinct was 26% of total bench time
    * when re-executed). */
  private[graft] case class MinhashRelations(
      sh: DataFrame, sigs: DataFrame, bands: DataFrame)

  private[graft] def minhashRelations(
      s: SparkSession, d: String,
      mh: (Int, Column) => Column,
      bandHash: (Column, Column) => Column): MinhashRelations =
    minhashRelationsOf(documents(s, d), mh, bandHash)

  /** [[minhashRelations]] over any documents-shaped frame — the e70
    * composition runs the dedup stage on the DECON+QUALITY SURVIVORS,
    * not the raw corpus, so the relation builder takes the upstream
    * stage's output directly. */
  private[graft] def minhashRelationsOf(
      docs: DataFrame,
      mh: (Int, Column) => Column,
      bandHash: (Column, Column) => Column): MinhashRelations = {
    import org.apache.spark.storage.StorageLevel
    val sh = shingleRowsOf(docs).select("doc_id", "sh")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // all 8 MinHash values AND the per-doc shingle count in ONE
    // aggregation pass (9 agg columns over one scan of the cached shingle
    // rows) instead of an 8-way row fan-out + a separate counts pass;
    // band hashes follow in the same row.
    val mhCols = (0 until 8).map(h =>
      min(mh(h, col("sh"))).as(s"mh$h")) :+
      count(lit(1)).as("n_sh")
    val sigs = sh.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
      .persist(StorageLevel.MEMORY_AND_DISK) // reused: bands + both count joins
    val bandPairs = (0 until 4).map(b => struct(
      lit(b.toLong).as("band"),
      bandHash(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("bh")))
    val bands = sigs
      .select(col("doc_id"), explode(array(bandPairs: _*)).as("bp"))
      .select(col("doc_id"), col("bp.band").as("band"), col("bp.bh").as("bh"))
    MinhashRelations(sh, sigs, bands)
  }

  /** The verification tail shared by the batch pipeline and the
    * streaming ingest (e6s): candidate pairs (d1 < d2, n_bands) →
    * exact-Jaccard verification against the persisted shingle sets.
    * Verification only needs shingles of docs that appear in a candidate
    * pair — semi-join-reduce BEFORE shuffling shingle rows by (doc, sh).
    * At 100 TB candidates are a vanishing fraction of the corpus, so this
    * turns the verification shuffle from O(all shingles) into
    * O(candidate-doc shingles). */
  private[graft] def minhashVerify(
      rel: MinhashRelations, rawPairs: DataFrame): DataFrame =
    minhashVerifyCore(rel, rawPairs).orderBy("d1", "d2")

  /** [[minhashVerify]] without the presentation sort — for composition
    * (e19 feeds the verified pairs into the connected-components loop,
    * where an ordering exchange would be pure waste). */
  private[graft] def minhashVerifyCore(
      rel: MinhashRelations, rawPairs: DataFrame): DataFrame = {
    val pairs = rawPairs // caller-persisted when reused; probed 3× below
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = rel.sigs.select(col("doc_id"), col("n_sh"))
    val candDocs = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
    val shC = rel.sh.join(candDocs, Seq("doc_id"), "left_semi")
    val common = pairs
      .join(shC.select(col("doc_id").as("d1"), col("sh")), Seq("d1"))
      .join(shC.select(col("doc_id").as("d2"), col("sh")), Seq("d2", "sh"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(common, Seq("d1", "d2"), "left")
      .join(counts.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("n_bands"),
        coalesce(col("n_common"), lit(0L)).as("n_common"), col("n1"), col("n2"),
        round(coalesce(col("n_common"), lit(0L)) /
          (col("n1") + col("n2") - coalesce(col("n_common"), lit(0L))), 6)
          .as("jaccard"))
  }

  /** PER-ROW band signatures — the streaming form of the corpus index
    * build: tokens → 3-gram shingle set → 8 MinHash values → 4 band
    * hashes computed entirely with higher-order array functions (no
    * window, no aggregation), so the same expressions run inside a
    * streaming micro-batch where partitionBy-windows are unsupported.
    * Semantics are IDENTICAL to the batch side (StreamSimilaritySpec
    * pins per-row == aggregated band rows at the test SF): lowercased
    * whitespace split, empties dropped BEFORE 3-gramming, distinct
    * shingles, lexicographic min over md5 — `array_min` on strings and
    * `min()` aggregate share the same binary ordering. A doc with <3
    * tokens has no shingles → null band hash → never joins (the batch
    * side simply has no rows for it). */
  private[graft] def perRowBands(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("toks", tokensArr)
      .withColumn("shs", when(size(col("toks")) >= 3,
        array_distinct(transform(
          sequence(lit(0), size(col("toks")) - 3),
          i => concat_ws(" ", element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2), element_at(col("toks"), i + 3)))))
        .otherwise(array().cast("array<string>")))
    val withMh = (0 until 8).foldLeft(base) { (df, h) =>
      df.withColumn(s"mh$h",
        array_min(transform(col("shs"), x => md5(concat(lit(s"$h:"), x)))))
    }
    val bandPairs = (0 until 4).map(b => struct(
      lit(b.toLong).as("band"),
      md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as("bh")))
    withMh
      .select(col("doc_id"), explode(array(bandPairs: _*)).as("bp"))
      .select(col("doc_id"), col("bp.band").as("band"), col("bp.bh").as("bh"))
  }

  /** Shared MinHash+LSH pipeline, parametrized by the hash family:
    * shingle → 8 MinHash values → 4 bands of 2 → band hash → candidate
    * pairs via an equi-join on (band, band_hash) → verified Jaccard.
    *
    * 100 TB path: the only self-join is on the band hash, whose
    * collision rate is J² per band — candidate volume stays proportional
    * to true near-dups, not N². */
  private def minhashLsh(
      s: SparkSession, d: String,
      mh: (Int, Column) => Column,
      bandHash: (Column, Column) => Column): DataFrame = {
    val rel = minhashRelations(s, d, mh, bandHash)
    minhashVerify(rel, lshPairs(rel))
  }

  /** Candidate pairs via posting lists (same shape as e8's r4 rewrite):
    * ONE exchange by (band, band-hash) into collect_list, singleton
    * buckets dropped before any pair exists, then a partition-local
    * double-explode — replaces a self-join that shuffled band rows
    * twice and re-sorted both sides. n_bands = how many bands the pair
    * collides in (hash-independent once the hash family is fixed). */
  private def lshPairs(rel: MinhashRelations): DataFrame =
    listPairs(
      rel.bands.groupBy("band", "bh")
        .agg(collect_list(col("doc_id")).as("ds"))
        .where(size(col("ds")) > 1), "ds")
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("n_bands"))

  /** The oracle-stable (md5) e6 pipeline WITHOUT the presentation sort —
    * stage 1 of the end-to-end dedup pipeline (e19), which consumes the
    * verified pairs as graph edges. */
  private[graft] def e6VerifiedUnsorted(s: SparkSession, d: String): DataFrame =
    e6VerifiedUnsortedOf(documents(s, d))

  /** The e6 verified-pairs chain over any documents-shaped frame (the
    * e70 composition's dedup stage runs it on upstream survivors). */
  private[graft] def e6VerifiedUnsortedOf(docs: DataFrame): DataFrame = {
    val rel = minhashRelationsOf(docs,
      mh = (h, sh) => md5(concat(lit(s"$h:"), sh)),
      bandHash = (a, b) => md5(concat(a, b)))
    minhashVerifyCore(rel, lshPairs(rel))
  }

  /** E7: SimHash fingerprint — 16-bit simhash over token frequencies,
    * bits keyed off md5 hex nibbles so both engines agree.
    *
    * The 16 signed-contribution sums are 16 AGGREGATION COLUMNS over the
    * un-fanned (doc, word) rows — the same shape as e6's 8 MinHash
    * columns — so no row is ever multiplied 16×: one scan, one
    * (doc, word) hash agg, one (doc) hash agg with 16 sums, all inside
    * whole-stage codegen. Pairing near fingerprints is e6/e8's job. */
  def e7Simhash(s: SparkSession, d: String): DataFrame =
    simhashBits(s, d, nBits = 16).orderBy("doc_id")

  /** n-bit SimHash over token frequencies (n/4 md5 hex nibbles), as one
    * (doc, word) hash agg + one doc agg with n sum columns — see e7. */
  private def simhashBits(s: SparkSession, d: String, nBits: Int): DataFrame = {
    require(nBits % 4 == 0 && nBits <= 64)
    val base = graft.Tables.spreadIfNarrow(documents(s, d), col("doc_id"))
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))
      // hash once per distinct (doc, word), then pre-split each hex
      // nibble once (not once per bit)
      .withColumn("h", md5(col("word")))
    val tokens = (0 until nBits / 4).foldLeft(base) { (df, i) =>
      df.withColumn(s"nb$i",
        expr(s"CAST(conv(substring(h, ${i + 1}, 1), 16, 10) AS INT)"))
    }
    // bit b lives in nibble b/4 at weight 2^(b%4); contribution is
    // +cnt when set, -cnt when clear (the classic SimHash vote)
    val bitSums = (0 until nBits).map { b =>
      sum(expr(s"CASE WHEN (nb${b / 4} div ${1 << (b % 4)}) % 2 = 1 " +
        s"THEN cnt ELSE -cnt END")).as(s"s$b")
    }
    documentsAgg(tokens, bitSums)
      .select(col("doc_id"),
        (0 until nBits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** groupBy(doc_id).agg over a non-empty agg list (helper keeps e7
    * readable). */
  private def documentsAgg(df: DataFrame, aggs: Seq[Column]): DataFrame =
    df.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)

  /** E7b: SimHash PAIRING — the step e7's fingerprints exist for.
    * A 32-bit fingerprint splits into 4 bands of 8 bits; by pigeonhole
    * any pair within Hamming distance 3 agrees exactly on ≥1 band, so
    * candidates come from an equi-join on (band, byte) with NO all-pairs
    * product, and band collisions track true near-dups rather than
    * birthday noise (a 16-bit width floods each 4-bit band bucket with
    * unrelated documents — measured 15× the candidate volume).
    * Verification is one codegen'd `bit_count(xor)` per candidate;
    * production widens to 64 bits, same shape. */
  def e7bSimhashPairs(s: SparkSession, d: String): DataFrame = {
    // persisted: the fingerprint aggregation feeds BOTH sides of the
    // banded self-join (one row per doc — tiny cache, big recompute)
    val fp = simhashBits(s, d, nBits = 32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = fp
      .select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(lit(_)): _*)).as("band"))
      .withColumn("nib", expr("shiftright(simhash, band * 8) & 255"))
    // pairing via posting lists per (band, byte) — one exchange +
    // partition-local double-explode (see e8); a pair colliding in
    // several bands appears once per band, deduped before verification
    val cand = listPairs(
      banded.groupBy("band", "nib")
        .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
        .where(size(col("ds")) > 1), "ds")
      .select(
        when(col("a.doc_id") < col("b.doc_id"), col("a")).otherwise(col("b")).as("p1"),
        when(col("a.doc_id") < col("b.doc_id"), col("b")).otherwise(col("a")).as("p2"))
      .select(col("p1.doc_id").as("d1"), col("p1.simhash").as("s1"),
        col("p2.doc_id").as("d2"), col("p2.simhash").as("s2"))
      .distinct()
    cand
      .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS INT)"))
      .where(col("hamming") <= 3)
      .select("d1", "d2", "hamming")
      .orderBy("d1", "d2")
  }

  /** Distinct word-bigram ids per document, (doc_id, source, h) — the
    * inverted-index input shared by e8 and the e8h volume gate. Bigram
    * ids are built PER ROW (array_distinct over the token array, then
    * explode), so the pipeline never materializes per-token rows, never
    * window-sorts them, and needs no dedup exchange — the exploded
    * output is already the distinct set (same per-row shape as
    * shingleRows; the oracles recompute it independently from text). */
  private def bigramRows(s: SparkSession, d: String): DataFrame =
    graft.Tables.spreadIfNarrow(documents(s, d), col("doc_id"))
      .withColumn("toks", tokensArr)
      .select(col("doc_id"), col("source"),
        explode(when(size(col("toks")) >= 2,
          array_distinct(transform(sequence(lit(0), size(col("toks")) - 2),
            i => xxhash64(element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)))))
          .otherwise(array().cast("array<bigint>"))).as("h"))

  /** E8h: POSTING-LENGTH HISTOGRAM — e8's candidate-volume gate as a
    * first-class oracle-checked key. e8's 100 TB claim is that pair
    * volume tracks TRUE duplicates, not N²: the only pair generator is
    * the per-(source, bigram) posting list, and each list of length L
    * contributes L·(L−1)/2 candidates. This key states that volume
    * in-plan — posting lists bucketed by ⌊log2 L⌋ (computed as
    * `length(bin(L)) − 1`: exact integer path in both engines, where
    * float log2 drifts on exact powers) with count and pair volume per
    * bucket — so a skew regression (one runaway posting) or a
    * superlinear candidate trend is a HASH MISMATCH, not a silent
    * slowdown. Measured across decades (SCALE.md): total volume is
    * exactly linear in corpus size — sf0.1 1.82M, sf1a 18.2M (10.0×),
    * sf10a 182M (100.0×) — with the max bucket stable at 2^5. */
  def e8hPostingHistogram(s: SparkSession, d: String): DataFrame =
    bigramRows(s, d)
      .groupBy("source", "h").agg(count(lit(1)).as("len"))
      .where(col("len") > 1)
      .select((length(bin(col("len"))) - 1).cast("long").as("len_bucket"),
        col("len"))
      .groupBy("len_bucket")
      .agg(count(lit(1)).as("n_postings"),
        expr("CAST(sum(len * (len - 1) div 2) AS BIGINT)").as("pair_volume"))
      .orderBy("len_bucket")

  /** E8: n-gram Jaccard near-dup pairs — exact set Jaccard over word
    * bigrams, candidate pairs generated ONLY through the shared-bigram
    * inverted index within a `source` bucket (the scalable
    * exact-similarity-join shape), thresholded to keep output
    * proportional to true matches.
    *
    * Internal representation: bigram identity is `xxhash64(w0, w1)` (an
    * 8-byte shuffle key; the string form would shuffle ~3× the bytes).
    * The declared output is hash-INDEPENDENT (doc ids + set counts), so
    * the DuckDB oracle — which groups by the bigram string — still
    * matches exactly; a 64-bit collision would be needed to perturb a
    * count (odds ~n²/2^65 ≈ 1e-9 at 10⁵ distinct bigrams; the sha2 e1
    * remains the collision-contractual form).
    *
    * Pair generation: ONE exchange by (source, bigram-hash) into
    * `collect_list(doc_id)`, then a partition-local double-explode over
    * each posting list — replacing the former self-join, whose plan paid
    * three exchanges of bigram rows (distinct, df-window, join). Each
    * posting array costs 8 bytes × df; a bigram would need ~10⁸ docs
    * before its array mattered, and pair EXPLOSION (inherent to exact
    * Jaccard, either formulation) dominates long before that — see
    * SkewStressSpec for the degenerate-bucket bound. */
  def e8NgramJaccard(s: SparkSession, d: String): DataFrame =
    e8NgramJaccardWithCaches(s, d)._1

  /** e8 plus the handles of its persisted sub-relations — for callers
    * (e16) that consume e8 inside an EAGER step and can release the
    * caches as soon as their downstream materializes. The plain
    * e8NgramJaccard keeps them for the query's lifetime (the lazy result
    * still reads them); sessions reclaim via catalog.clearCache(). */
  private[ops] def e8NgramJaccardWithCaches(
      s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel
    // persisted: feeds the per-doc set sizes AND the posting-list
    // aggregation — without the cache the tokenize subtree executes
    // twice.
    val bg = bigramRows(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    val counts = bg.groupBy("doc_id").agg(count(lit(1)).as("n_bg"))
    // inverted index: posting list of docs per (source, bigram); a
    // singleton posting can never generate a pair — dropped here (the
    // prefix filter), BEFORE any pair exists
    val grp = bg.groupBy("source", "h")
      .agg(collect_list(col("doc_id")).as("ds"))
      .where(size(col("ds")) > 1)
    // all unordered pairs from each posting list (partition-local;
    // least/greatest orders the pair — posting lists are unordered)
    val pairs = listPairs(grp, "ds")
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"))
    val common = pairs.groupBy("d1", "d2").agg(count(lit(1)).as("n_common"))
    val result = common
      .join(counts.select(col("doc_id").as("d1"), col("n_bg").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n_bg").as("n2")), "d2")
      .withColumn("n_union", col("n1") + col("n2") - col("n_common"))
      .withColumn("jaccard", round(col("n_common") / col("n_union"), 6))
      .where(col("n_common") >= 5 && col("jaccard") >= 0.1)
      .select("d1", "d2", "n_common", "n_union", "jaccard")
      .orderBy("d1", "d2")
    (result, Seq(bg))
  }

  /** E30: pairwise document cosine over SPARSE idf-weighted shingle
    * vectors via an inverted index — the sparse-vector complement to
    * the dense-embedding family (e2/e12/e13): each doc is the set of
    * its distinct word-3-gram shingles (same builder as e6/e8/e16),
    * weighted idf(t) = ln((N+1)/(df(t)+1)); cos(a,b) =
    * Σ_{t∈a∩b} idf²  /  (‖a‖·‖b‖).
    *
    * 100 TB path: never materializes a vector — the posting list per
    * term IS the index. One shuffle builds (term → docs, df); terms
    * with df > 64 are OUT OF THE MEASURE by declaration (the cap is the
    * scalability contract, the idf analogue of a stop-word list: it
    * bounds every posting list, so candidate-pair volume is ≤ 2016 ×
    * vocab — linear in corpus size, the same contract e8h proves for
    * the Jaccard family). Within the capped vocabulary the pruning
    * below is LOSSLESS: df=1 terms are dropped only from the pair join
    * (a term in one doc can never contribute to a dot product) while
    * still counting toward norms; pairs explode partition-local from
    * each posting (listPairs), dots partial-aggregate on (doc_a,doc_b)
    * — volume bounded by true candidate pairs, not N². The final norm
    * joins are doc-count-bounded equi-joins. */
  def e30SparseCosine(s: SparkSession, d: String): DataFrame =
    e30SparseCosineWithCaches(s, d)._1

  /** e30 plus the handle of its persisted posting index — the e8
    * `WithCaches` shape: callers that materialize the result eagerly
    * (specs, scale probes) can `unpersist` the posting list as soon as
    * their downstream lands instead of waiting for `clearCache()`. The
    * plain e30SparseCosine keeps it for the query's lifetime (the lazy
    * result still reads it); the bench clears the session cache before
    * every repeat, so repeated invocations never accumulate copies. */
  private[graft] def e30SparseCosineWithCaches(
      s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    // persisted: feeds the norm build AND the pair join (e8's cache
    // pattern; callers release via the returned handle or clearCache).
    val posting = shingleRows(s, d).select(col("doc_id"), col("sh").as("term"))
      .groupBy("term").agg(collect_list(col("doc_id")).as("ds"))
      .withColumn("df", size(col("ds")))
      .where(col("df") <= 64)
      .crossJoin(broadcast(nDocs))
      // idf*idf (not pow): both engines square by multiplication, so
      // the doubles are bit-identical before the final 6 dp round
      .withColumn("idf", log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
      .withColumn("idf2", col("idf") * col("idf"))
      .select("term", "ds", "df", "idf2")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val norms = posting.select(explode(col("ds")).as("doc_id"), col("idf2"))
      .groupBy("doc_id").agg(sum(col("idf2")).as("sq"))
      .select(col("doc_id"), sqrt(col("sq")).as("nrm"))
    val dots = listPairs(posting.where(col("df") >= 2).select("ds", "idf2"), "ds")
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("idf2"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"), sum(col("idf2")).as("dp"))
    val result = dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .withColumn("cos_sim", round(col("dp") / (col("na") * col("nb")), 6))
      .where(col("cos_sim") >= 0.2)
      .select("doc_a", "doc_b", "n_shared", "cos_sim")
      .orderBy("doc_a", "doc_b")
    (result, Seq(posting))
  }

  /** E31: ANN over int8 SCALAR-QUANTIZED embeddings — the memory-side
    * scale lever the dense family was missing: per-vector symmetric
    * quantization q_i = floor(v_i·(127/max|v|) + 0.5) shrinks the
    * resident index 4× (int8 vs float32) while cosine is INVARIANT to
    * the per-vector scale (it cancels in dot/(‖a‖·‖b‖)), so ranking on
    * quantized cosine is exactly ranking on the reconstructed vectors.
    * Both the quantized score and the full-precision rescore are
    * reported per hit, so the quantization error is measured IN-PLAN
    * (the e2r stance: never assume an approximation, gate it) — and the
    * oracle recomputes both, so a drift in either is a hash mismatch.
    * floor(x+0.5) rather than round(): identical halfway semantics in
    * Spark and DuckDB, bit-deterministic in both.
    *
    * 100 TB path: e12's exact plan shape — tiny query side broadcast,
    * ONE scan of the vector table, no shuffle. Zero vectors (max|v|=0)
    * are excluded by declaration: they have no direction to match. */
  def e31QuantAnn(s: SparkSession, d: String): DataFrame = {
    val e = vectors(embeddings(s, d))
      .withColumn("mx", aggregate(col("v"), lit(0.0),
        (acc, x) => greatest(acc, abs(x))))
      .where(col("mx") > 0)
      // Spark's floor yields LONG; cast back so the codegen cosine
      // (array<double> input) applies — the values are exact either way
      .withColumn("qv", transform(col("v"),
        x => floor(x * (lit(127.0) / col("mx")) + lit(0.5)).cast("double")))
    val q = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("qv").as("qa"), col("v").as("va"))
    val scored = e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosine(col("qa"), col("qv")).as("q_cos"),
        cosine(col("va"), col("v")).as("exact_cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("q_cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("cand_id"), col("q_cos"), col("exact_cos"))
      .orderBy("q_id", "rank")
  }

  /** E32: per-label embedding centroids through the typed
    * [[graft.functions.VectorCentroid]] `Aggregator` — the custom-UDAF
    * surface (SURVEY §2.11) exercised as a declared, oracle-gated key
    * rather than an escape hatch held in reserve. The physical win is
    * the partial aggregation: each partition ships one (sums, n) buffer
    * per label — `labels × dim × 8` bytes of shuffle regardless of row
    * count — which is the centroid step of an IVF/k-means index build
    * at corpus scale.
    *
    * Declared shape (r9): the centroid array is posexploded to scalar
    * `(label, pos, centroid_val, n_vecs)` rows — the driver's oracle
    * gate pandas-sorts every column and cannot factorize array cells,
    * so declared outputs carry only scalar columns (the r8 red row).
    * The explode happens AFTER the aggregation, on `labels` rows, so
    * the partial-agg shuffle economics are unchanged. */
  def e32CentroidAgg(s: SparkSession, d: String): DataFrame = {
    vectors(embeddings(s, d))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        graft.functions.VectorCentroid.centroid(col("v")).as("c"))
      .select(col("label"), col("n_vecs"),
        posexplode(col("c")).as(Seq("pos", "centroid_val")))
      .select("label", "pos", "centroid_val", "n_vecs")
      .orderBy("label", "pos")
  }

  /** E34: centroid-KEEPER election — the semantic-dedup step e32's
    * centroids exist for: per label (= cluster), elect the single
    * vector most cosine-similar to the label centroid as the cluster's
    * representative, and report the cluster's cohesion (mean cosine to
    * centroid). This is the "keep one per semantic cluster" primitive
    * of embedding-based dedup (SemDeDup-style), composed from parts the
    * suite already gates: the [[graft.functions.VectorCentroid]]
    * partial-agg UDAF and the codegen'd cosine used by e12/e31.
    *
    * 100 TB path: one partial-agg pass builds the centroids (labels ×
    * dim × 8 B of shuffle — e32's contract), the centroid dim
    * BROADCASTS (clusters ≪ corpus), scoring is map-side, and the
    * keeper election is a partial-aggregated argmax — one row per
    * label past the exchange, never a per-label sort. Ties on the
    * 6-dp rounded cosine break to the smallest vec_id, so the elected
    * keeper is engine-deterministic.
    *
    * The (cos desc, vec_id asc) argmax is packed into ONE long — a
    * struct buffer would plan SortAggregate (the Amplify 77 GB-spill
    * shape). cos_c is ALREADY quantized (round 6 dp, the suite-wide
    * cosine contract), so `round((cos+1)·1e6)` is an exact integer in
    * [0, 2e6]; `q << 32 | (2^32-1 - vec_id)` orders by (cos desc,
    * vec_id asc) under max(long), and q/1e6 - 1 reconstructs the
    * rounded cosine bit-exactly (both are the nearest double to the
    * same 6-dp decimal). Bound: vec_id < 2^32, enforced in-plan
    * (Packing.packChecked — out-of-bounds fails loudly). */
  def e34CentroidKeeper(s: SparkSession, d: String): DataFrame = {
    val idMask = (1L << 32) - 1
    val e = vectors(embeddings(s, d))
    val cents = e.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        graft.functions.VectorCentroid.centroid(col("v")).as("c"))
    val scored = e.join(broadcast(cents), "label")
      .select(col("label"), col("n_vecs"), col("vec_id"),
        cosine(col("v"), col("c")).as("cos_c"))
    scored.groupBy("label", "n_vecs")
      .agg(max(Packing.packChecked(
          round((col("cos_c") + 1) * 1e6, 0).cast("long"), 32,
          lit(idMask) - col("vec_id"), "e34")).as("m"),
        round(avg(col("cos_c")), 6).as("mean_cos"))
      .select(col("label"),
        (lit(idMask) - col("m").bitwiseAND(lit(idMask))).as("keeper_id"),
        round(shiftright(col("m"), 32) / 1e6 - 1.0, 6).as("keeper_cos"),
        col("n_vecs"), col("mean_cos"))
      .orderBy("label")
  }

  /** Squared L2 distance between two double-array columns, rounded to
    * 6 dp — a left-to-right fold of squared differences, the exact
    * summation order DuckDB's `list_dot_product(diff, diff)` uses, so
    * both engines compare the identical rounded double. */
  private[graft] def dist2(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x), 6)

  /** Map-side nearest-centroid election over LITERAL centroids — the
    * e40 assignment step, shared by the Lloyd loop and the trained
    * IVF index builds ([[graft.sources.IvfLayout]]/[[graft.sources.IvfServe]]):
    * k × dim doubles ride the task closure (the "broadcast" side
    * without even a broadcast), ties keep the earlier (lower-cid)
    * centroid. Returns the (d2, cid) struct; callers project the
    * field they need.
    *
    * Since r12 this is the NATIVE codegen kernel
    * ([[graft.functions.NearestCentroid]]) — the HOF fold it replaces
    * evaluated interpreted and allocated per (row, centroid), costing
    * 152 s for the k=64 assignment over 2M vectors; the kernel is the
    * identical arithmetic JIT-compiled (bit-parity pinned in
    * NearestCentroidSpec against [[bestCentroidFold]]). */
  private[graft] def bestCentroid(v: Column, cs: Seq[(Int, Seq[Double])]): Column =
    graft.functions.NearestCentroid.nearest(v, cs)

  /** The original higher-order-function fold — kept as the
    * spec-side reference implementation the kernel must equal. */
  private[graft] def bestCentroidFold(v: Column, cs: Seq[(Int, Seq[Double])]): Column = {
    val centLit = array(cs.map { case (cid, vec) =>
      struct(lit(cid).as("cid"), array(vec.map(lit(_)): _*).as("c")) }: _*)
    aggregate(centLit,
      struct(lit(Double.MaxValue).as("d2"), lit(-1).as("cid")),
      (acc, ct) => {
        val d = dist2(v, ct.getField("c"))
        when(d < acc.getField("d2"),
          struct(d.as("d2"), ct.getField("cid").as("cid"))).otherwise(acc)
      })
  }

  /** Train k coarse IVF centroids on `base` (`vec_id`, `v` columns):
    * seeds are the k lowest vec_ids (6-dp rounded — the e40 seeding),
    * then ONE VectorCentroid recompute round (assign → re-center, the
    * e65b one-round discipline) so a DuckDB oracle can replay the
    * trajectory in one CTE chain. Returns the surviving (cid, centroid)
    * rows — a cell that lost every member drops out on both engines.
    * The k×dim collect is bounded by the model, never the data (the
    * e40 convention); a production k tracks √N — 64 here spans the
    * fixture decades while keeping the oracle's k-way cross join flat. */
  private[graft] def trainCoarseCentroids(base: DataFrame, k: Int): Seq[(Int, Seq[Double])] = {
    val seeds = base.orderBy("vec_id").limit(k)
      .select(col("vec_id").cast("int"), transform(col("v"), x => round(x, 6)))
      .collect().toSeq.map(r => (r.getInt(0), r.getSeq[Double](1)))
    base.withColumn("best", bestCentroid(col("v"), seeds))
      .groupBy(col("best").getField("cid").as("cluster"))
      .agg(graft.functions.VectorCentroid.centroid(col("v")).as("c"))
      .orderBy("cluster").collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
  }

  /** E40: k-means TRAINING iterations (Lloyd) — the coarse-quantizer
    * trainer that produces the IVF cells e2 consumes as a precomputed
    * `label`. e32 gates one centroid step; this key gates the full
    * assign→recompute loop, making the index-build path itself a
    * declared, oracle-checked result rather than an offline assumption.
    *
    * 100 TB path — the MLlib-KMeans shape, expressed in the DataFrame
    * API: the k current centroids (k × dim × 8 B — KB-sized BY
    * CONSTRUCTION, k is a model constant) are lifted into a LITERAL
    * array-of-structs column, so the assignment step is a pure map-side
    * fold over that literal: no join, no shuffle, one scan of the
    * vector table per iteration. The recompute step is the
    * [[graft.functions.VectorCentroid]] partial-agg UDAF — each
    * partition ships one (sums, n) buffer per cluster, clusters × dim ×
    * 8 B of shuffle regardless of row count. The only driver-side
    * materialization is the k-row centroid relation between iterations
    * (bounded by the model, never the data).
    *
    * Determinism contract: seeds are the k lowest vec_ids, and every
    * iterate (centroid values, per-row distances) is rounded to 6 dp
    * IN-PLAN before it feeds the next step, so engine and oracle run
    * the loop over identical doubles and ties in the argmin (rounded
    * d2, then cluster id ascending — the fold keeps the earlier
    * centroid on equality) break identically. Declared output: the
    * final centroids posexploded to scalar rows (the e32 r9 shape)
    * with each cluster's membership and inertia (mean rounded d2 of
    * the assignment that produced it). */
  def e40KmeansTrain(s: SparkSession, d: String): DataFrame =
    kmeansTrain(s, d, iters = 2)

  /** The e40 loop with the iteration count exposed for specs (the
    * declared key fixes iters=2; a spec checks the Lloyd objective is
    * non-increasing from iters=1 to iters=2). */
  private[graft] def kmeansTrain(s: SparkSession, d: String, iters: Int): DataFrame = {
    require(iters >= 1, s"kmeansTrain needs at least one iteration, got $iters")
    val k = 8
    val e = vectors(graft.Tables.spreadIfNarrow(embeddings(s, d), col("vec_id")))
      .select(col("vec_id"), col("v"))
    // map-side argmin over the literal centroids (shared with the
    // trained-index build): fold keeps the earlier (lower-cid)
    // centroid on a rounded-d2 tie
    def assign(cs: Seq[(Int, Seq[Double])]): DataFrame =
      e.withColumn("best", bestCentroid(col("v"), cs))
        .select(col("vec_id"), col("v"),
          col("best.cid").as("cluster"), col("best.d2").as("d2"))
    // seed: the k lowest vec_ids, rounded like every later iterate
    var cents: Seq[(Int, Seq[Double])] =
      e.where(col("vec_id") < k)
        .select(col("vec_id").cast("int"), transform(col("v"), x => round(x, 6)))
        .orderBy("vec_id").collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
    // VectorCentroid.finish already rounds the means to 6 dp — the
    // iterate that re-enters the loop is the same double the oracle's
    // round(avg, 6) produces
    for (_ <- 1 until iters)
      cents = assign(cents)
        .groupBy("cluster")
        .agg(graft.functions.VectorCentroid.centroid(col("v")).as("c"))
        .orderBy("cluster").collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
    // final pass: membership + inertia + the recomputed centroid, ONE
    // partial-agg'd aggregation; the explode runs on k rows
    assign(cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), round(avg(col("d2")), 6).as("inertia"),
        graft.functions.VectorCentroid.centroid(col("v")).as("c"))
      .select(col("cluster"), col("n_members"), col("inertia"),
        posexplode(col("c")).as(Seq("pos", "centroid_val")))
      .select("cluster", "pos", "centroid_val", "n_members", "inertia")
      .orderBy("cluster", "pos")
  }

  /** E46: embedding OUTLIER detection — per label (= cluster), vectors
    * whose squared distance to the label centroid exceeds mean + 2σ:
    * the noise/mislabel pruning step an embedding-curation pipeline
    * runs before the vectors train anything. Complements e34 (which
    * elects the BEST-centered vector; this counts the worst-centered
    * tail).
    *
    * 100 TB path: centroids come from the VectorCentroid partial-agg
    * UDAF and BROADCAST (labels ≪ corpus); distance scoring is
    * map-side; the per-label (mean, σ) relation is label-sized and
    * broadcasts back onto the scored rows, whose outlier count
    * partial-aggregates. The scored subtree runs twice (stats pass +
    * flag pass) — recompute-over-cache for a corpus-sized relation,
    * the opposite call from e38's doc-sized persisted scores.
    *
    * Determinism: d2, mean, σ all round to 6 dp before the threshold
    * compare, so both engines flag on the identical doubles; σ uses
    * the sample stddev with a 1-vector label coalesced to 0. */
  def e46EmbedOutliers(s: SparkSession, d: String): DataFrame = {
    val e = vectors(graft.Tables.spreadIfNarrow(embeddings(s, d), col("vec_id")))
    val cents = e.groupBy("label")
      .agg(graft.functions.VectorCentroid.centroid(col("v")).as("c"))
    val scored = e.join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"), dist2(col("v"), col("c")).as("d2"))
    val stats = scored.groupBy("label").agg(count(lit(1)).as("n_vecs"),
      round(avg("d2"), 6).as("mean_d2"),
      round(coalesce(stddev_samp(col("d2")), lit(0.0)), 6).as("std_d2"))
    scored.join(broadcast(stats), "label")
      .groupBy("label", "n_vecs", "mean_d2", "std_d2")
      .agg(sum(when(col("d2") > col("mean_d2") + lit(2.0) * col("std_d2"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_rate", round(col("n_outliers") / col("n_vecs"), 6))
      .select("label", "n_vecs", "mean_d2", "std_d2", "n_outliers", "outlier_rate")
      .orderBy("label")
  }

  /** e49: semantic decontamination — flag corpus vectors whose nearest
    * BENCHMARK vector by cosine clears an adaptive bar. Completes the
    * decontamination family along the third axis: e20 catches exact
    * n-gram overlap, e20b the same through a Bloom sketch, e49 catches
    * PARAPHRASED leakage that shares no surface n-grams — the reason
    * modern pipelines decontaminate in embedding space at all.
    *
    * The bar is the 99th percentile of the per-vector max-cosine
    * distribution rather than a fixed constant: this corpus's
    * max-cosines top out near 0.47, so any production-style 0.9+
    * threshold would declare a constant-zero key, and a hand-picked
    * absolute bar would silently drift across scales (the e30 lesson).
    * Exact `percentile` is used ONLY for bit-level oracle parity (the
    * e38/e17 stance) — the 100 TB swap is `percentile_approx`, same
    * plan otherwise.
    *
    * 100 TB path: the benchmark side is an EXTERNAL eval suite — fixed
    * size by nature (the e20 stance), which is why its fixture
    * membership rule is CAPPED at a bounded id range
    * (`vec_id % 97 = 0 AND vec_id < 100000`), not a corpus-
    * proportional slice: the first uncapped form measured 20.8× for
    * ×10 data at sfx10 because B grew with N and the O(N·B) scan went
    * quadratic — the exact failure the r7 tail bench caught in e20.
    * Capped, the suite broadcasts at constant size and scoring is a
    * map-side O(N·const) scan, the e31 shape. The per-vector
    * max partial-aggregates BEFORE its exchange (every bench candidate
    * for a vector is produced in that vector's own partition, so the
    * map-side combine collapses N·B rows to N); the label rollup and
    * 1-row p99 relation are label-/constant-sized. Nothing quadratic,
    * nothing driver-side.
    *
    * FUSED SCORING KERNEL (r10 verdict ask #2): linear was not enough —
    * at sfx100 the pair-at-a-time scan cost 224.6 s. The ask suggested
    * an IVF/ADC prefilter with exact rescore of a provable superset;
    * MEASURED on this corpus's geometry, bound pruning is vacuous —
    * with IVF-centroid angular bounds (cos(θ(x,c)−r_y), r_y = the
    * bench member's residual angle, K=32 cells, 5 Lloyd rounds) the
    * provable-superset survivor fraction is 98.8% at sfx100 and the
    * subspace Cauchy–Schwarz bound (M=8 subvector norms) keeps 100% —
    * near-uniform synthetic vectors leave no margin between any sound
    * upper bound (≈0.8–1.0) and the true max (mean 0.37), so an
    * exactness-preserving prefilter RESCORES EVERYTHING and only adds
    * passes (numbers in SCALE.md round 11). What actually dominates
    * the 224.6 s is not the 64-multiply cosine but the N·B PAIR ROWS —
    * join-row copies plus a hash-aggregate probe per pair. The fix
    * keeps exactness by removing the pairs instead of pruning them:
    * [[graft.functions.CosineMaxBench]] folds the bench loop inside
    * the row projection (bench is bounded by declaration and rides the
    * plan — the e65 literal-codebook stance), so scoring is ONE
    * map-side scan with zero pair rows and zero exchanges, bit-exact
    * to the pair form (round is monotone, so round(max raw) equals
    * max(round per pair); E49KernelSpec pins it against the
    * pair-at-a-time form, [[e49BruteMaxCos]]; SCALE.md's e49 table
    * records both forms' seconds per decade. */
  def e49SemanticDecon(s: SparkSession, d: String): DataFrame = {
    val e = vectors(graft.Tables.spreadIfNarrow(embeddings(s, d), col("vec_id")))
    val benchMember = col("vec_id") % 97 === 0 && col("vec_id") < 100000L
    val maxCos = e49FusedMaxCos(e, benchMember)
    val bar = maxCos.agg(
      round(expr("percentile(max_cos, 0.99)"), 6).as("p99"))
    maxCos.crossJoin(broadcast(bar))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("max_cos") >= col("p99"), 1L).otherwise(0L))
          .as("n_flagged"),
        round(avg("max_cos"), 6).as("mean_max_cos"),
        first(col("p99")).as("p99"))
      .select("label", "n_vecs", "n_flagged", "mean_max_cos", "p99")
      .orderBy("label")
  }

  /** The r10 pair-at-a-time max-cosine scan — every (vector, bench)
    * pair is a join row paying a full fused cosine plus aggregation
    * machinery. Kept as the semantics authority: E49KernelSpec pins
    * the fused-kernel path to these exact rows; SCALE.md's e49 table
    * records its seconds beside the kernel's. */
  private[graft] def e49BruteMaxCos(e: DataFrame, benchMember: Column): DataFrame = {
    val bench = e.where(benchMember)
      .select(col("vec_id").as("b_id"), col("v").as("bv"))
    e.where(!benchMember)
      .crossJoin(broadcast(bench))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(cosine(col("v"), col("bv"))).as("max_cos"))
  }

  /** Exact per-vector max cosine against the bench suite through the
    * fused [[graft.functions.CosineMaxBench]] kernel: collect the
    * BOUNDED bench (capped id range — ≤1031 rows by declaration, the
    * e40/e65 bounded-collect convention), bake it into one native
    * expression, and score the corpus in a single map-side projection.
    * No pair rows, no exchange before the label rollup; the 100 TB
    * form is identical with the bench as a broadcast variable. */
  private[graft] def e49FusedMaxCos(e: DataFrame, benchMember: Column): DataFrame = {
    val bench = e.where(benchMember)
      .select(col("vec_id"), col("v")).orderBy("vec_id")
      .collect() // bounded by the bench cap (vec_id < 100000, step 97)
      .map(_.getSeq[Double](1).toArray)
    e.where(!benchMember)
      .select(col("vec_id"), col("label"),
        round(graft.functions.CosineMaxBench.maxCosine(col("v"), bench), 6)
          .as("max_cos"))
  }

  /** E60: EDIT-DISTANCE CONFIRMATION of near-dup candidates — the
    * verify stage every fuzzy-dedup pipeline runs after its cheap
    * signature pass: block candidates on a deterministic key, prune
    * with the length lower bound, then score the survivors with true
    * Levenshtein distance. Sketch families (e6/e7/e8) approximate SET
    * similarity; edit distance is the SEQUENCE measure that tells a
    * reordered paraphrase from a genuine revision, and it is far too
    * expensive to run all-pairs — the entire design is about how few
    * pairs reach it.
    *
    * Stages, all deterministic on both engines:
    *  1. block on the first 3 tokens (prefix blocking — revisions
    *     almost never edit the opening words; 28 candidate pairs at
    *     sf0.01, 674 at sf0.1, max block 4);
    *  2. cap blocks at 32 docs (the e6/e8 posting-cap stance: a
    *     degenerate prefix — boilerplate headers — would otherwise
    *     make one block quadratic; the cap is applied identically in
    *     the oracle, so the output stays bit-comparable);
    *  3. prune pairs whose lengths differ by more than 40% of the
    *     longer side — the classic bound |la−lb| ≤ lev makes
    *     sim = 1 − lev/max < 0.6 for every such pair, so the prune is
    *     exactly SOUND for the 0.6 bar (a fixed byte bound would not
    *     be: a 400-char pair 41 edits apart sits at sim 0.9). Written
    *     as 5·|la−lb| ≤ 2·max — pure integer arithmetic, no
    *     float-boundary drift between engines;
    *  4. Levenshtein on the whitespace-collapsed text TRUNCATED to 400
    *     chars (the production cost bound: per-pair work is O(400²)
    *     CONSTANT, not O(doc²); a 100 TB corpus changes pair count,
    *     never per-pair cost). Similarity = 1 − lev/max(la', lb') on
    *     the truncated lengths, 6 dp, confirmed at ≥ 0.6.
    *
    * Emits every blocked-and-pruned pair WITH its score and verdict
    * (not only confirmations), so the gate also pins the candidate
    * set and the prune itself, and stays non-degenerate at fixture
    * scales where true revisions are rare.
    *
    * 100 TB path: one corpus-keyed exchange (the block-key self-join,
    * same shape as e8's posting join), block sizes capped so the join
    * output is linear in blocks; the quadratic-cost scorer touches
    * only joined survivors; text ships truncated (≤400 B a side). */
  def e60EditConfirm(s: SparkSession, d: String): DataFrame = {
    val maxBlock = 32
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val base = graft.Tables.spreadIfNarrow(documents(s, d), col("doc_id"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(tokensArr, 1, 3))).as("blk"),
        substring(norm, 1, 400).as("t"))
      .withColumn("len", length(col("t")))
      // an all-whitespace doc normalizes to "" (len 0): nothing to
      // score, and it would poison the similarity with a 0/0 — drop it
      // before blocking (both engines)
      .where(col("len") > 0)
    val ok = base.groupBy("blk").agg(count(lit(1)).as("n_blk"))
      .where(col("n_blk") <= maxBlock && col("n_blk") >= 2)
    val side = base.join(ok, "blk")
    val a = side.select(col("blk"), col("doc_id").as("a_id"),
      col("t").as("ta"), col("len").as("la"))
    val b = side.select(col("blk"), col("doc_id").as("b_id"),
      col("t").as("tb"), col("len").as("lb"))
    a.join(b, Seq("blk"))
      .where(col("a_id") < col("b_id") &&
        abs(col("la") - col("lb")) * 5 <= greatest(col("la"), col("lb")) * 2)
      .withColumn("lev", levenshtein(col("ta"), col("tb")))
      .withColumn("sim", round(
        lit(1.0) - col("lev") / greatest(col("la"), col("lb")), 6))
      .withColumn("confirmed", (col("sim") >= 0.6).cast("long"))
      .select("a_id", "b_id", "la", "lb", "lev", "sim", "confirmed")
      .orderBy("a_id", "b_id")
  }

  /** E65: PRODUCT-QUANTIZED ANN (asymmetric distance) — the compression
    * rung the dense family was missing: e31's scalar int8 shrinks the
    * index 4×; PQ with M=4 subspaces × k=4 codes stores ONE BYTE per
    * subspace (codes, not components) — dim×4 bytes → M bytes, a 64×
    * reduction at dim 64 — and ranks by table-lookup distance without
    * ever reconstructing a vector.
    *
    * Codebooks here are externally supplied (the subspace slices of
    * seed vectors 0..3, 6-dp rounded — codebook TRAINING is e40's Lloyd
    * loop, already oracle-gated; this key pins the other two PQ verbs
    * exactly: ENCODE and ADC):
    *
    *  - encode: per subspace m, code = argmin over the k codewords of
    *    ‖v_m − c_m[j]‖² (6-dp rounded, ties to the lowest j — the e40
    *    argmin discipline), i.e. one map-side pass, no shuffle;
    *  - ADC: for query q, approx d²(q, x) = Σ_m ‖q_m − c_m[code_m(x)]‖²
    *    — in production a per-query M×k lookup table; in-plan here as a
    *    k-way `when` chain per subspace over the SAME literal codewords,
    *    all inside whole-stage codegen;
    *  - the exact d² ships beside the approximation (the e31/e2r gating
    *    stance: never assume an approximation, measure it in-plan — and
    *    the oracle recomputes BOTH, so drift in either is a hash miss).
    *
    * 100 TB path: codewords are plan literals (M·k·(dim/M) doubles —
    * broadcast-free broadcast), encoding and scoring are map-side over
    * one scan of the vector table, and the per-query top-5 plans as the
    * bounded WindowGroupLimit (e2's shape). The ADC lookup beats the
    * full-dim float scan by reading M bytes + M adds per candidate —
    * the reason PQ indexes hold at billions of vectors. */
  def e65PqAnn(s: SparkSession, d: String): DataFrame = {
    val mSub = 4; val kCodes = 4
    // stage-spread like the e65b twin (the single-split stall cost e65
    // 111.7 s vs e65b's 32.9 s at sfx100 on identical tail work)
    val e = vectors(graft.Tables.spreadIfNarrow(embeddings(s, d), col("vec_id")))
      .select(col("vec_id"), col("v"))
    val dim = 64; val w = dim / mSub
    // seed codebooks: 6-dp rounded subspace slices of vecs 0..3 — k
    // rows collected (bounded by declaration, the e40 convention);
    // the shared [[e65TailWith]] runs encode/ADC/exact (query set
    // 10..12 — disjoint from the seeds: a seed query's ADC to
    // same-coded candidates is exactly 0, degenerate ranking)
    val seeds = e.where(col("vec_id") < kCodes)
      .select(col("vec_id").cast("int").as("cid"), col("v"))
      .collect()
      .map(r => r.getInt(0) ->
        r.getSeq[Double](1).map(x =>
          BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble).toArray)
      .toMap
    val cb = (0 until mSub).flatMap(m => (0 until kCodes).map(j =>
      (m, j, seeds(j).slice(m * w, m * w + w))))
    e65TailWith(e, cb, mSub, w)
  }

  /** E65b: PQ ANN with TRAINED codebooks — the e40 → e65 chaining the
    * r10 verdict asked for. e65 pins ENCODE and ADC under externally
    * supplied codebooks (seed slices); production PQ trains each
    * subspace's codewords with Lloyd — exactly the loop e40 already
    * gates, here run PER SUBSPACE: assign every subvector to its
    * nearest codeword (the e65 encode under the current books), then
    * recompute each (m, code) codeword as the member centroid (the
    * VectorCentroid partial-agg UDAF — M·k·(dim/M) doubles of driver
    * state per round, bounded by the model like e40's k rows). One
    * recompute round (the e40 iters=2 discipline), every iterate
    * 6-dp rounded in-plan, ties to the lowest code — so the DuckDB
    * oracle replays the identical training trajectory and the
    * declared ENCODE/ADC/exact output is gated end-to-end, training
    * included. Codes that lose all members drop out of the book on
    * both engines (the e40 empty-cluster convention).
    *
    * PqAnnSpec measures what the training BUYS beside e2r's recall
    * rows: trained ADC must approximate exact distances no worse than
    * the seed books (mean |adc − exact| strictly drops — Lloyd
    * minimizes exactly that assignment error).
    *
    * 100 TB path: e65's (scan-bound encode, literal books, bounded
    * WindowGroupLimit top-k) plus one extra corpus scan per training
    * round with a M·k-row partial-agg exchange — the index-BUILD cost.
    * Since r12 that cost is ACTUALLY paid once: the trained books
    * persist under [[ensurePqBooks]]'s staleness signature (the e2v
    * build/serve split), so the declared key's timed path is the
    * encode/ADC/exact tail alone — e65's cost profile with trained
    * books swapped in. */
  def e65bPqTrainedAnn(s: SparkSession, d: String): DataFrame = {
    val mSub = 4
    val dim = 64; val w = dim / mSub
    val e = vectors(graft.Tables.spreadIfNarrow(embeddings(s, d), col("vec_id")))
      .select(col("vec_id"), col("v"))
    e65TailWith(e, ensurePqBooks(s, d), mSub, w)
  }

  private def pqBooksDir(d: String): String =
    graft.util.PathKeys.fixtureDir("pq_books", d)

  /** e65b's TRAINED codebooks, persisted under the suite-wide `ensure`
    * staleness contract (r11 verdict ask #6 — the e2v build/serve
    * split applied to PQ): the one-round-Lloyd training scans run ONCE
    * per source state and land as an M·k-row parquet; every later
    * invocation of the declared key reads the books (bounded by the
    * model) and pays only the encode/ADC/exact tail — the cost profile
    * a served PQ index actually has, with the oracle still replaying
    * the training trajectory so a stale or drifted book is a hash
    * miss. */
  private[graft] def ensurePqBooks(s: SparkSession, d: String): Seq[(Int, Int, Array[Double])] = {
    import java.nio.file.Paths
    val mSub = 4; val kCodes = 4
    val dim = 64
    val root = pqBooksDir(d)
    // a rebuild keeps its trained books; a fresh root reads them back
    var trained = Option.empty[Seq[(Int, Int, Array[Double])]]
    graft.util.Staged.ensure(Paths.get(root), graft.util.Staged.sourceSig(
        Paths.get(d, "embeddings.parquet"), s"pq1:m=$mSub:k=$kCodes:")) {
      val e = vectors(graft.Tables.spreadIfNarrow(embeddings(s, d), col("vec_id")))
        .select(col("vec_id"), col("v"))
      val books = trainPqBooks(s, e, mSub, kCodes, dim)
      import s.implicits._
      books.map(t => (t._1, t._2, t._3.toSeq)).toDF("m", "j", "cw")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/books")
      trained = Some(books)
    }
    trained.getOrElse(s.read.parquet(s"$root/books")
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(t => (t._1, t._2)))
  }

  /** The shared PQ codebook TRAINER — e65b's one-Lloyd-round
    * trajectory, parameterized in (M, k, dim) so the composed IVF-PQ
    * layout ([[graft.sources.IvfServe]], r12 verdict ask #1) trains
    * its per-cell codes with the identical discipline:
    *
    *  - seeds: the kCodes LOWEST-vec_id rows' 6-dp rounded subspace
    *    slices, codeword id = seed RANK (on the dense fixture ids this
    *    EQUALS vec_id, so e65b's oracle predicate `vec_id < k` replays
    *    the same seed set; rank keeps the ids dense 0..k-1 when the
    *    training base starts above 0 — the e2f fold base);
    *  - ONE assign → re-center round per subspace: assignment runs on
    *    the [[graft.functions.NearestCentroid]] kernel (bit-parity
    *    with the HOF reduceLeft fold it replaced is pinned in
    *    NearestCentroidSpec — identical 6-dp round, identical
    *    earlier-j-wins tie), re-centering is the VectorCentroid
    *    partial agg — M·k rows of driver state, bounded by the model;
    *  - a codeword that loses every member DROPS OUT (the e40
    *    empty-cluster convention) — and can then never appear as a
    *    stored code, because encode argmins over survivors only. */
  private[graft] def trainPqBooks(s: SparkSession, base: DataFrame,
      mSub: Int, kCodes: Int, dim: Int): Seq[(Int, Int, Array[Double])] = {
    val w = dim / mSub
    def encode(cb: Seq[(Int, Int, Array[Double])], vec: Column, m: Int): Column =
      graft.functions.NearestCentroid.nearest(slice(vec, m * w + 1, w),
        cb.filter(_._1 == m).sortBy(_._2).map { case (_, j, cw) => (j, cw.toSeq) })
        .getField("cid")
    val seeds: Seq[(Int, Int, Array[Double])] =
      base.orderBy("vec_id").limit(kCodes)
        .select(col("vec_id"), transform(col("v"), x => round(x, 6)).as("rv"))
        .collect().toSeq.zipWithIndex
        .flatMap { case (r, j) =>
          val full = r.getSeq[Double](1).toArray
          (0 until mSub).map(m => (m, j, full.slice(m * w, m * w + w)))
        }.sortBy(t => (t._1, t._2))
    base
      .select((col("vec_id") +: col("v") +:
        (0 until mSub).map(m => encode(seeds, col("v"), m).as(s"c$m"))): _*)
      .select(explode(array((0 until mSub).map(m =>
        struct(lit(m).as("m"), col(s"c$m").as("j"),
          slice(col("v"), m * w + 1, w).as("sl"))): _*)).as("x"))
      .select(col("x.m").as("m"), col("x.j").as("j"), col("x.sl").as("sl"))
      .groupBy("m", "j")
      .agg(graft.functions.VectorCentroid.centroid(col("sl")).as("cw"))
      .orderBy("m", "j").collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
  }

  /** e65's declared tail — encode the corpus, ADC + exact for the
    * 10..12 query set, top-5 — parameterized by the codebooks so the
    * seed (e65) and trained (e65b) keys state one semantics.
    *
    * Since r12 the tail is CODEGEN end to end (the HOF form cost 33 s
    * at sfx100 — ~67 interpreted zip_with folds per row):
    *
    *  - ENCODE: the [[graft.functions.NearestCentroid]] kernel over
    *    the subspace slice — identical fold, identical 6-dp round,
    *    identical earlier-j-wins tie (the kernel's strict-< in input
    *    order vs the old reduceLeft's keep-a-unless-strictly-less);
    *  - ADC: the queries are COLLECTED (3 rows, bounded by
    *    declaration — the e40 convention) and the per-(query, m, j)
    *    ‖q_m − c_m[j]‖² values precompute driver-side with the same
    *    fold order and BigDecimal HALF_UP round, so the in-plan ADC
    *    is a literal when-chain on the stored code — the M×k LOOKUP
    *    TABLE production PQ actually builds per query;
    *  - EXACT: the same kernel with the query as a one-centroid set
    *    ((v−q)² ≡ (q−v)², same index order, same round);
    *  - the 3-query fan-out is a per-row explode of 3 literal-struct
    *    results instead of a crossJoin (one corpus pass either way,
    *    no join-row machinery).
    *
    * Every replaced expression is value-identical by construction, so
    * both keys keep their oracles verbatim (re-verified at sf0.01 and
    * sf1a); PqAnnSpec's independent plain-Scala recompute also pins
    * the rows. */
  private def e65TailWith(e: DataFrame, cb: Seq[(Int, Int, Array[Double])],
      mSub: Int, w: Int): DataFrame = {
    def bookOf(m: Int): Seq[(Int, Seq[Double])] =
      cb.filter(_._1 == m).sortBy(_._2).map { case (_, j, cw) => (j, cw.toSeq) }
    def encode(vec: Column, m: Int): Column =
      graft.functions.NearestCentroid
        .nearest(slice(vec, m * w + 1, w), bookOf(m)).getField("cid")
    val coded = e.select(
      (col("vec_id") +: col("v") +:
        (0 until mSub).map(m => encode(col("v"), m).as(s"c$m"))): _*)
    val qRows = e.where(col("vec_id") >= 10 && col("vec_id") < 13)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def r6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def subD2Const(qv: Array[Double], m: Int, cw: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < w) { val d = qv(m * w + i) - cw(i); acc += d * d; i += 1 }
      r6(acc)
    }
    val qStructs = array(qRows.map { case (qid, qv) =>
      def adcSub(m: Int): Column =
        bookOf(m).map { case (j, cw) =>
          when(col(s"c$m") === j, lit(subD2Const(qv, m, cw))) }
          .reduceRight((a, b) => a.otherwise(b))
      struct(lit(qid).as("q_id"),
        round((0 until mSub).map(adcSub).reduceLeft(_ + _), 6).as("adc_d2"),
        graft.functions.NearestCentroid.nearest(col("v"), Seq((0, qv.toSeq)))
          .getField("d2").as("exact_d2"))
    }.toIndexedSeq: _*)
    val scored = coded
      .select(col("vec_id").as("cand_id"), explode(qStructs).as("qs"))
      .where(col("cand_id") =!= col("qs.q_id"))
      .select(col("qs.q_id").as("q_id"), col("cand_id"),
        col("qs.adc_d2").as("adc_d2"), col("qs.exact_d2").as("exact_d2"))
    val win = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_d2"), col("cand_id"))
    scored.withColumn("rank", row_number().over(win))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("cand_id"),
        col("adc_d2"), col("exact_d2"))
      .orderBy("q_id", "rank")
  }
}
