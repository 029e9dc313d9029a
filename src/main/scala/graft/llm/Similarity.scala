package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryCaches
import graft.Tables._

/** Similarity search over the `embeddings` table (vec_id,
  * embedding: Array[Float] (64-dim), label).
  *
  * Cosine similarity is a sequential left-fold dot product in double
  * precision via the custom codegen'd [[graft.functions.DotProduct]]
  * expression. A left fold is order-deterministic, which is what makes
  * the result bit-identical to the DuckDB oracle's
  * `list_sum(list_transform(list_zip(…)))` (verified: both equal a
  * float64 sequential fold). No UDFs — everything stays codegen'd.
  *
  * Scale design (100 TB):
  *  - Top-k: the query set is small by definition → `broadcast(q)`, so
  *    the corpus scan never shuffles; per-partition partial top-k via
  *    the window is the brute-force baseline.
  *  - IVF variant: search only the query's coarse partition (here the
  *    `label` bucket) via a hash equi-join on the bucket key — the
  *    partition-pruned ANN pattern; at scale the bucket key comes from
  *    a trained coarse quantizer, the join shape is identical.
  *  - Pair mining (sCosinePairs) is EXACT all-pairs work by contract,
  *    and this corpus's pair-cosine distribution is continuous through
  *    the 0.4 threshold (measured: pairs at 0.40005, 0.40009, … — no
  *    gap), so a signature/LSH candidate stage has recall < 1 against
  *    the exact oracle and would silently drop threshold-sitting pairs.
  *    The scale shape is therefore the grid-partitioned (1-bucket)
  *    theta-join: an equi-join on deterministic cell keys where every
  *    pair meets exactly once — no CartesianProduct node, no broadcast
  *    of a fact-scale side, per-cell work bounded by (n/P)². When a
  *    corpus HAS near-dup structure (a distribution gap), the banded
  *    LSH stage from [[Dedup]] slots in front of the same verify.
  */
object Similarity {

  /** Cast to double once, precompute the L2 norm once per vector.
    * `dot_product` is the codegen'd [[graft.functions.DotProduct]] —
    * bit-identical to the `aggregate(zip_with(...))` fold but native. */
  private[llm] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("nrm", sqrt(expr("dot_product(emb, emb)")))

  private def dot(a: String, b: String) = expr(s"dot_product($a, $b)")

  /** The materialized (vec_id, emb, nrm) corpus every trainer/search
    * path starts from — localCheckpoint'd because 2+ consumers
    * (trainer, encode, rerank) each re-read it. WIDENED first when the
    * scan is narrower than the session's parallelism (r17, guide §2.5
    * input skew / §6 split sizing): a byte-small embeddings table scans
    * as one split, the checkpoint inherits that one partition, and
    * every downstream trainer aggregation / encode map / rerank join —
    * CPU work, not byte work — serializes on one core (profiled: the
    * whole IVFADC warm pass ran n=1 stages, 4.7 s of single-task job
    * wall). At production scale the scan has ≥ cores splits and the
    * guard makes this the identity — no shuffle is added. Results are
    * partitioning-independent by design (integer-quantized trainer
    * sums, total-order windows), which the gate hashes re-verify. */
  private[llm] def checkpointedCorpus(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.Tables.FanoutOps
    // the adaptive width guard this helper carried in r17 now lives in
    // FanoutOps.fanout itself (r18, VERDICT r17 #8): identity when the
    // scan already has >= shuffle.partitions splits, explicit-N
    // repartition when it is narrower
    withNorm(embeddings(spark, dir))
      .select(col("vec_id"), col("emb"), col("nrm"))
      .fanout(col("vec_id"))
      .localCheckpoint()
  }

  /** Brute-force cosine top-k for a query set (vec_id < nQueries)
    * against the whole corpus — the exact baseline ANN is judged
    * against. Broadcast the queries; rank with a per-query window. */
  def sCosineTopk(spark: SparkSession, dir: String,
                  k: Int = 10, nQueries: Int = 10): DataFrame = {
    val e = withNorm(embeddings(spark, dir)).select("vec_id", "emb", "nrm")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = broadcast(q).crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dot("q_emb", "emb") / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** SEMANTIC DECONTAMINATION — embedding-cosine leakage of an eval
    * probe set into the training corpus: per probe, how many corpus
    * vectors sit at cosine ≥ threshold, and the worst offender. The
    * embedding-modality twin of the n-gram
    * [[graft.llm.TextAnalysis.tDecontaminate]] — paraphrased or
    * lightly-reworded benchmark items share no 8-gram with the eval
    * text but DO sit close in embedding space, which is exactly the
    * leakage the SemDeDup-style curation literature screens for before
    * training.
    *
    * Shape at 100 TB: the eval set is bounded by definition (it is a
    * benchmark), so it broadcasts; the corpus is scanned ONCE with a
    * codegen'd fold per (probe, vector); the only shuffle is the
    * nProbes-key aggregation. Worst-offender attribution is the house
    * argMax discipline (`max(struct(cosine, −vec_id))` — ties resolve
    * to the smallest vec_id, the oracle's `ORDER BY cosine DESC,
    * vec_id` rank-1 row). Probes with NO leak keep a 0-count row (left
    * join back to the probe set), so the report is always
    * nProbes-long and a clean corpus is visible, not vacuous. The
    * threshold sits at the corpus's measured 0.4 near-dup line
    * ([[sCosinePairs]]); fold and division are bit-identical
    * cross-engine, so the ≥ cut cannot flake. */
  def sDecontaminate(spark: SparkSession, dir: String,
      nProbes: Int = 32, threshold: Double = 0.4): DataFrame =
    decontaminateRel(
      withNorm(embeddings(spark, dir)).select("vec_id", "emb", "nrm"),
      nProbes, threshold)

  /** The census body of [[sDecontaminate]] over ANY normalized corpus
    * relation (vec_id, emb, nrm) — shared by the batch query and the
    * streamed-index twin
    * ([[graft.streaming.StreamingAnnIndex.sStreamDecontaminate]]), so
    * continuous decontamination over the accumulated index cannot
    * drift from the snapshot report. */
  private[graft] def decontaminateRel(e: DataFrame, nProbes: Int,
      threshold: Double): DataFrame = {
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val hits = broadcast(probes).crossJoin(e)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine",
        dot("q_emb", "emb") / (col("q_nrm") * col("nrm")))
      .filter(col("cosine") >= threshold)
    val perProbe = hits.groupBy(col("probe_id"))
      .agg(
        count(lit(1)).as("n_leaked"),
        max(struct(col("cosine"), (-col("vec_id")).as("nid"))).as("top"))
    probes.select(col("probe_id"))
      .join(perProbe, Seq("probe_id"), "left")
      .select(
        col("probe_id"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        (-col("top.nid")).as("top_vec_id"),
        col("top.cosine").as("top_cosine"))
      .orderBy(col("probe_id"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    * cosine ≥ threshold — EXACT (recall 1 by construction, any input
    * distribution).
    *
    * Shape: grid-partitioned self-join. Each vector gets a
    * deterministic cell coordinate g = vec_id % P; the left side is
    * replicated to cells (g, *), the right side to cells (*, g), and
    * the equi-join on the (cell_a, cell_b) pair brings every vector
    * pair together in EXACTLY ONE cell — the ordered pair (x, y) meets
    * at (x.g, y.g) only, so `vec_a < vec_b` both dedups and halves the
    * verify. This is a shuffle hash/sort-merge join on P² bounded
    * cells: no CartesianProduct node, no broadcast of the corpus, each
    * task's work capped at (n/P)² dot products with P sized so a cell
    * fits an executor. Replication cost is P× the (id, emb) pairs —
    * at 100 TB pick P ≈ n·vecBytes / targetCellBytes and let AQE
    * coalesce the small cells. */
  def sCosinePairs(spark: SparkSession, dir: String,
                   threshold: Double = 0.4, gridP: Int = 8): DataFrame =
    gridPairsAbove(withNorm(embeddings(spark, dir)), threshold, gridP)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Grid-partitioned exact pair mining over any normalized relation
    * carrying (vec_id, emb, nrm) — the self-join core of
    * [[sCosinePairs]], reused by [[sEmbedDedup]]. Unordered. */
  private def gridPairsAbove(norm: DataFrame, threshold: Double,
                             gridP: Int): DataFrame = {
    import graft.Tables.FanoutOps
    val e = norm.select(col("vec_id"), col("emb"), col("nrm"),
      pmod(col("vec_id"), lit(gridP)).cast("int").as("g"))
    // The streamed probe side is fanned out by cell pair (r17, guide
    // §2.5 "input skew"): a byte-small embeddings table scans as 1-2
    // splits, the planner broadcasts the build side, and the (n/P)²
    // dot-product verify — the query's whole cost — inherits the scan's
    // 2-task parallelism (profiled 2.3 s span / 3.4 s task time on 2
    // tasks at sf0.1). Hashing the P² cell pairs over shuffle.partitions
    // tasks is the partitioning the grid contract promises; at real
    // scale an SMJ would pay this exact exchange anyway, and fanout's
    // explicit N keeps AQE from coalescing the byte-small/CPU-heavy
    // shuffle back to one task. Measured 3.79 → 1.56 s warm.
    val a = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"), col("g").as("cell_a"),
      explode(expr(s"sequence(0, ${gridP - 1})")).as("cell_b"))
      .fanout(col("cell_a"), col("cell_b"))
    val b = e.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"), col("g").as("cell_b"),
      explode(expr(s"sequence(0, ${gridP - 1})")).as("cell_a"))
    a.join(b, Seq("cell_a", "cell_b"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Embedding-cosine near-duplicate DEDUP — the removal policy on top
    * of pair mining, closing the dedup family the brief lists
    * (exact / MinHash / SimHash / n-gram / embedding-cosine).
    *
    * Input models the at-least-once re-insert (as
    * [[Dedup.dExactDedup]]): the embeddings table unioned with a
    * shifted-id copy, so every vector has one exact twin at cosine 1.
    * Any pair at cosine ≥ threshold marks the larger id as a duplicate;
    * survivors report how many near-dups they absorbed. The 0.95
    * threshold sits far above this corpus's max cross-pair cosine
    * (measured 0.513), so survivors = the original ids, each absorbing
    * exactly its twin — which the exact all-pairs DuckDB oracle
    * verifies.
    *
    * Scale shape: the same grid self-join as [[sCosinePairs]] (exact,
    * no CartesianProduct, cell work bounded at (n/P)²) + one small
    * aggregation of the pair list + an anti-join. */
  def sEmbedDedup(spark: SparkSession, dir: String,
                  threshold: Double = 0.95, gridP: Int = 8): DataFrame = {
    val base = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val corpus = base.unionByName(
      base.withColumn("vec_id", col("vec_id") + lit(100000L)))
    // pair grid + survivor join read norm; absorbed + anti-join read pairs
    // (tracked cache contract — released by the materializer)
    val norm = QueryCaches.persistTracked(withNorm(corpus))
    val pairs = QueryCaches.persistTracked(gridPairsAbove(norm, threshold, gridP))
    val absorbed = pairs.groupBy(col("vec_a").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"))
    norm.select(col("vec_id"), col("label"))
      .join(pairs.select(col("vec_b").as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      .join(absorbed, Seq("vec_id"), "left")
      .withColumn("n_dups", coalesce(col("n_dups"), lit(0L)))
      .orderBy(col("vec_id"))
  }

  /** TRAINED coarse quantizer: deterministic Lloyd k-means over the
    * corpus (spherical — assignment by max cosine). The full IVF
    * training path, shaped for scale:
    *
    *  - centroids live on the DRIVER (k·d doubles — tiny) and reach
    *    executors as literal arrays inside codegen'd `dot_product`
    *    expressions: each iteration is one narrow map + one partial
    *    aggregation over the corpus, NO shuffle of vectors, no UDF;
    *  - deterministic by construction: seeds are the k lowest vec_ids,
    *    a fixed iteration count, and array_position's first-max
    *    tie-break — reruns partition identically (no Math.random
    *    k-means++ seeding);
    *  - the Lloyd UPDATE is a QUANTIZED mean: per dimension it sums
    *    `floor(x · 2²⁰)` as exact int64 and divides once at the end.
    *    Integer sums are order-INDEPENDENT, so — unlike a floating
    *    `avg()`, whose partition-merge order perturbs the last ulp —
    *    the trained centroids are bit-identical across partitionings,
    *    cluster sizes, AND engines (the DuckDB oracle replays the same
    *    two iterations as CTEs and lands on the same bits). The ~1e-6
    *    quantization of the update step is noise relative to Lloyd's
    *    own convergence tolerance;
    *  - empty cells keep their previous centroid.
    *
    * `df` must carry `emb` (array<double>) and `nrm` ([[withNorm]]). */
  def kmeansCentroids(df: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = df
      .orderBy(col("vec_id")).limit(k)
      .select(col("emb")).collect()
      .map(_.getSeq[Double](0).toArray)
    val d = centroids.head.length
    val scale = 1048576.0 // 2^20: x·2^20 is exact for float-sourced doubles
    (0 until iters).foreach { _ =>
      val aggs = count(lit(1)).as("cnt") +: (0 until d).map(i =>
        sum(floor(element_at(col("emb"), i + 1) * scale)).as(s"m$i"))
      val means = withCell(df, centroids)
        .groupBy(col("cell"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val cnt = r.getLong(1).toDouble
          r.getInt(0) -> (0 until d)
            .map(i => r.getLong(i + 2).toDouble / (cnt * scale)).toArray
        }
        .toMap
      centroids = centroids.indices
        .map(c => means.getOrElse(c, centroids(c))).toArray
    }
    centroids
  }

  /** `dot_product` with Column arguments — resolves the same
    * registered [[graft.functions.DotProduct]] the `expr(...)` call
    * sites use, but composes with lambda variables and [[typedLit]]
    * constants, which plain `expr` strings cannot capture. */
  private def dotc(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("dot_product", a, b)

  /** The k-element centroid cosine-score array `__sc` — the
    * scaffolding SHARED by [[withCell]] (argmax assignment) and
    * [[withProbeCells]] (top-nprobe fan-out), so the "probe rank 1 ==
    * single-probe assignment" invariant is structural rather than
    * parallel-maintained.
    *
    * The centroid set rides in as ONE `typedLit` array<array<double>>
    * constant (likewise the driver-computed centroid norms — cosine
    * ranking divides by the centroid norm only; the row norm is
    * constant across centroids) and the k scores come from a
    * `transform` over it. Constants of array type reach generated code
    * as REFERENCE OBJECTS, not source text, so the compiled code is
    * byte-identical across Lloyd iterations and across reruns with
    * retrained centroids — one Janino compile, then cache hits. The
    * previous shape (k unrolled `dot_product(emb, array(<128
    * literals>))` columns) recompiled a centroid-specific kilobytes-
    * large method per iteration and per run, which under the
    * bounded codegen cache of a many-query session (the full bench)
    * recompiled every time: measured 6.0 s warm in the r9 bench vs
    * 1.3 s isolated for `s_ann_kmeans` — pure compile thrash.
    * Per-element evaluation uses [[graft.functions.DotProduct]]'s
    * interpreted eval, bit-identical to its codegen by construction. */
  private def withScoreArray(df: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    val cents = typedLit(centroids.map(_.toIndexedSeq).toIndexedSeq)
    val norms = typedLit(centroids.map(c =>
      math.sqrt(c.map(x => x * x).sum)).toIndexedSeq)
    df.withColumn("__sc",
      transform(sequence(lit(0), lit(centroids.length - 1)),
        i => dotc(col("emb"), element_at(cents, i + lit(1))) /
          element_at(norms, i + lit(1))))
  }

  private def dropScores(df: DataFrame): DataFrame = df.drop("__sc")

  /** THE argmax-cell expression over a `__sc` score array (first-max
    * tie-break via array_position) — one definition for every consumer
    * so assignment semantics cannot drift. */
  private def argmaxCellCol: org.apache.spark.sql.Column =
    (expr("array_position(__sc, array_max(__sc))") - 1L).cast("int")

  /** Assign each vector to its max-cosine centroid. */
  private def withCell(df: DataFrame,
      centroids: Array[Array[Double]]): DataFrame =
    dropScores(withScoreArray(df, centroids)
      .withColumn("cell", argmaxCellCol))

  /** INDEX-SIDE boundary replication (VERDICT r15 #6): assign a vector
    * to its best cell, PLUS its second-best cell when the true-cosine
    * margin `cos₁ − cos₂ < eps` — the classic multi-assignment cure
    * for the IVF Voronoi-boundary recall tail, at a bounded,
    * margin-proportional index-size cost (measured +1.1% rows at
    * eps 0.01 on the 200k sweep corpus). NOTE the honest r16 finding:
    * on THAT corpus the residual 0.005 recall loss turned out NOT to
    * be a boundary case — pair-level diagnosis (the TailDiag tool,
    * removed; kept in commit 58ab0d2) showed the missed near-twin deep
    * inside its cell (margin 0.46) with the cell the query's FIRST
    * probe, i.e. an ADC-ranking miss that nCand = 16·k closes at
    * single assignment. Replication is the right tool when the
    * diagnosis IS a probe-unreached boundary cell; diagnose the pair
    * before reaching for either dial. `eps ≤ 0` is EXACTLY
    * [[withCell]] — one row per vector, same plan — so every pinned
    * gate row is untouched.
    *
    * The margin divides by the row norm (`nrm` must be present):
    * `__sc` is dot/‖c‖, so the difference scales with ‖v‖ and a raw
    * threshold would replicate long vectors preferentially; dividing
    * by ‖v‖ makes eps a scale-free cosine gap. Requires the centroid
    * norms too — they ride in `__sc` already. Sort is the same
    * (score desc, idx asc) total order as [[withProbeCells]], so
    * replica 1 is exactly the [[withCell]] assignment. */
  private def withCellMulti(df: DataFrame,
      centroids: Array[Array[Double]], eps: Double): DataFrame =
    if (eps <= 0) withCell(df, centroids)
    else dropScores(withScoreArray(df, centroids)
      .withColumn("__t2", expr(
        """slice(array_sort(
          |    transform(__sc, (s, i) -> named_struct('sc', s, 'idx', i)),
          |    (l, r) -> CASE WHEN l.sc > r.sc THEN -1
          |                   WHEN l.sc < r.sc THEN 1
          |                   ELSE l.idx - r.idx END),
          |  1, 2)""".stripMargin))
      .withColumn("cell", explode(expr(
        s"""CASE WHEN size(__t2) > 1
           |       AND (__t2[0].sc - __t2[1].sc) / nrm < $eps
           |     THEN array(__t2[0].idx, __t2[1].idx)
           |     ELSE array(__t2[0].idx) END""".stripMargin).cast("array<int>")))
      .drop("__t2"))

  /** One row per (vector, probe): the `nprobe` nearest cells by cosine,
    * ranked score DESC then cell ASC — rank 1 is exactly [[withCell]]'s
    * first-max assignment (same `__sc` array by construction), so
    * single-probe semantics are a strict subset. Probe cells are
    * distinct by construction, so a corpus vector (one cell) can never
    * reach the same query twice. */
  private def withProbeCells(df: DataFrame,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame =
    dropScores(withScoreArray(df, centroids)
      .withColumn("cell", explode(expr(
        s"""transform(
           |  slice(
           |    array_sort(
           |      transform(__sc, (s, i) -> named_struct('sc', s, 'idx', i)),
           |      (l, r) -> CASE WHEN l.sc > r.sc THEN -1
           |                     WHEN l.sc < r.sc THEN 1
           |                     ELSE l.idx - r.idx END),
           |    1, $nprobe),
           |  x -> x.idx)""".stripMargin))))

  /** IVF with the TRAINED quantizer: k-means cells instead of the
    * given `label` buckets. The trainer is fully deterministic (fixed
    * seeds, fixed iterations, quantized order-independent update), so
    * the DuckDB oracle unrolls the same two Lloyd iterations as CTEs
    * and hash-matches exactly.
    *
    * MULTI-PROBE (VERDICT r8 #6): each query searches its `nprobe`
    * NEAREST cells, not just the argmax one — the same recall lever the
    * LSH family already has ([[annLshSearch]]'s hamming-1 fan-out). A
    * true neighbor near the Voronoi boundary between two cells is
    * invisible to single-probe IVF by construction; probing the
    * runner-up cell recovers exactly that loss (recall measured against
    * the exact grid at sf0.1 by the ScaleRecall tool, removed; kept
    * in commit 58ab0d2). Cost shape unchanged at scale: the QUERY side
    * fans out nprobe× (still broadcast-bounded), the corpus side stays
    * one row per vector in one cell. */
  def sAnnKmeans(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 20, nCells: Int = 8, iters: Int = 2,
      nprobe: Int = 2): DataFrame = {
    val e = checkpointedCorpus(spark, dir) // trainer + assignment + search all read it
    kmeansSearch(e, kmeansModel(e, dir, nCells, iters), k, nQueries, nprobe)
  }

  /** Session MODEL cache — the in-process read path of the model store
    * (VERDICT r12 #1): the coarse quantizer for (dir, k, iters) is
    * bit-identical for every consumer in a session ([[sAnnKmeans]],
    * [[sSemanticDedup]], and [[sAnnRecall]]'s composition), so train
    * once and share the k·d driver constants — the production posture
    * where training is a rare scheduled producer and queries are apply
    * passes. The persisted contract (versioning, as-of pins) is
    * [[graft.sink.ModelStore]]; this is its session-lifetime analog,
    * keyed like [[graft.sink.SessionMv]] snapshots. */
  private val kmeansMemo = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int), Array[Array[Double]]]
  // the refresh seam covers this memo too (ADVICE r13 #1): a corpus
  // regenerated in-process refreshes the MVs AND retrains the quantizer
  graft.sink.SessionMv.onRefresh("kmeans_memo")(() => kmeansMemo.clear())
  private def kmeansModel(e: DataFrame, dir: String, k: Int,
      iters: Int): Array[Array[Double]] =
    kmeansMemo.getOrElseUpdate((dir, k, iters), kmeansCentroids(e, k, iters))

  /** The APPLY half of [[sAnnKmeans]] — multi-probe IVF search against
    * a GIVEN centroid set: the constant-cost production path once the
    * (rare) train pass has run. Shared verbatim by the train-inline
    * query and the model-store apply twin
    * ([[graft.llm.StoredModels.sAnnKmeansStored]]), so stored-model
    * search cannot drift from freshly-trained search. */
  private[llm] def kmeansSearch(e: DataFrame,
      centroids: Array[Array[Double]], k: Int, nQueries: Int,
      nprobe: Int): DataFrame =
    kmeansSearchIndexed(withCell(e, centroids), centroids, k, nQueries,
      nprobe)

  /** Cell assignment for an external index builder (the streaming
    * index MV) — THE same argmax expression the batch build uses, so
    * the two index builds cannot drift. `df` needs (vec_id, emb, nrm). */
  private[graft] def assignCells(df: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = withCell(df, centroids)

  /** Multi-probe search over an ASSIGNED (vec_id, emb, nrm, cell)
    * index relation — shared by the batch query (which assigns inline)
    * and the streamed index MV
    * ([[graft.streaming.StreamingAnnIndex.sStreamAnnKmeans]]), the
    * [[annLshSearch]] discipline: one search implementation over two
    * index builds. */
  private[graft] def kmeansSearchIndexed(assigned: DataFrame,
      centroids: Array[Array[Double]], k: Int, nQueries: Int,
      nprobe: Int): DataFrame = {
    val q = withProbeCells(
        assigned.select(col("vec_id"), col("emb"), col("nrm"))
          .filter(col("vec_id") < nQueries),
        centroids, nprobe)
      .select(col("vec_id").as("query_id"), col("cell").as("q_cell"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(q)
      .join(assigned, col("cell") === col("q_cell") &&
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dot("q_emb", "emb") / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH-bucketed ANN — the random-hyperplane variant of the coarse
    * partition: bucket(v) = the sign bits of v against `nPlanes` fixed
    * hyperplanes, and each query searches only its own bucket. Two
    * vectors share a bucket iff no hyperplane separates them —
    * P[shared] = (1 − θ/π)^nPlanes, the SimHash geometry on real
    * vectors.
    *
    * The hyperplanes here are the first `nPlanes` corpus vectors —
    * DETERMINISTIC and visible to the DuckDB oracle, which recomputes
    * the same sign bits (the sequential-fold dots are bit-identical, so
    * the bucket assignment and therefore the result set match exactly;
    * at production scale they'd be seeded Gaussians shipped as
    * literals, same plan shape). Like [[sAnnKmeans]], the plane set is
    * bounded (nPlanes·d doubles) and ships as one `typedLit`
    * constant into per-bit `dot_product` sign terms — one narrow map,
    * NO join against a plane relation, then the same broadcast-query
    * equi-join on the bucket key as [[sAnnIvf]].
    *
    * MULTI-PROBE: each query also searches the nPlanes hamming-1
    * buckets (one sign bit flipped) — the standard recall lever for
    * sign-bucket LSH. A top-3 neighbor at this corpus's typical
    * neighbor angle (θ ≈ 66°, p = 1 − θ/π ≈ 0.63 per plane) lands in
    * the single-probe bucket with only p⁴ ≈ 0.16; allowing one
    * disagreeing plane lifts it to p⁴ + 4p³(1−p) ≈ 0.53 (measured in
    * the suite). Cost: the QUERY side fans out (nPlanes+1)× — still
    * bounded — while the corpus side stays one row per vector. */
  def sAnnLsh(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 20, nPlanes: Int = 4): DataFrame = {
    val e = withNorm(embeddings(spark, dir))
      .select(col("vec_id"), col("emb"), col("nrm"))
    val assigned = e.withColumn("bucket", signBucketCol(annPlanes(e, nPlanes)))
    annLshSearch(assigned, k, nQueries, nPlanes)
  }

  /** The index CONFIG of the sign-bucket LSH: the first `nPlanes`
    * corpus vectors, fixed at index-build time. Bounded (nPlanes·d
    * doubles), shared by the batch build and the streaming index MV
    * ([[graft.streaming.StreamingAnnIndex]]) so the two cannot drift. */
  private[graft] def annPlanes(e: DataFrame,
      nPlanes: Int): Array[Array[Double]] = e
    .filter(col("vec_id") < nPlanes).orderBy(col("vec_id"))
    .select(col("emb")).collect()
    .map(_.getSeq[Double](0).toArray)

  /** Sign-bit bucket of `emb` against the plane set — one narrow map,
    * no join against a plane relation. The plane set is ONE `typedLit`
    * array<array<double>> constant shared by every bit term (a codegen
    * reference object, so the compiled code is independent of the
    * plane values — see [[withScoreArray]] for why that matters). */
  private[graft] def signBucketCol(planes: Array[Array[Double]]): org.apache.spark.sql.Column = {
    val pl = typedLit(planes.map(_.toIndexedSeq).toIndexedSeq)
    planes.indices.map { i =>
      when(dotc(col("emb"), element_at(pl, lit(i + 1))) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Multi-probe search over an assigned (vec_id, emb, nrm, bucket)
    * index relation — shared by the batch query and the streaming
    * index MV, so "streamed index answers the probe set identically"
    * is a property of ONE search implementation over two index builds. */
  private[graft] def annLshSearch(assigned: DataFrame, k: Int,
      nQueries: Int, nPlanes: Int): DataFrame = {
    // probe set: own bucket + each single-bit flip (hamming-1)
    val probes = (0L +: (0 until nPlanes).map(1L << _)).map(m =>
      expr(s"bucket ^ ${m}L"))
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(array(probes: _*)).as("q_bucket"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(q)
      .join(assigned, col("bucket") === col("q_bucket") &&
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dot("q_emb", "emb") / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization codebooks: an independent deterministic
    * Lloyd k-means per SUBSPACE (the PQ trainer of Jégou et al., "
    * Product quantization for nearest neighbor search", IEEE TPAMI
    * 2011 — public literature). The embedding splits into `m`
    * contiguous `dsub`-dim subvectors; each subspace trains its own
    * `ksub`-centroid codebook by L2 Lloyd.
    *
    * Same determinism contract as [[kmeansCentroids]]:
    *  - seeds are the `ksub` lowest vec_ids' subvectors;
    *  - assignment is argmin over `c² − 2·(x_j·c)` (the ‖x_j‖² term is
    *    constant per row and dropped IDENTICALLY in the DuckDB oracle),
    *    first-min tie-break on cell index;
    *  - the Lloyd update is the QUANTIZED mean — per dimension it sums
    *    `floor(x · 2²⁰)` as exact int64 and divides once, so the
    *    trained books are bit-identical across partitionings and
    *    engines; empty cells carry their previous centroid.
    *
    * Scale shape: books live on the driver (m·ksub·dsub doubles —
    * tiny) and reach executors as codegen'd literals; each iteration
    * is one narrow map over the corpus plus ONE aggregation of
    * m·ksub·dsub cells (the per-subspace updates ride a single
    * explode — no per-subspace jobs, no shuffle of vectors). */
  def pqCodebooks(df: DataFrame, m: Int, dsub: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val seeds = df.orderBy(col("vec_id")).limit(ksub)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(j =>
      Array.tabulate(ksub)(c => seeds(c).slice(j * dsub, j * dsub + dsub)))
    val scale = 1048576.0 // 2^20: x·2^20 is exact for float-sourced doubles
    (0 until iters).foreach { _ =>
      val structs = (0 until m).map(j => struct(lit(j).as("j"),
        expr(s"slice(emb, ${j * dsub + 1}, $dsub)").as("sub"),
        col(s"code_$j").as("code")))
      val ex = withPqCodes(df, books, dsub)
        .select(explode(array(structs: _*)).as("e"))
        .select(col("e.j"), col("e.sub"), col("e.code"))
      val aggs = count(lit(1)).as("cnt") +: (0 until dsub).map(i =>
        sum(floor(element_at(col("sub"), i + 1) * scale)).as(s"m$i"))
      val means = ex.groupBy(col("j"), col("code"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val cnt = r.getLong(2).toDouble
          (r.getInt(0), r.getInt(1)) -> (0 until dsub)
            .map(i => r.getLong(i + 3).toDouble / (cnt * scale)).toArray
        }.toMap
      books = Array.tabulate(m)(j =>
        Array.tabulate(ksub)(c => means.getOrElse((j, c), books(j)(c))))
    }
    books
  }

  /** Append per-subspace code columns `code_0 … code_{m−1}`: the
    * argmin-L2 cell per subspace — one narrow map, no join against a
    * codebook relation, first-min tie-break via
    * `array_position(arr, array_min(arr))`. Each subspace's codebook
    * (and its driver-computed ‖c‖² terms) rides in as a `typedLit`
    * constant and the ksub distances come from one `transform` —
    * value-independent generated code (see [[withScoreArray]]). */
  private def withPqCodes(df: DataFrame,
      books: Array[Array[Array[Double]]], dsub: Int): DataFrame =
    books.zipWithIndex.foldLeft(df) { case (acc, (book, j)) =>
      val bk = typedLit(book.map(_.toIndexedSeq).toIndexedSeq)
      val c2s = typedLit(book.map(c => c.map(x => x * x).sum).toIndexedSeq)
      acc.withColumn("__sub", slice(col("emb"), j * dsub + 1, dsub))
        .withColumn("__pda",
          transform(sequence(lit(0), lit(book.length - 1)),
            i => element_at(c2s, i + lit(1)) -
              lit(2.0) * dotc(col("__sub"), element_at(bk, i + lit(1)))))
        .withColumn(s"code_$j",
          (expr("array_position(__pda, array_min(__pda))") - 1L).cast("int"))
        .drop("__sub", "__pda")
    }

  /** PQ-compressed ANN with asymmetric-distance (ADC) scan + exact
    * rerank — the genuine 100-TB scale path for embedding search:
    * the corpus is stored as `m` small integer codes per vector
    * (here 8 bytes vs 256 for the raw floats), candidate scoring
    * reads ONLY the codes, and full vectors are touched for just the
    * `nCand` survivors per query.
    *
    *  1. ENCODE: [[withPqCodes]] maps each corpus vector to its
    *     per-subspace argmin cells (narrow map, codegen'd).
    *  2. ADC SCAN: each query precomputes a lookup table of
    *     m·ksub partial dots `q_j · c_{j,cell}` (array literal built
    *     query-side, broadcast with the bounded query set); the score
    *     of a corpus vector is the fold Σ_j lut[j·ksub + code_j] —
    *     8 array lookups + adds per vector, NO dot product, via the
    *     codegen'd `aggregate` higher-order fold (sequential, so
    *     bit-identical to the oracle's `list_sum(list_transform(…))`).
    *  3. RERANK: the nCand best ADC candidates per query (ties →
    *     vec_id asc) join back to the full vectors for EXACT cosine;
    *     final top-k ordered by (cosine desc, vec_id).
    *
    * Deterministic end-to-end (trained books bit-identical, ADC folds
    * sequential, both rank cuts totally ordered), so the DuckDB oracle
    * replays training + encode + ADC + rerank exactly and the result
    * hash-matches. At scale: codes relation is ~n·(8+m) bytes (the
    * 32× compression is the point), the query side is broadcast-
    * bounded, and the rerank join touches nCand·|Q| rows. */
  def sAnnPq(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 20, m: Int = 8, dsub: Int = 8, ksub: Int = 8,
      iters: Int = 2, nCand: Int = 64): DataFrame = {
    val e = checkpointedCorpus(spark, dir) // trainer + encode + lut + rerank all read it
    pqSearch(e, pqCodebooks(e, m, dsub, ksub, iters), k, nQueries, m,
      dsub, ksub, nCand)
  }

  /** The APPLY half of [[sAnnPq]] — encode + ADC scan + exact rerank
    * against GIVEN codebooks (the production path over a stored PQ
    * model). Shared verbatim with the model-store apply twin
    * ([[graft.llm.StoredModels.sAnnPqStored]]). */
  private[llm] def pqSearch(e: DataFrame,
      books: Array[Array[Array[Double]]], k: Int, nQueries: Int, m: Int,
      dsub: Int, ksub: Int, nCand: Int): DataFrame = {
    val coded = withPqCodes(e, books, dsub)
      .select(col("vec_id"),
        array((0 until m).map(j => col(s"code_$j")): _*).as("codes"))
    // query-side LUT in (subspace, cell) order — m·ksub partial dots.
    // The full codebook tensor is ONE typedLit array<array<array<
    // double>>> constant; entry t = j·ksub + c is the dot of the j-th
    // query subvector against codeword c (value-independent generated
    // code — see withScoreArray). `/` on ints is double division in
    // Spark SQL, so the subspace index is floor(t / ksub) cast back.
    val bks = typedLit(books.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)
    val lutCol = transform(sequence(lit(0), lit(m * ksub - 1)), t => {
      val j = floor(t.cast("double") / lit(ksub)).cast("int")
      val c = pmod(t, lit(ksub))
      dotc(slice(col("emb"), j * lit(dsub) + lit(1), lit(dsub)),
        element_at(element_at(bks, j + lit(1)), c + lit(1)))
    })
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"), lutCol.as("lut"))
    val adc = broadcast(q).crossJoin(coded)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", expr(
        s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
           |  (acc, j) -> acc + element_at(lut,
           |    j * $ksub + element_at(codes, j + 1) + 1))""".stripMargin))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = adc.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= nCand)
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("vec_id"), col("adc"))
    val rer = cand
      .join(e.select(col("vec_id"), col("emb"), col("nrm")), Seq("vec_id"))
      .withColumn("cosine",
        dot("q_emb", "emb") / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVFADC — the COMPOSED production ANN shape (VERDICT r13 #4):
    * IVF coarse routing + product quantization of the RESIDUALS
    * (v − centroid[cell]), the indexing structure of Jégou et al.,
    * "Product quantization for nearest neighbor search", IEEE TPAMI
    * 2011 §IV — what every real 100-TB vector store runs. The two
    * halves already exist ([[sAnnKmeans]]'s trained coarse quantizer,
    * [[sAnnPq]]'s ADC scan); this composes them:
    *
    *  1. COARSE: train/load the k-means quantizer, assign each corpus
    *     vector to its argmax-cosine cell ([[withCell]] — the same
    *     expression as plain IVF, so the two cannot drift).
    *  2. RESIDUAL ENCODE: r = v − c_cell (one exact IEEE subtraction
    *     per dimension — [[residualRel]]); PQ codebooks train on the
    *     residuals, which carry far less variance than raw vectors —
    *     the reason IVFADC beats flat PQ at equal code budget.
    *  3. SEARCH: each query probes its `nprobe` nearest cells
    *     ([[withProbeCells]] — identical fan-out to multi-probe IVF);
    *     within a probed cell the score is
    *     dot(q, y) ≈ dot(q, c_cell) + Σ_j lut[j][code_j], where the
    *     LUT holds the query SUBVECTOR dots against the residual
    *     codewords (dot(q, r̂) decomposes per subspace) and
    *     dot(q, c_cell) is one per-(query, cell) scalar. 8 lookups +
    *     adds per corpus vector, NO full dot product, and — unlike
    *     flat PQ's whole-corpus ADC scan — only the probed cells'
    *     codes are read at all.
    *  4. RERANK: the `nCand` best ADC candidates per query join back
    *     to the full vectors for exact cosine, final top-k.
    *
    * Deterministic end-to-end (both trainers quantized-update Lloyd;
    * residual subtraction exact; ADC folds sequential; every rank cut
    * totally ordered), so the DuckDB oracle composes the k-means
    * replay and the PQ replay over residuals and hash-matches.
    *
    * Scale shape: index = (vec_id, cell, 8-byte codes) — the 32×
    * compression of flat PQ PLUS cell-pruned candidate reads; the
    * query side is broadcast-bounded (nprobe× fan-out, m·ksub LUT
    * doubles per probe row); rerank touches nCand·|Q| full vectors. */
  /** √n cell-count rule (Jégou TPAMI'11 §IV: the coarse quantizer must
    * grow with the corpus — fixed cells at 100× the data means 100×
    * the per-probe scan). Floor 8 (below that the index degenerates to
    * flat PQ), cap 4096 (k-means training cost and the codegen'd
    * centroid literal both scale with it; past √n ≈ 4096 ⇒ n ≈ 16M per
    * PARTITION-level index, re-shard first). Promoted from the 200k
    * sweep (SCALE_CHECK r15): recall is cell-count-NEUTRAL at matched
    * rerank budget (0.995–1.0 across 8/64/448 cells) while the probed
    * fraction drops 25% → 0.9%. */
  def autoCells(n: Long): Int =
    math.max(8, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  def sAnnIvfPq(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 20, nCells: Int = 0, iters: Int = 2,
      nprobe: Int = 4, m: Int = 8, dsub: Int = 8, ksub: Int = 8,
      pqIters: Int = 2, nCand: Int = 0,
      assignEps: Double = 0.0): DataFrame = {
    val e = checkpointedCorpus(spark, dir) // coarse trainer + residuals + rerank read it
    // Defaults promoted from the 200k-vector sweep (VERDICT r14 #2 /
    // SCALE_CHECK r15): nCells ≤ 0 ⇒ the √n rule; nCand ≤ 0 ⇒
    // max(32, 13·k) — the rerank budget is THE recall lever (measured
    // 0.35-0.40 at 3.2×k, 0.69-0.74 at 6.4×k, 0.98-1.0 at 12.8×k,
    // whatever the cell count); nprobe 4 (2 left one twin unprobed at
    // 448 cells, beyond 4 bought nothing). Gate rows pin the
    // pre-promotion (8, 2, 32) explicitly — the DuckDB replay trains
    // that exact index.
    val cells = if (nCells > 0) nCells else autoCells(e.count())
    val cand = if (nCand > 0) nCand else math.max(32, 13 * k)
    val centroids = kmeansModel(e, dir, cells, iters)
    // PQ trainer (seed collect + pqIters aggregations) and the encode
    // pass all read the residual relation (tracked cache contract).
    // Books ALWAYS train on the PRIMARY (single-assignment) residuals:
    // a replicated relation has duplicate vec_ids, which would make
    // the trainer's orderBy(vec_id).limit(ksub) seed cut ambiguous —
    // replicas are ENCODE-time rows (each coded against its own
    // cell's residual under the trained books), not training data.
    val resid = QueryCaches.persistTracked(residualRel(e, centroids))
    val books = pqCodebooks(resid, m, dsub, ksub, pqIters)
    val indexed =
      if (assignEps > 0)
        QueryCaches.persistTracked(residualRel(e, centroids, assignEps))
      else resid
    ivfPqSearch(e, indexed, centroids, books, k, nQueries, nprobe, m,
      dsub, ksub, cand, multiAssigned = assignEps > 0)
  }

  /** Index rows under ε-boundary replication — the SIZE side of the
    * multi-assignment tradeoff the 200k sweep reads (replication
    * factor = rows / n; eps 0 ⇒ exactly n). */
  def ivfIndexRows(spark: SparkSession, dir: String, nCells: Int = 0,
      iters: Int = 2, assignEps: Double = 0.0): Long = {
    val e = checkpointedCorpus(spark, dir)
    val cells = if (nCells > 0) nCells else autoCells(e.count())
    residualRel(e, kmeansModel(e, dir, cells, iters), assignEps).count()
  }

  /** The residual relation (vec_id, cell, emb = v − c_cell): cell from
    * THE shared argmax assignment ([[withCell]]), then one exact IEEE
    * subtraction per dimension against the cell centroid riding as a
    * `typedLit` constant. Narrow map — no shuffle, no join.
    * `assignEps > 0` ⇒ boundary vectors replicate into their
    * second-best cell too ([[withCellMulti]]), one residual row per
    * assignment — each replica's codes encode ITS cell's residual. */
  private[graft] def residualRel(e: DataFrame,
      centroids: Array[Array[Double]],
      assignEps: Double = 0.0): DataFrame = {
    val cents = typedLit(centroids.map(_.toIndexedSeq).toIndexedSeq)
    withCellMulti(e, centroids, assignEps)
      .withColumn("emb", zip_with(col("emb"),
        element_at(cents, col("cell") + lit(1)), (x, c) => x - c))
      .select(col("vec_id"), col("cell"), col("emb"))
  }

  /** The APPLY half of [[sAnnIvfPq]] — probe + ADC over residual codes
    * + exact rerank against GIVEN coarse centroids and PQ books.
    * Shared verbatim with the model-store apply twin
    * ([[graft.llm.StoredModels.sAnnIvfPqStored]]). `resid` must be
    * [[residualRel]] of `e` under the same centroids. */
  private[llm] def ivfPqSearch(e: DataFrame, resid: DataFrame,
      centroids: Array[Array[Double]], books: Array[Array[Array[Double]]],
      k: Int, nQueries: Int, nprobe: Int, m: Int, dsub: Int, ksub: Int,
      nCand: Int, multiAssigned: Boolean = false): DataFrame = {
    val coded = withPqCodes(resid, books, dsub)
      .select(col("vec_id"), col("cell"),
        array((0 until m).map(j => col(s"code_$j")): _*).as("codes"))
    val cents = typedLit(centroids.map(_.toIndexedSeq).toIndexedSeq)
    // query-side LUT over the FULL query subvectors (dot(q, r̂)
    // decomposes per subspace; the centroid term is separate) — same
    // (j, cell)-ordered layout as sAnnPq's
    val bks = typedLit(books.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)
    val lutCol = transform(sequence(lit(0), lit(m * ksub - 1)), t => {
      val j = floor(t.cast("double") / lit(ksub)).cast("int")
      val c = pmod(t, lit(ksub))
      dotc(slice(col("emb"), j * lit(dsub) + lit(1), lit(dsub)),
        element_at(element_at(bks, j + lit(1)), c + lit(1)))
    })
    val q = withProbeCells(
        e.filter(col("vec_id") < nQueries)
          .select(col("vec_id"), col("emb"), col("nrm")),
        centroids, nprobe)
      .withColumn("lut", lutCol)
      .withColumn("cdot", dotc(col("emb"),
        element_at(cents, col("cell") + lit(1))))
      .select(col("vec_id").as("query_id"), col("cell").as("q_cell"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"), col("lut"),
        col("cdot"))
    // cell-pruned ADC: only probed cells' codes are read; with
    // single-assignment (assignEps ≤ 0) a corpus vector lives in
    // exactly one cell and probe cells are distinct, so no candidate
    // duplicates. Score = ONE add of two exactly-derived doubles (the
    // centroid dot + the sequential LUT fold).
    val adcRaw = broadcast(q)
      .join(coded, col("cell") === col("q_cell") &&
        col("vec_id") =!= col("query_id"))
      .withColumn("adc", col("cdot") + expr(
        s"""aggregate(sequence(0, ${m - 1}), cast(0.0 as double),
           |  (acc, j) -> acc + element_at(lut,
           |    j * $ksub + element_at(codes, j + 1) + 1))""".stripMargin))
    // boundary replication can surface the SAME corpus vector to one
    // query through two probed cells (two replicas, each scored
    // against its own cell's residual codes) — keep the best-scoring
    // replica per (query, vector), tie-broken by cell. Skipped
    // entirely on the single-assignment path: the extra window would
    // change every pinned gate plan for nothing.
    val adc =
      if (!multiAssigned) adcRaw
      else {
        val wd = Window.partitionBy(col("query_id"), col("vec_id"))
          .orderBy(col("adc").desc, col("cell"))
        adcRaw.withColumn("__dr", row_number().over(wd))
          .filter(col("__dr") === 1).drop("__dr")
      }
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val cand = adc.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= nCand)
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("vec_id"), col("adc"))
    val rer = cand
      .join(e.select(col("vec_id"), col("emb"), col("nrm")), Seq("vec_id"))
      .withColumn("cosine",
        dot("q_emb", "emb") / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Affine INT8 quantization of the embedding corpus with exact error
    * accounting — the production storage trick for embedding tables
    * (4× smaller than float32, 8× smaller than the float64 compute
    * form; PQ above compresses harder but lossier — this is the
    * other point on that curve). Per-DIMENSION affine grid: over the
    * corpus, dim i gets [min_i, max_i], scale_i = range/256, code =
    * clamp(floor((x−min)/scale), 0..255), dequant = min + (code+0.5)·
    * scale (midpoint reconstruction). Output per vector: max absolute
    * reconstruction error and the summed squared error.
    *
    * Determinism: min/max are exact; every per-element expression is
    * single-op double arithmetic on identical operands; the error
    * folds run as SEQUENTIAL `aggregate` higher-order folds, matching
    * the DuckDB oracle's list folds bit-for-bit. `floor`, not
    * `round` — round's half-way rule differs across engines, floor
    * doesn't. A constant dimension (range 0) keeps code 0 and
    * reconstructs as its min (CASE-guarded identically in the
    * oracle).
    *
    * Scale shape: the per-dim bounds are ONE aggregation with d·2
    * cells (posexplode + map-side combine) collected and shipped back
    * as typedLit constants ([[withScoreArray]]'s codegen-stable
    * pattern); the quantize+error pass is a narrow map. */
  def sQuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embeddings(spark, dir))
      .select(col("vec_id"), col("emb"))
    val bounds = e
      .select(posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).map(_._2)
    val mins = typedLit(bounds.map(_._1).toIndexedSeq)
    val scales = typedLit(bounds.map { case (mn, mx) =>
      (mx - mn) / 256.0 }.toIndexedSeq)
    val d = bounds.length
    // per-element: code then midpoint dequant then error, all inside
    // one transform over the dimension index
    val errs = transform(sequence(lit(0), lit(d - 1)), i => {
      val x = element_at(col("emb"), i + lit(1))
      val mn = element_at(mins, i + lit(1))
      val sc = element_at(scales, i + lit(1))
      val code = when(sc === 0.0, lit(0.0))
        .otherwise(least(lit(255.0), floor((x - mn) / sc)))
      val dq = when(sc === 0.0, mn)
        .otherwise(mn + (code + lit(0.5)) * sc)
      x - dq
    })
    e.withColumn("__err", errs)
      .withColumn("max_abs_err", expr(
        "aggregate(__err, cast(0.0 as double), (a, v) -> greatest(a, abs(v)))"))
      .withColumn("sum_sq_err", expr(
        "aggregate(__err, cast(0.0 as double), (a, v) -> a + v * v)"))
      .select(col("vec_id"), col("max_abs_err"), col("sum_sq_err"))
      .orderBy(col("vec_id"))
  }

  /** SEMANTIC dedup — the cluster-then-prune embedding dedup of Abbas
    * et al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", 2023 (public literature): train a coarse
    * k-means partition, then mine similar pairs ONLY within each
    * cluster, dropping every vector that has a smaller-id within-cluster
    * neighbor at cosine ≥ threshold. Pairs crossing a Voronoi boundary
    * are invisible BY DESIGN — that bounded recall loss is the price
    * that turns exact O(n²) pair mining into Σ|cluster|², and at
    * production scale k grows with the corpus so per-cluster work stays
    * constant.
    *
    * Distinct from [[sEmbedDedup]] (exact grid all-pairs, recall 1) the
    * way [[Dedup.dMinhashPairs]] is distinct from
    * [[Dedup.dPrefixPairs]]: same goal, different candidate generator
    * with a different scale/recall contract.
    *
    * Determinism: the trainer is [[kmeansCentroids]] (fixed seeds,
    * fixed iterations, quantized order-independent update — trained
    * cells bit-identical cross-engine), the drop rule is a pure
    * (smaller-id, ≥ threshold) predicate, so the DuckDB oracle replays
    * training + assignment + within-cluster pairs and hash-matches.
    *
    * Scale shape: within-cluster candidates are generated through the
    * same deterministic GRID the exact miner uses, composed with the
    * cluster key — the self-join key is (cell, grid_a, grid_b), so
    * every within-cluster pair meets exactly once, per-task work is
    * bounded at (|cluster|/P)², and a mega-cluster cannot recreate the
    * all-pairs blowup. No CartesianProduct, nothing broadcast but the
    * k·d centroid literals. */
  def sSemanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.4, nCells: Int = 8, iters: Int = 2,
      gridP: Int = 4): DataFrame = {
    val e = checkpointedCorpus(spark, dir) // trainer + assignment read it
    val centroids = kmeansModel(e, dir, nCells, iters)
    // persisted: both self-join sides and the survivor join read it
    // (tracked cache contract — released by the materializer)
    val assigned = QueryCaches.persistTracked(withCell(e, centroids)
      .withColumn("g", pmod(col("vec_id"), lit(gridP)).cast("int")))
    val a = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"),
      col("g").as("grid_a"),
      explode(expr(s"sequence(0, ${gridP - 1})")).as("grid_b"))
    val b = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"),
      col("g").as("grid_b"),
      explode(expr(s"sequence(0, ${gridP - 1})")).as("grid_a"))
    val hits = a.join(b, Seq("cell", "grid_a", "grid_b"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")))
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(count(lit(1)).as("n_closer"))
    assigned.select(col("vec_id"), col("cell"))
      .join(hits, Seq("vec_id"), "left")
      .withColumn("n_closer", coalesce(col("n_closer"), lit(0L)).cast("long"))
      .withColumn("kept", col("n_closer") === 0)
      .orderBy(col("vec_id"))
  }

  /** IVF-style bucketed ANN: each query searches ONLY its coarse
    * partition (the `label` bucket) — an equi-join on the bucket key
    * instead of a scan of the corpus. Returns top-3 in-bucket
    * neighbors per query (vec_id < nQueries). */
  def sAnnIvf(spark: SparkSession, dir: String,
              k: Int = 3, nQueries: Int = 20): DataFrame = {
    val e = withNorm(embeddings(spark, dir))
      .select("vec_id", "label", "emb", "nrm")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(q)
      .join(e, col("label") === col("q_label") &&
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dot("q_emb", "emb") / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** CLUSTER-BASED DATA PRUNING — self-supervised prototype pruning
    * (Sorscher et al., "Beyond neural scaling laws: beating power law
    * scaling via data pruning", NeurIPS 2022): cluster the embedding
    * corpus with the SHARED k-means quantizer ([[kmeansModel]] — the
    * session-cached trainer every ANN/dedup family rides), score each
    * vector by cosine to ITS OWN centroid (its prototypicality), and
    * mark the most prototypical `prunePct`% of every cell pruned — the
    * paper's abundant-data regime, where dropping easy/prototypical
    * examples beats dropping hard ones, applied per-cluster so no cell
    * is wiped out entirely.
    *
    * Determinism: the quantizer is the proven fixed-seed trainer the
    * DuckDB oracle unrolls as Lloyd CTEs; the prototype score is the
    * SAME dot/norm composition the assignment used (one extra IEEE
    * division by the vector's own norm); ranks tie-break on vec_id;
    * the prune threshold is integer ceil arithmetic
    * (`(n·pct + 99) div 100`) — no floats in the cut.
    *
    * Scale shape: one corpus scan to assign + score (the centroid
    * array rides as a k·d `typedLit` constant — no join), then a
    * per-CELL window rank — partitioned by the quantizer's own cells,
    * so the sort is (n/k)-sized per partition and the relation never
    * converges on one task. */
  def sPrunePrototypes(spark: SparkSession, dir: String,
      nCells: Int = 8, iters: Int = 2, prunePct: Int = 25): DataFrame = {
    val e = checkpointedCorpus(spark, dir)
    prunePrototypesOf(e, kmeansModel(e, dir, nCells, iters), prunePct)
  }

  /** [[sPrunePrototypes]] over ANY (vec_id, emb, nrm) relation and
    * centroid set — the suite feeds a synthetic corpus with a
    * singleton cell through it to pin the survivor clamp. */
  private[graft] def prunePrototypesOf(e: DataFrame,
      cents: Array[Array[Double]], prunePct: Int): DataFrame =
    pruneRankFromFacts(assignWithProto(e, cents), prunePct)

  /** The per-vector prototypicality FACT — (vec_id, cell, proto) via
    * one narrow map with the centroid array as a literal: the argmax
    * cell assignment ([[withCell]]'s expression) plus the cosine to
    * that own centroid. Computed inline by the batch query and
    * per-micro-batch by the streaming twin
    * ([[graft.streaming.StreamingAnnIndex.sStreamPrune]]) — facts
    * arrive once per vector and never change (PK-FINAL shape). */
  private[graft] def assignWithProto(e: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    withScoreArray(e, cents)
      .withColumn("cell", argmaxCellCol) // ONE score-array computation
      .withColumn("proto",
        element_at(col("__sc"), col("cell") + lit(1)) / col("nrm"))
      .select(col("vec_id"), col("cell"), col("proto"))

  /** The rank-and-cut READ over a (vec_id, cell, proto) fact relation
    * — ONE definition shared by the batch query and the streaming
    * twin's read, so the two cannot drift. Prune count = ceil(pct% of
    * the cell), CLAMPED to n_cell − 1 so every cell keeps at least one
    * survivor (ceil alone would wipe a singleton cell — the
    * per-cluster guard is the point of pruning per cell rather than
    * globally). */
  private[graft] def pruneRankFromFacts(a: DataFrame,
      prunePct: Int): DataFrame = {
    val wr = Window.partitionBy(col("cell"))
      .orderBy(col("proto").desc, col("vec_id"))
    a.withColumn("proto_rank", row_number().over(wr).cast("long"))
      .withColumn("n_cell",
        count(lit(1)).over(Window.partitionBy(col("cell"))))
      .withColumn("kept",
        col("proto_rank") >
          expr(s"least((n_cell * $prunePct + 99) div 100, n_cell - 1L)"))
      .select(col("cell"), col("proto_rank"), col("vec_id"),
        col("n_cell"), col("proto"), col("kept"))
      .orderBy(col("cell"), col("proto_rank"))
  }

  /** MMR DIVERSE SELECTION — maximal marginal relevance (Carbonell &
    * Goldstein, SIGIR 1998): greedily pick k results balancing
    * relevance to the query against redundancy with what's already
    * picked, score = rel(c) − λ·max_{s∈selected} cos(c, s) — the
    * de-duplicating re-rank a retrieval-based curation pass applies so
    * a training batch doesn't fill with near-identical documents.
    *
    * Determinism: rel and pairwise cosines are the proven cross-engine
    * doubles; each step adds ONE multiply and subtract, GREATEST is
    * exact, and every argmax breaks ties on (score DESC, vec_id) — so
    * the greedy trajectory is engine-identical and the oracle unrolls
    * the same k steps as chained 1-row CTEs (the PageRank/BPE-merge
    * oracle discipline).
    *
    * Scale shape: the RELEVANCE scan (corpus-sized) is one distributed
    * projection + top-pool cut; the greedy loop then runs k bounded
    * argmax jobs over the pool-sized candidate relation with the
    * selected vectors riding as `typedLit` constants (the k-means-Lloyd
    * constant discipline — k and pool are query knobs, not data
    * sizes). */
  def sMmrSelect(spark: SparkSession, dir: String, k: Int = 8,
      pool: Int = 20, lam: Double = 0.5): DataFrame = {
    import spark.implicits._
    val e = withNorm(embeddings(spark, dir))
      .select(col("vec_id"), col("emb"), col("nrm"))
    val q = e.filter(col("vec_id") === 0).collect().headOption.getOrElse(
      sys.error("MMR select: query vector (vec_id = 0) not present in " +
        s"the embeddings table at $dir"))
    val (qEmb, qNrm) = (q.getSeq[Double](1).toIndexedSeq, q.getDouble(2))
    // the corpus-sized pass: relevance projection + top-pool cut
    val cand = QueryCaches.persistTracked(
      e.filter(col("vec_id") =!= 0)
        .withColumn("qv", typedLit(qEmb))
        .withColumn("rel",
          expr("dot_product(emb, qv)") / (col("nrm") * lit(qNrm)))
        .drop("qv")
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(pool))
    // greedy loop: k bounded argmax jobs over the pool; selected
    // vectors ride as typedLit constants
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, IndexedSeq[Double],
        Double)]
    val out =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double,
        Double, Double)]
    (1 to k).foreach { i =>
      val withSims = selected.toSeq.zipWithIndex
        .foldLeft(cand.filter(!col("vec_id")
          .isin(selected.toSeq.map(_._1): _*))) {
          case (df, ((_, sEmb, sNrm), j)) =>
            df.withColumn(s"sv$j", typedLit(sEmb))
              .withColumn(s"sim$j",
                expr(s"dot_product(emb, sv$j)") / (col("nrm") * lit(sNrm)))
              .drop(s"sv$j")
        }
      val maxSim =
        if (selected.isEmpty) lit(0.0)
        else if (selected.size == 1) col("sim0")
        else greatest(selected.indices.map(j => col(s"sim$j")): _*)
      val pick = withSims
        .withColumn("max_sim", maxSim)
        .withColumn("mmr", col("rel") - lit(lam) * col("max_sim"))
        .orderBy(col("mmr").desc, col("vec_id"))
        .limit(1)
        .select(col("vec_id"), col("emb"), col("nrm"), col("rel"),
          col("max_sim"), col("mmr"))
        .collect().headOption.getOrElse(sys.error(
          s"MMR select: candidate pool exhausted at pick $i — " +
            s"pool ($pool) must be >= k ($k) and the corpus must have " +
            "at least `pool` non-query vectors"))
      selected += ((pick.getLong(0), pick.getSeq[Double](1).toIndexedSeq,
        pick.getDouble(2)))
      out += ((i.toLong, pick.getLong(0), pick.getDouble(3),
        pick.getDouble(4), pick.getDouble(5)))
    }
    out.toSeq.toDF("rank", "vec_id", "rel", "max_sim", "mmr_score")
      .orderBy(col("rank"))
  }

  /** ANN RECALL REPORT — the recall@k contract of the trained-k-means
    * IVF index ([[sAnnKmeans]]), measured IN the gate rather than only
    * by the offline tool (`tools/AnnRecall` remains the big-SF
    * instrument): per probe, how many of the brute-force top-k
    * ([[sCosineTopk]], the exact baseline) the index returned. Both
    * sides are the already-oracled queries, so the oracle is their two
    * replays composed — the recall number itself is cross-engine
    * hash-checked, not just asserted ≥ a floor.
    *
    * Scale shape: both inputs are bounded probe-set queries (one
    * corpus scan each); the recall join is (probes × k)-sized. recall
    * = ONE division of exactly-derived longs. */
  def sAnnRecall(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 20): DataFrame = {
    val ann = sAnnKmeans(spark, dir, k = k, nQueries = nQueries)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val brute = sCosineTopk(spark, dir, k = k, nQueries = nQueries)
      .select(col("query_id"), col("neighbor_id"))
    brute.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("k", lit(k.toLong))
      .withColumn("recall",
        col("n_hit").cast("double") / lit(k.toDouble))
      .select(col("query_id"), col("k"), col("n_hit"), col("recall"))
      .orderBy(col("query_id"))
  }

  /** k-NN CLASSIFICATION EVAL — the label-propagation quality check a
    * curation pipeline runs on its embedding space: classify a fixed
    * probe set (vec_id < nProbes) by majority vote of each probe's k
    * nearest neighbors (cosine, probe excluded), and report the
    * per-label confusion census: probe count, correct count, accuracy.
    * A space whose k-NN accuracy is high supports cluster-based
    * curation (SemDeDup, IVF routing); a label with low accuracy marks
    * a region where near-duplicate pruning would cut across concepts.
    *
    * Every ranking tie is pinned (cosine DESC then neighbor id; vote
    * count DESC then label ASC), so prediction is deterministic and
    * the oracle replays it exactly; accuracy is ONE division of two
    * exactly-derived longs.
    *
    * Scale shape: the probe set is FIXED-size (a broadcast query
    * relation, the [[sCosineTopk]] discipline) against the full corpus
    * — one corpus scan, nProbes·k window state, then label-bounded
    * aggregation. Evaluating a corpus-sized probe set would instead go
    * through the IVF/LSH candidate path ([[sAnnIvf]]); this is the
    * exact eval harness those are judged against. */
  def sKnnClassify(spark: SparkSession, dir: String, k: Int = 5,
      nProbes: Int = 64): DataFrame = {
    val e = withNorm(embeddings(spark, dir))
      .select(col("vec_id"), col("label"), col("emb"), col("nrm"))
    val q = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(q).crossJoin(e)
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine",
        dot("q_emb", "emb") / (col("q_nrm") * col("nrm")))
    val wNn = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val votes = scored
      .withColumn("rk", row_number().over(wNn))
      .filter(col("rk") <= k)
      .groupBy(col("probe_id"), col("true_label"),
        col("label").as("vote_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("probe_id"))
      .orderBy(col("n_votes").desc, col("vote_label"))
    votes.withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .groupBy(col("true_label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("vote_label") === col("true_label"), lit(1L))
          .otherwise(lit(0L))).as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_probes").cast("double"))
      .orderBy(col("label"))
  }
}
