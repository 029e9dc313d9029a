package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryCaches
import graft.Tables._
import TextAnalysis.tokens

/** Deduplication operators over the `documents` table: exact
  * (normalized-hash groupBy), MinHash+LSH near-dup (banded signatures →
  * bucket join → within-bucket exact verify), and SimHash signatures.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-partitioned groupBy on a 32-byte key —
  *    the same shuffle profile as the reference's ReplacingMergeTree
  *    PK dedup (SURVEY K2), and the canonical first stage of any
  *    training-data dedup pipeline.
  *  - Near-dup NEVER does all-pairs: candidate generation is a
  *    self-equi-join on (band, bucket) — a hash shuffle whose output is
  *    only same-bucket pairs — followed by exact Jaccard verification
  *    of candidates only. Band/row counts tune the recall/cost curve;
  *    with 16 bands × 2 rows, a pair at the 0.8 threshold is missed
  *    with probability (1-0.8²)^16 ≈ 6e-8, i.e. recall ≈ 1, which is
  *    why the DuckDB oracle can be the exact all-pairs computation.
  *  - SimHash is a narrow map + two partial aggregations; the signature
  *    is the input to hamming-bucket joins at scale.
  *
  * CACHE CONTRACT: the lazy query entry points persist intermediates
  * (signatures, candidates, verify sets) that only pay off when the
  * returned frame is materialized — so they cannot unpersist them
  * themselves. Every such persist is REGISTERED via
  * [[graft.QueryCaches.persistTracked]]; a caller that has materialized
  * the frame calls [[graft.QueryCaches.releaseAll]] and drops exactly
  * these blocks, keeping its own caches (Verify/Bench do, after every
  * query — the upgraded r6 contract replacing blanket `clearCache()`);
  * loops that materialize internally use the `*Tracked` variants to
  * release exactly what they persisted ([[dDupGroups]], the streaming
  * folds) without waiting for the caller.
  */
object Dedup {

  /** Signature geometry — ONE set of constants so the k-slot signature
    * ([[signatures]]) and the band layout ([[bandRows]]) cannot drift:
    * element_at past the signature length would yield null buckets that
    * collide corpus-wide (toward all-pairs candidates). */
  private[graft] val NumHashes = 32
  private[graft] val Bands = 16
  private[graft] val RowsPerBand = 2
  require(Bands * RowsPerBand == NumHashes)

  /** Signature projection over any (doc_id, text) relation — shared by
    * the batch queries and [[graft.streaming.StreamingDedup]].
    *
    * One narrow map — no gram ROWS exist anywhere in the plan, and no
    * gram SETS are materialized either. `gramHashes` is a call to one
    * of the single-pass [[graft.functions.GramHash]] expressions: each
    * document row yields its distinct 64-bit gram-hash set as a
    * row-local intermediate, and only the k-slot `minhash_sig` of it
    * (k longs) survives into the plan output. The first-cut pipeline
    * exploded grams to rows and shuffled them into a 32-aggregate
    * groupBy — ~2.5M rows and 80M string hashes at sf0.1, the top bench
    * cost (BENCH_r04); this shape hashes each gram position exactly
    * once, per document, inside WholeStageCodegen, and the persisted
    * per-doc state is k longs — not the ~8×text gram set, which would
    * be a 100-TB storage amplification. Docs with no grams drop out;
    * they cannot be shingle near-dups.
    *
    * Callers repartition the input first when it arrives as one split
    * (a small local parquet would serialize the hashing on one core;
    * at real scale the scan already has many splits). */
  private[graft] def signatures(docs: DataFrame, gramHashes: String,
                                numHashes: Int = NumHashes): DataFrame =
    docs.select(col("doc_id"),
      expr(s"minhash_sig($gramHashes, $numHashes)").as("sig"))
      .filter(size(col("sig")) > 0)

  /** Banded bucket rows from signatures: one (doc_id, band, bucket) row
    * per band — the LSH candidate key. Shared batch/streaming. */
  private[graft] def bandRows(sigs: DataFrame, bands: Int = Bands,
                              rowsPerBand: Int = RowsPerBand): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(i =>
          element_at(col("sig"), i + 1)): _*)): _*))
        .as(Seq("band", "bucket")))

  /** The verify-join CORE shared by every exact set-overlap verifier
    * (symmetric Jaccard AND directed containment): join a persisted
    * (doc_id, gs) set relation to BOTH key columns of a candidate pair
    * relation and compute `inter` = |gs_a ∩ gs_b|. ONE implementation —
    * the bit-for-bit oracle contracts of four families flow through
    * this join, so a fix (guard, epsilon) lands everywhere at once.
    * Callers add their family's ratio, threshold, and projection. */
  private[graft] def verifyJoin(cand: DataFrame, sets: DataFrame,
      aKey: String, bKey: String): DataFrame =
    cand
      .join(sets.select(col("doc_id").as(aKey), col("gs").as("gs_a")), aKey)
      .join(sets.select(col("doc_id").as(bKey), col("gs").as("gs_b")), bKey)
      .withColumn("inter",
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("double"))

  /** Per-doc GLOBAL-RARITY prefix over a (doc_id, h) element relation:
    * document frequencies over the relation itself, then each doc's
    * `n − ⌈t·n⌉ + 1` rarest elements via the aggregation-based
    * sort/slice (one hash-aggregate shuffle — see [[dPrefixPairs]] for
    * why this beats a window). Returns (doc_id, n, h). ONE
    * implementation for both prefix-filtered families — this is the
    * recall-1-critical path, factored so it cannot drift. */
  private[graft] def rarityPrefix(rows: DataFrame,
      threshold: Double): DataFrame = {
    val freq = rows.groupBy(col("h")).agg(count(lit(1)).as("df"))
    rows
      .join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("h"))).as("dfh"))
      .select(col("doc_id"), size(col("dfh")).as("n"),
        explode(slice(array_sort(col("dfh")), lit(1),
          prefixLenCol(threshold, size(col("dfh"))).cast("int"))).as("e"))
      .select(col("doc_id"), col("n"), col("e.h").as("h"))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs
    * against a (doc_id, text) relation: gram-hash sets are computed for
    * candidate docs only (see [[lshVerifiedPairs]] for why recomputing
    * beats persisting corpus-wide sets). Unordered — callers order. */
  private[graft] def verifiedPairs(cand: DataFrame, docs: DataFrame,
                                   gramHashes: String,
                                   threshold: Double): DataFrame = {
    val (pairs, cached) = verifiedPairsTracked(cand, docs, gramHashes, threshold)
    QueryCaches.track(cached) // lazy path: released by the materializer
    pairs
  }

  /** [[verifiedPairs]] plus the intermediates it persisted, so callers
    * that materialize the result can unpersist EXACTLY those (a
    * session-wide `clearCache()` would also drop caller-held caches —
    * ADVICE r5). */
  private[graft] def verifiedPairsTracked(cand: DataFrame, docs: DataFrame,
                                          gramHashes: String,
                                          threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // persisted because BOTH verify branches (doc_a and doc_b side)
    // consume it — without the persist each branch re-runs the scan
    // and the candidate gram hashing. No forced broadcast: a worst-case
    // corpus of near-dups makes candidates data-proportional, and
    // forcing a broadcast of a data-proportional relation is the
    // round-1/round-3 driver-OOM lesson; AQE broadcasts it at runtime
    // when it is in fact tiny.
    val sets = docs.join(candIds, "doc_id")
      .select(col("doc_id"), expr(gramHashes).as("gs"))
      .persist()
    val pairs = verifyJoin(cand, sets, "doc_a", "doc_b")
      .withColumn("jaccard",
        col("inter") /
          (size(col("gs_a")) + size(col("gs_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    (pairs, Seq(sets))
  }

  /** Exact deduplication over a re-ingested (duplicated) corpus: the
    * documents table unioned with a shifted-id copy of itself models the
    * at-least-once re-insert the reference's ReplacingMergeTree absorbs
    * (01-core-tables.sql:24-27). Group by the normalized content hash;
    * each group reports its size and the canonical (minimum) id —
    * deterministic survivor choice, per VERDICT r1 finding #3. */
  def dExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val reingested = d.withColumn("doc_id", col("doc_id") + lit(100000L))
    d.unionByName(reingested)
      .withColumn("norm_hash", md5(lower(trim(col("text")))))
      .groupBy(col("norm_hash"))
      .agg(count(lit(1)).as("group_size"),
        min(col("doc_id")).cast("long").as("canonical_id"))
      .orderBy(col("canonical_id"))
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * 3-token shingle hashes + 32 minhashes in one pass per document
    * ([[graft.functions.GramHash.tokenShingles]]) → 16 bands of 2 rows
    * hashed to a bucket → self-join on (band, bucket) for candidates →
    * exact Jaccard on the candidate pairs only → threshold.
    *
    * The hash family is a Spark-side implementation detail (codegen'd,
    * no UDF); the oracle doesn't mirror the signatures — it computes
    * exact all-pairs Jaccard, which equals this output because band
    * recall at the threshold is ≈1 (see object scaladoc).
    */
  def dMinhashPairs(spark: SparkSession, dir: String,
                    threshold: Double = 0.8): DataFrame =
    lshVerifiedPairs(spark, dir, "token_shingle_hashes(text, 3)", threshold)

  /** Near-dup pairs over character 16-gram sets — the n-gram-Jaccard
    * dedup family.
    *
    * One deliberate difference from the token pipeline: grams span ~3
    * words so per-doc minima are doc-specific (8-char grams from a
    * small shared vocabulary make every document contain the globally
    * minimal gram — signatures collide corpus-wide and candidates
    * explode). The dense char-gram case is ~10× the token-shingle
    * volume, which is exactly why the single-pass
    * [[graft.functions.GramHash.charGrams]] expression matters most
    * here: 16-char grams hash zero-copy from the document's UTF-8
    * bytes, once per position. */
  def dNgramPairs(spark: SparkSession, dir: String,
                  threshold: Double = 0.8, n: Int = 16): DataFrame =
    lshVerifiedPairs(spark, dir, s"char_gram_hashes(text, $n)", threshold)

  /** Near-dup pairs via PREFIX FILTERING — the EXACT set-similarity
    * self-join from the PPJoin literature, the deterministic sibling of
    * the probabilistic LSH families: order every document's shingle set
    * by GLOBAL RARITY (ascending document frequency); two sets with
    * Jaccard ≥ t MUST share at least one of each other's first
    * `n − ⌈t·n⌉ + 1` rarest shingles (if they disagreed on every prefix
    * element, the overlap could not reach t·n), so candidates = docs
    * sharing a PREFIX shingle, recall 1 BY CONSTRUCTION — no banding
    * probability at all. Same exact-Jaccard verify and the same oracle
    * as [[dMinhashPairs]]: the two families must produce identical
    * output through entirely different candidate generators.
    *
    * Scale shape: the DF relation is shingle-vocabulary-sized and
    * stays hash-partitioned/AQE-owned (the vocab grows with the
    * corpus — same no-broadcast reasoning as [[dShingleNovelty]]); the
    * rarity sort is a per-doc window over that doc's shingles
    * (doc-length-bounded, like the TF-IDF per-doc top-k); the
    * candidate join explodes only the ~(1−t) prefix fraction of each
    * set, and joining on the RAREST shingles keeps bucket sizes small
    * — the frequent-shingle hot buckets LSH banding can hit never
    * form. */
  def dPrefixPairs(spark: SparkSession, dir: String,
                   threshold: Double = 0.8): DataFrame =
    prefixVerifiedPairs(spark, dir, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The prefix-filtered exact pair join of [[dPrefixPairs]], unordered
    * — shared with [[dThresholdCalibration]], which runs it at a LOWER
    * floor (recall stays 1 at ANY threshold by the prefix theorem —
    * the property that makes a threshold sweep trustworthy, where LSH
    * banding recall would decay below its design point). */
  private def prefixVerifiedPairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    // fanout: shingle hashing is CPU-heavy over a byte-small scan (the
    // house pattern — see signatures); the cache then holds the
    // parallelism for every downstream pass
    val docs = documents(spark, dir).fanout(col("doc_id"))
    val sets = QueryCaches.persistTracked(
      docs.select(col("doc_id"),
        expr("token_shingle_hashes(text, 3)").as("gs")))
    // Per-doc rarity prefix via AGGREGATION, not a window
    // ([[rarityPrefix]]): collect the (df, h) pairs per doc and
    // sort/slice the doc-length-bounded array in one codegen'd
    // expression — one hash-aggregate shuffle instead of the window's
    // shuffle + global (doc, df, h) sort (measured ~25% cheaper at
    // sf0.1, identical output: array_sort on the struct is exactly the
    // (df asc, h asc) rarity order).
    // persisted: BOTH sides of the candidate self-join consume it —
    // without the persist each side re-runs the explode + DF join + agg
    val prefix = QueryCaches.persistTracked(rarityPrefix(
      sets.select(col("doc_id"), explode(col("gs")).as("h")), threshold))
    // PPJoin LENGTH FILTER (the standard second filter from the same
    // public literature as the prefix bound): Jaccard ≥ t forces
    // t·|a| ≤ |b| ≤ |a|/t, so size-incompatible candidate pairs are
    // pruned BEFORE the distinct and the exact verify — comparing
    // integer sizes is free at the join, recomputing two gram sets is
    // not. The ε slack only ever KEEPS a borderline pair (recall-safe);
    // tightness is a perf matter the verify stage settles exactly.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n").cast("double") >= lit(threshold) * col("b.n") - lit(1e-9) &&
          col("b.n").cast("double") >= lit(threshold) * col("a.n") - lit(1e-9))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Verify against the ALREADY-persisted gram sets: unlike the LSH
    // family (where caching sets corpus-wide just to serve a
    // 0.1%-selectivity join would be a new ~8×text cache), the prefix
    // family must materialize full sets anyway for the DF pass — so the
    // verify join ([[verifyJoin]] — the core shared with the LSH and
    // containment verifiers) reuses that cache instead of re-scanning
    // and re-hashing the corpus (measured: verify 1.4 s → 0.2 s at
    // sf0.1).
    verifyJoin(cand, sets, "doc_a", "doc_b")
      .withColumn("jaccard",
        col("inter") /
          (size(col("gs_a")) + size(col("gs_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** DEDUP THRESHOLD CALIBRATION — the report that answers "what does
    * moving the near-dup threshold buy": the exact Jaccard histogram
    * of all pairs ≥ 0.70 in 0.05-wide bins (`bin = floor(j·20)`, exact
    * in both engines since j is the same IEEE division), with the
    * descending-cumulative pair count retained at-or-above each bin —
    * the curve a pipeline owner reads before picking 0.8. Built on the
    * PREFIX-FILTERED exact join specifically because its recall is 1
    * at ANY threshold by construction; a sweep over LSH candidates
    * would silently undercount below the banding design point.
    *
    * Scale shape: identical to [[dPrefixPairs]] at t = 0.7 (prefix
    * fraction grows to ~30% of each set — the honest cost of a lower
    * floor), then a bin-grid-bounded aggregation; the cumulative
    * window runs over ≤ 7 bins. */
  def dThresholdCalibration(spark: SparkSession, dir: String,
      tMin: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prefixVerifiedPairs(spark, dir, tMin)
      .withColumn("bin", floor(col("jaccard") * 20).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_at_or_above", sum(col("n_pairs")).over(w))
      .select(col("bin"), col("n_pairs"), col("n_at_or_above"))
      .orderBy(col("bin"))
  }

  /** CONTAINMENT pairs — the DIRECTED sibling of the symmetric
    * set-similarity join: all ordered (host, piece) pairs with
    * |host ∩ piece| / |piece| ≥ t — "piece is mostly contained in
    * host", the quote/excerpt/subset relation Jaccard deliberately
    * ignores (a short excerpt of a long doc has tiny Jaccard but
    * containment ≈ 1). Runs over the SAME modeled corpus as
    * [[dDupSpans]] (base + remix), whose remix docs are genuine
    * excerpts of their sources — so the directed result is exercised
    * for real: remix → source containment ≈ 0.87, never the reverse.
    *
    * EXACT, recall 1 by the ONE-sided prefix theorem (the
    * [[graft.streaming.StreamingPrefix]] argument): if
    * |a∩b| ≥ t·|b| and a's set missed ALL of b's prefix (b's
    * `|b| − ⌈t·|b|⌉ + 1` rarest shingles), then a∩b fits in b's
    * suffix of ⌈t·|b|⌉ − 1 < t·|b| elements — contradiction. The
    * prefix bound needs no order agreement between a and b, so only
    * the PIECE side explodes prefixes; hosts contribute their full
    * (vocabulary-sized, hash-partitioned, never broadcast) shingle
    * index. The containment size filter |host| ≥ t·|piece| prunes
    * size-incompatible candidates at the join, before the distinct
    * and the exact verify (the PPJoin length-filter idea, one-sided).
    *
    * Scale shape mirrors [[dPrefixPairs]]: one gram-set pass
    * (persisted — the DF pass and both verify sides reuse it), an
    * aggregation-based prefix, a candidates equi-join on rarest
    * shingles, exact verify on candidates only. */
  def dContainmentPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val corpus = spansCorpus(documents(spark, dir))
    // fanout before the shingle hashing (CPU-heavy, byte-small scan —
    // see signatures); the union of base + remix otherwise carries the
    // scan's 1-2 splits into every cached downstream pass
    val sets = QueryCaches.persistTracked(corpus
      .fanout(col("doc_id"))
      .select(col("doc_id"),
        expr("token_shingle_hashes(text, 3)").as("gs"))
      .filter(size(col("gs")) > 0))
    val rows = QueryCaches.persistTracked(
      sets.select(col("doc_id"), explode(col("gs")).as("h")))
    val prefix = rarityPrefix(rows, threshold)
      .select(col("doc_id").as("piece_id"), col("n").as("n_piece"),
        col("h"))
    val hostSizes = sets
      .select(col("doc_id").as("host_id"), size(col("gs")).as("n_host"))
    val cand = prefix
      .join(rows.select(col("doc_id").as("host_id"), col("h")), "h")
      .filter(col("host_id") =!= col("piece_id"))
      .join(hostSizes, "host_id")
      // containment >= t forces |host ∩ piece| >= t·|piece|, hence
      // |host| >= t·|piece|; the ε slack only ever KEEPS a borderline
      // pair (recall-safe) — tightness is settled by the exact verify
      .filter(col("n_host").cast("double") >=
        lit(threshold) * col("n_piece") - lit(1e-9))
      .select(col("host_id"), col("piece_id"))
      .distinct()
    verifyJoin(cand, sets, "host_id", "piece_id")
      .withColumn("containment", col("inter") / size(col("gs_b")))
      .filter(col("containment") >= threshold)
      .select(col("host_id"), col("piece_id"), col("containment"))
      .orderBy(col("host_id"), col("piece_id"))
  }

  /** Prefix length `n − ⌈t·n⌉ + 1` as a Column, computed ROBUSTLY: the
    * naive `ceil(t * n)` in double arithmetic can come out one HIGHER
    * than the exact ceiling when fl(t) > t and t·n is an exact integer
    * (e.g. the 0.1 family), silently shortening the prefix by one
    * element and breaking the family's recall-1 guarantee (ADVICE r8
    * #1). Subtracting ε = 1e-9 before the ceil restores the exact value
    * whenever frac(t·n) is 0 or ≥ ~1e-9 — i.e. for every rational
    * threshold and n up to ~1e6 (|fl(t)·n − t·n| ≤ n·2⁻⁵² ≪ ε) — and
    * can only ever err toward a LONGER prefix (more candidates, never
    * fewer: recall-safe by direction). [[prefixLenExact]] is the
    * BigDecimal mirror the property suite sweeps against. */
  private[graft] def prefixLenCol(threshold: Double,
                                  n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    n - ceil(lit(threshold) * n.cast("double") - lit(1e-9)) + lit(1)

  /** Exact-rational twin of [[prefixLenCol]] for property testing. */
  private[graft] def prefixLenExact(threshold: BigDecimal, n: Int): Int =
    n - (threshold * n).setScale(0, BigDecimal.RoundingMode.CEILING).toInt + 1

  /** Banded-LSH candidates + exact-Jaccard verify.
    *
    * Stage 1 (candidates): per-doc signatures ([[docSignatures]], k
    * longs per doc, persisted — tiny) → 16 band buckets per doc →
    * self-equi-join on (band, bucket) → distinct candidate id pairs.
    *
    * Stage 2 (verify): gram-hash sets are recomputed for CANDIDATE
    * docs only — a second narrow pass over the documents scan,
    * semi-joined against the (small) candidate id list, which AQE
    * turns into a broadcast join that never shuffles the corpus. At
    * 100 TB this is the load-bearing choice: candidates are a tiny
    * fraction of the corpus, so re-scanning beats persisting an
    * ~8×text gram-set column for every document (the alternative is a
    * corpus-scale cache just to serve a 0.1%-selectivity join).
    *
    * The verify-stage Jaccard runs over the 64-bit hash sets:
    * |a ∩ b| via `array_intersect`, |a ∪ b| as |a| + |b| − |a ∩ b|
    * (both sets are distinct), which equals the oracle's
    * `len(list_intersect)/len(list_distinct(list_concat))` over the
    * gram strings (collision odds ≈ 1e-13, see
    * [[graft.functions.GramHash]]). */
  private def lshVerifiedPairs(spark: SparkSession, dir: String,
                               gramHashes: String,
                               threshold: Double): DataFrame =
    lshVerifiedPairsFromDocs(
      documents(spark, dir).fanout(col("doc_id")), gramHashes, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Same candidate+verify pipeline over ANY (doc_id, text) relation —
    * the entry point [[graft.llm.CorpusPipeline]] composes after its
    * quality/dedup gates. `docs` is scanned twice (signatures, then
    * candidate verification); callers pass a relation cheap to recompute
    * (a narrow filter over the scan) or persist it themselves. */
  private[graft] def lshVerifiedPairsFromDocs(docs: DataFrame,
                                              gramHashes: String,
                                              threshold: Double): DataFrame = {
    val (pairs, cached) = lshVerifiedPairsTracked(docs, gramHashes, threshold)
    QueryCaches.track(cached) // lazy path: released by the materializer
    pairs
  }

  /** [[lshVerifiedPairsFromDocs]] plus every intermediate it persisted
    * (signatures, candidate pairs, verify-stage gram sets) for targeted
    * unpersist by callers that materialize the pairs. */
  private[graft] def lshVerifiedPairsTracked(docs: DataFrame,
                                             gramHashes: String,
                                             threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val perDoc = signatures(docs, gramHashes).persist()

    val banded = bandRows(perDoc)

    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .persist()

    val (pairs, setsCached) = verifiedPairsTracked(cand, docs, gramHashes, threshold)
    (pairs, Seq(perDoc, cand) ++ setsCached)
  }

  /** Near-duplicate GROUPS: connected components of the verified-pair
    * graph, each document labeled with the minimum doc_id reachable
    * through near-dup edges — the principled survivor policy when
    * near-duplication chains (A≈B, B≈C ⇒ {A,B,C} keep only A), where
    * the pairwise drop-doc_b rule would be order-dependent.
    *
    * Distributed shape: [[minLabelComponents]] over the PAIR graph only
    * — at 100 TB that is the near-dup fraction of the corpus, not the
    * corpus; no collect, no driver-side graph. Oracle: DuckDB
    * `WITH RECURSIVE` transitive closure over the exact all-pairs
    * edges — recall ≈ 1 as for [[dMinhashPairs]]. */
  /** The verified near-dup PAIR relation as a session MV
    * ([[graft.sink.SessionMv]] — the CoOccurrenceMv precedent): FOUR
    * declared queries consume this exact relation (`d_dup_groups`,
    * `d_cc_stars`, `d_walk_counts`, `d_cluster_rep` via the groups) and
    * previously each re-ran the full LSH mine+verify per invocation.
    * `d_minhash_pairs` itself keeps mining live — it IS the mining
    * operator; these are its consumers. At 100 TB the pair relation is
    * the maintained output of the dedup pipeline's candidate stage
    * (the streaming twin `d_stream_minhash` maintains it
    * incrementally); the analytics over it should read, not re-mine. */
  private[graft] def verifiedPairsMv(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    graft.sink.SessionMv.snapshot(spark,
      s"neardup_pairs:$dir:token_shingle_hashes(text, 3):$threshold") {
      val (verified, cached) = lshVerifiedPairsTracked(
        documents(spark, dir).fanout(col("doc_id")),
        "token_shingle_hashes(text, 3)", threshold)
      val pairs = verified.select(col("doc_a"), col("doc_b"))
        .localCheckpoint() // materialize before freeing the LSH caches
      cached.foreach(_.unpersist())
      pairs
    }

  def dDupGroups(spark: SparkSession, dir: String,
                 threshold: Double = 0.8): DataFrame =
    // no checkpoint on the MV read (r17): snapshot() returns a flat
    // parquet scan — re-reading it per consumer IS the at-scale shape,
    // and the copy job bought nothing (guide §1.2)
    minLabelComponents(verifiedPairsMv(spark, dir, threshold))
      .orderBy(col("doc_id"))

  /** Near-duplicate groups by ALTERNATING STAR CONTRACTION — the
    * second published distributed-CC algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) over the
    * SAME verified near-dup pair graph as [[dDupGroups]], converging to
    * the SAME min-label-per-component answer — so the two
    * implementations share one DuckDB oracle, and each is an
    * independent witness against the other's convergence logic.
    *
    * Where [[minLabelComponents]] carries a per-vertex LABEL relation
    * and doubles pointer distance, star contraction rewrites the EDGE
    * relation itself: large-star hangs every neighbor larger than u
    * under u's minimum neighbor; small-star re-hangs the smaller
    * neighbors; alternating the two provably converges in O(log² n)
    * rounds (O(log n) in practice) to a star forest whose centers are
    * the component minima. Each half-round is ONE groupBy-u shuffle +
    * a re-join — same per-round cost class as the label loop, but
    * state is edges (the near-dup fraction), never a corpus-wide
    * vertex table, which is the better shape when components are tiny
    * and most vertices are isolated (the 100 TB dedup regime).
    * Convergence detection rides the round's own action via
    * [[org.apache.spark.sql.Observation]]: the canonical edge set's
    * (count, DECIMAL(38,0) checksum) pair is a fixed point exactly
    * when both operators are identities — one extra confirming round,
    * no separate count() job (the minLabelComponents discipline). */
  def dCcStars(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame =
    // no checkpoint on the MV read — see dDupGroups
    starComponents(verifiedPairsMv(spark, dir, threshold))
      .orderBy(col("doc_id"))

  /** Large-star: for every vertex u (seen from BOTH endpoints via the
    * symmetrized edge list), m = min(N(u) ∪ {u}); emit (v, m) for each
    * neighbor v > u. Strictly-larger vertices re-hang under the local
    * minimum; edges between smaller vertices survive via the other
    * endpoint's view. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .withColumn("m", least(col("mn"), col("src")))
      .select(col("src"), col("m"))
    // no trailing distinct: m <= src < dst means the emitted (dst, m)
    // can never be a self-loop, and smallStar's orient+distinct is the
    // next operation either way — deduping here would just pay one
    // extra shuffle per round (measured: ~7% of warm query time)
    sym.join(m, Seq("src"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** Small-star: orient every edge (u ← v) with v < u; per u,
    * m = min(N⁻(u)); re-hang u and all of N⁻(u) \ {m} under m. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val m = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
    oriented.join(m, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .unionByName(m.select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /** The alternation loop + final labeling. Emits (doc_id, group_id)
    * for every vertex of the ORIGINAL pair graph, group_id = component
    * minimum (roots label themselves) — [[dDupGroups]]' exact schema
    * and semantics. */
  private[graft] def starComponents(pairs: DataFrame): DataFrame = {
    // LAZY checkpoints (r17, the resolver-probe fusion pattern): the
    // nVerts count below materializes `nodes`, and round 1's observe
    // job materializes `edges` — the eager form paid a dedicated copy
    // job for each. Lineage truncation is identical once materialized.
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .localCheckpoint(eager = false)
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("src"),
        least(col("doc_a"), col("doc_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    // Round cap (ADVICE r12): star contraction converges in O(log² n)
    // rounds (Kiveris et al. SoCC'14); a run exceeding ~2·log₂(n)² + C
    // half-round pairs means either a checksum-collision early exit was
    // narrowly dodged or a pathological oscillation — fail loudly
    // instead of looping forever. n here is the vertex count of the
    // pair graph (nodes is already materialized — one cheap count).
    val nVerts = math.max(nodes.count(), 2L)
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(nVerts - 1L)
    val maxRounds = 2 * log2n * log2n + 8
    var rounds = 0
    var prev: Option[(Long, java.math.BigDecimal, Long)] = None
    var converged = false
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"starComponents: no fixed point after $rounds rounds " +
          s"(cap $maxRounds for $nVerts vertices) — oscillation or " +
          "checksum-collision guard tripped")
      val obs = org.apache.spark.sql.Observation()
      val next = smallStar(largeStar(edges))
        .observe(obs,
          count(lit(1)).as("n_edges"),
          // canonical-edge checksum, exact in 128-bit decimal — int64
          // would wrap silently (the minLabelComponents discipline)
          sum((col("src").cast("decimal(38,0)") * lit(1000003) +
            col("dst").cast("decimal(38,0)"))).as("edge_sum"),
          // second INDEPENDENT checksum (ADVICE r12): order-independent
          // xor of per-edge hashes — a decimal-sum collision between
          // two different consecutive edge sets would need to collide
          // here too for a wrong early exit
          bit_xor(xxhash64(col("src"), col("dst"))).as("edge_xor"))
        .localCheckpoint()
      val n = obs.get("n_edges").asInstanceOf[Long]
      val s = obs.get("edge_sum").asInstanceOf[java.math.BigDecimal]
      val x = Option(obs.get("edge_xor")).fold(0L)(_.asInstanceOf[Long])
      require(s != null || n == 0L,
        "starComponents: edge checksum overflowed decimal(38,0)")
      converged = prev.exists { case (pn, ps, px) =>
        pn == n && px == x && ((ps == null && s == null) ||
          (ps != null && s != null && ps.compareTo(s) == 0))
      }
      prev = Some((n, s, x))
      edges = next
    }
    // fixed point = star forest: src is a child, dst its component min
    nodes.join(
        edges.select(col("src").as("doc_id"), col("dst").as("parent")),
        Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(min(col("parent")).as("parent"))
      .withColumn("group_id", coalesce(col("parent"), col("doc_id")))
      .select(col("doc_id"), col("group_id"))
  }

  /** k-hop WALK COUNTS over the near-dup graph — the iterative numeric
    * graph analytic ([[dDupGroups]] is the iterative LABEL analytic):
    * for every vertex, the number of walks of length 1, 2, and 3
    * starting there (walks, not paths — revisits count, the standard
    * adjacency-power semantics). Walk counts expose the local density
    * the flat component label hides: a 3-clique member and a chain end
    * can share a group yet differ 4× in 3-walks — the signal for
    * prioritizing manual review of dense near-dup clusters.
    *
    * EXACT integers, so cross-engine bit questions never arise:
    * c_k(v) = Σ_{u ~ v} c_{k−1}(u), c_0 ≡ 1 — each iteration is one
    * hash equi-join edges ⋈ counts + one aggregation (the distributed
    * sparse matrix-vector product), never a multi-hop join explosion.
    * The DuckDB oracle replays the same three products over its own
    * recomputed pair relation. */
  def dWalkCounts(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val pairs = verifiedPairsMv(spark, dir, threshold)
    val edges = pairs.unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint() // three products read it
    def step(counts: DataFrame): DataFrame = edges
      .join(counts.withColumnRenamed("doc_id", "dst"), Seq("dst"))
      .groupBy(col("src").as("doc_id"))
      .agg(sum(col("c")).as("c"))
    val c1 = step(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("c", lit(1L)))
    val c2 = step(c1)
    val c3 = step(c2)
    c1.select(col("doc_id"), col("c").as("walks_1"))
      .join(c2.select(col("doc_id"), col("c").as("walks_2")), Seq("doc_id"))
      .join(c3.select(col("doc_id"), col("c").as("walks_3")), Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Canonical REPRESENTATIVE per duplicate group + remap table — the
    * step after [[dDupGroups]] in a dedup pipeline: every grouped
    * document maps to the group's keeper (the longest document by
    * n_chars, ties to the smallest doc_id — "keep the most complete
    * copy", the usual curation policy, deliberately NOT the min-id
    * label the components algorithm happens to produce), plus the group
    * size so downstream can weight survivors by how many copies they
    * absorbed.
    *
    * Scale shape: the components relation (doc_id, group_id) is already
    * hash-partitioned by doc_id; one broadcast-free equi-join brings in
    * n_chars, then a group_id-partitioned window picks the keeper —
    * group sizes are near-dup cluster sizes (bounded in practice; a
    * pathological mega-cluster would already have broken the pair
    * stage, not this one). */
  def dClusterRep(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val groups = dDupGroups(spark, dir, threshold)
    val sized = groups.join(
      documents(spark, dir).select(col("doc_id"), col("n_chars")),
      Seq("doc_id"))
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    sized
      // running-first over the keeper order: every frame starts at the
      // partition's rank-1 row, so each row sees the keeper's doc_id
      .withColumn("rep_id", first(col("doc_id")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("group_sz",
        count(lit(1)).over(Window.partitionBy(col("group_id"))))
      .select(col("doc_id"), col("group_id"), col("rep_id"),
        col("group_sz"))
      .orderBy(col("doc_id"))
  }

  /** Connected components by min-label propagation with POINTER
    * DOUBLING, over any undirected (doc_a, doc_b) pair relation:
    * every vertex ends labeled with the minimum vertex id of its
    * component.
    *
    * Per round, a vertex's new label is the min over three sources:
    * its own label, its NEIGHBORS' labels (one equi-join edges⋈labels),
    * and its label's label (one self-join labels⋈labels — chasing the
    * pointer chain v → label(v) → label(label(v))). The chase doubles
    * the distance a label travels each round, so convergence is
    * O(log diameter) rounds instead of the plain formulation's
    * O(diameter) — a chain of near-dups costs 7 rounds at length 100,
    * not 100. Each round is ONE Spark action: the `localCheckpoint`
    * that cuts the lineage (the resolver-BFS pattern,
    * [[graft.state.ReceiptTxResolver]]) also fills an [[Observation]]
    * carrying sum(group_id) as DECIMAL(38,0): an int64 sum would WRAP
    * silently in non-ANSI Spark once the true label sum passes 2^63,
    * letting two non-converged rounds alias to the same wrapped value
    * (ADVICE r6) — the 128-bit decimal sum is exact past any realistic
    * id space (10^38 headroom vs ~9.2e18 max label × corpus row count),
    * and OVERFLOW SURFACES AS NULL, which the loop rejects loudly
    * rather than mis-reading as convergence. Labels are monotonically
    * non-increasing, so that sum strictly decreases until the fixpoint
    * — an exact, collision-free convergence test with no second job
    * (the previous shape paid a separate join + count() action per
    * round just to detect convergence; VERDICT r5 #2). */
  private[graft] def minLabelComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .persist()
    // lazy: round 1's own checkpoint job materializes the seed labels
    // (r17, the resolver-probe fusion pattern — one job, not two)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("group_id", col("doc_id"))
      .localCheckpoint(eager = false)
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    while (!converged) {
      val viaNeighbors = edges
        .join(labels, edges("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("group_id"))
      val viaPointer = labels.as("l1")
        .join(labels.as("l2"), col("l1.group_id") === col("l2.doc_id"))
        .select(col("l1.doc_id").as("doc_id"),
          col("l2.group_id").as("group_id"))
      val obs = org.apache.spark.sql.Observation()
      // superseded rounds' checkpoint blocks are GC-released, so
      // memory doesn't grow with round count
      val next = labels.unionByName(viaNeighbors).unionByName(viaPointer)
        .groupBy(col("doc_id"))
        .agg(min(col("group_id")).as("group_id"))
        .observe(obs,
          sum(col("group_id").cast("decimal(38,0)")).as("label_sum"),
          count(lit(1)).as("label_rows"))
        .localCheckpoint()
      val s = obs.get("label_sum").asInstanceOf[java.math.BigDecimal]
      val rows = obs.get("label_rows").asInstanceOf[Long]
      // a null sum over a NON-empty relation is decimal(38,0) overflow —
      // refuse rather than mis-read it as convergence; over an EMPTY
      // relation (no near-dup pairs at all) null is the legitimate
      // zero-rows sum and the loop terminates on the next equal null
      require(s != null || rows == 0L,
        "minLabelComponents: label sum overflowed decimal(38,0) — " +
          "id space too large for the convergence metric")
      converged = prevSum.exists(p =>
        (p == null && s == null) || (p != null && s != null && p.compareTo(s) == 0))
      prevSum = Some(s)
      labels = next
    }
    edges.unpersist()
    labels
  }

  /** BLOCK-granularity dedup report — the paragraph-grain middle of
    * the dedup family (document-level exact dedup above, overlapping
    * 8-token spans below): cut each document into NON-overlapping
    * 12-token blocks (this corpus has no sentence boundaries, so the
    * fixed-width block plays the paragraph; the operator shape is the
    * Falcon/RefinedWeb repeated-paragraph signal either way), count
    * each block's distinct-document frequency corpus-wide, and report
    * per document how much of it is boilerplate. Runs over the SAME
    * modeled remix corpus as [[dDupSpans]] — every remix shares its
    * aligned head block with its source, so block-level duplication is
    * genuinely present and one-sided glue stays unique.
    *
    * Scale shape: one narrow chunk explode to (doc, block md5) rows
    * (the hash collapses blocks to fixed-width keys before the
    * shuffle), one hash-partitioned distinct-doc count per key, one
    * join back, one per-doc aggregate — the [[dShingleNovelty]]
    * profile at block grain; nothing broadcast (the block vocabulary
    * grows with the corpus). */
  def dBlockDedup(spark: SparkSession, dir: String,
      block: Int = 12): DataFrame = {
    val blocks = QueryCaches.persistTracked(
      spansCorpus(documents(spark, dir))
        .fanout(col("doc_id")) // CPU-heavy tokenize over a byte-small scan
        .withColumn("t", tokens(col("text")))
        .select(col("doc_id"), col("t"), size(col("t")).as("n"))
        .select(col("doc_id"),
          explode(expr(s"transform(sequence(0, n - 1, $block), " +
            s"s -> concat_ws(' ', slice(t, s + 1, $block)))")).as("blk"))
        .select(col("doc_id"), md5(col("blk")).as("bh")))
    val docFreq = blocks.select(col("doc_id"), col("bh")).distinct()
      .groupBy(col("bh")).agg(count(lit(1)).as("bdf"))
    blocks.join(docFreq, Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("bdf") >= 2, 1L).otherwise(0L)).as("n_dup_blocks"))
      .withColumn("dup_ratio",
        col("n_dup_blocks").cast("double") / col("n_blocks").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** FUZZY token pairs — all vocabulary pairs within edit distance 1
    * via the DELETION-NEIGHBORHOOD join (the FastSS candidate scheme,
    * Bocek et al. 2007 — public literature): two strings are within
    * one edit iff they share a member of each other's {self} ∪
    * {single-char deletions} key sets, so an equi-join on those keys
    * has recall 1 BY CONSTRUCTION for distance ≤ 1; an exact
    * `levenshtein` then verifies the survivors (a shared deletion can
    * also come from a transposition at distance 2). The candidates-
    * then-verify design language of the dedup families, applied to the
    * typo/variant-normalization pass of corpus cleaning.
    *
    * This corpus's natural vocabulary is mutually distant (zero
    * edit-1 pairs), so the input models a TYPO FEED the way
    * [[dExactDedup]] models re-inserts: the distinct tokens unioned
    * with their first-char-deletion variants (length ≥ 4 — derivable
    * identically in the oracle's SQL).
    *
    * Scale shape: keys per token = length+1 (bounded by token length),
    * the self-join is a hash equi-join on the key — no cross join, no
    * broadcast of the vocabulary. At web scale short tokens' deletion
    * keys get hot ("a", 1-char keys); production caps the neighborhood
    * at token length ≥ 3 or drops keys above a document-frequency
    * bound — the same hot-bucket countermeasure as the prefix family's
    * rarest-shingle keys. */
  def dFuzzyTokenPairs(spark: SparkSession, dir: String): DataFrame = {
    val vocab0 = documents(spark, dir)
      .select(explode(tokens(col("text"))).as("t"))
      .distinct()
    val vocab = vocab0.unionByName(
        vocab0.filter(length(col("t")) >= 4)
          .select(expr("substring(t, 2)").as("t")))
      .distinct()
    // fanout: the deletion-neighborhood explode is CPU-heavy and the
    // distinct's tiny output otherwise coalesces to one task under AQE
    val keyed = vocab.fanout(col("t")).select(col("t"), explode(expr(
      """array_distinct(concat(array(t),
        |  transform(sequence(1, length(t)),
        |    i -> concat(substring(t, 1, i - 1), substring(t, i + 1)))))"""
        .stripMargin)).as("k"))
    keyed.as("a").join(keyed.as("b"), col("a.k") === col("b.k"))
      .filter(col("a.t") < col("b.t"))
      .select(col("a.t").as("tok_a"), col("b.t").as("tok_b"))
      .distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) === 1)
      .orderBy(col("tok_a"), col("tok_b"))
  }

  /** Per-document shingle NOVELTY — the memorization-risk metric of a
    * training corpus: for each doc, the fraction of its distinct
    * 3-token shingles that appear in NO other document (novelty 0 = the
    * doc is entirely assembled from phrases that exist elsewhere). The
    * aggregate view of the same shingle-sharing structure the pair
    * miners ([[dMinhashPairs]]) sample, useful as a corpus health
    * metric and as a cheap pre-filter before pair mining.
    *
    * Scale shape: one explode to per-doc DISTINCT shingle rows
    * (persisted — both the document-frequency aggregation and the join
    * back consume it), one hash-partitioned count per shingle, and a
    * shingle-keyed join back — all corpus-scale relations stay
    * hash-partitioned and AQE-owned, nothing is broadcast (the shingle
    * vocabulary grows with the corpus, unlike the bounded token vocab).
    * Docs with <3 tokens have no shingles and no row — stated in the
    * oracle too. Novelty = one IEEE double division, identical both
    * engines. */
  def dShingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = QueryCaches.persistTracked(documents(spark, dir)
      .fanout(col("doc_id")) // CPU-heavy shingling over a byte-small scan
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 3) // sequence(0, negative) counts DOWN
      .select(col("doc_id"),
        explode(expr("array_distinct(transform(sequence(0, size(t) - 3), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))")).as("shingle")))
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty",
        lit(1.0) - col("n_shared").cast("double") /
          col("n_shingles").cast("double"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        col("novelty"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-duplicate pairs: all (a < b) pairs within hamming
    * distance `maxHamming` of each other's 64-bit SimHash — the
    * signature-distance dedup family (Manku/Jain/Sarma's web-dedup
    * formulation), closing the loop the plain [[dSimhash]] signature
    * query opens.
    *
    * Candidates by the MULTI-INDEX PIGEONHOLE: the 64-bit signature
    * splits into 4 disjoint 16-bit chunks; a pair with ≤ 3 differing
    * bits must agree EXACTLY on at least one chunk (4 chunks, 3
    * differences — one chunk is untouched), so a self-equi-join on
    * (chunk_idx, chunk_value) has recall 1 BY CONSTRUCTION — not the
    * probabilistic band-recall argument of minhash; the exact all-pairs
    * oracle is equal, not just overwhelmingly likely. Verify =
    * `bit_count(xor)` over the halves on candidates only.
    *
    * Scale shape: same as the LSH pipeline — one narrow single-pass
    * signature map ([[graft.functions.GramHash.simhash64]]), a hash
    * shuffle on chunk buckets, never all-pairs. */
  def dSimhashPairs(spark: SparkSession, dir: String,
                    maxHamming: Int = 3): DataFrame = {
    // 4 disjoint chunks pigeonhole up to 3 differing bits; a larger
    // radius needs more chunks or multi-chunk probing — refuse rather
    // than silently lose the recall-1 guarantee the scaladoc promises
    require(maxHamming <= 3,
      s"4-chunk pigeonhole guarantees recall only for maxHamming <= 3, got $maxHamming")
    val sh = QueryCaches.persistTracked(documents(spark, dir)
      .fanout(col("doc_id"))
      .select(col("doc_id"), expr("simhash64(text)").as("s"))
      .select(col("doc_id"),
        element_at(col("s"), 1).as("sim_lo"),
        element_at(col("s"), 2).as("sim_hi")))

    // 4 × 16-bit chunk keys; halves are non-negative so DIV/% are safe
    val chunked = sh.select(col("doc_id"),
      posexplode(array(
        expr("sim_lo % 65536"), expr("sim_lo DIV 65536"),
        expr("sim_hi % 65536"), expr("sim_hi DIV 65536")))
        .as(Seq("chunk", "v")))

    val cand = chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sim_lo").as("lo_a"),
        col("sim_hi").as("hi_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sim_lo").as("lo_b"),
        col("sim_hi").as("hi_b")), "doc_b")
      .withColumn("hamming",
        (bit_count(expr("lo_a ^ lo_b")) + bit_count(expr("hi_a ^ hi_b")))
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SUBSTRING-level dedup — duplicated-SPAN coverage per document, the
    * sixth dedup granularity (exact / MinHash / n-gram / SimHash /
    * embedding work at DOCUMENT grain; this one finds the duplicated
    * passages INSIDE otherwise-unique documents — the exact-substring
    * formulation of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 — public literature).
    *
    * A position's `w`-token window is DUPLICATED iff the same window
    * string occurs at ≥2 positions corpus-wide (another doc, or another
    * position of the same doc). Overlapping/adjacent duplicated windows
    * merge into maximal SPANS (gaps-and-islands, the [[w_sessionize]]
    * shape at token granularity); each doc reports its duplicated-window
    * count, span count, covered-token total, and covered fraction — the
    * numbers a span-removal pass needs.
    *
    * The input models partial duplication explicitly (the raw corpus
    * only carries whole-doc twins, which would leave the span-merge
    * logic decorative): every doc_id ≡ 0 (mod 5) with ≥30 tokens
    * re-enters as a REMIX — its first 12 tokens + a unique glue token +
    * its last 12 tokens under a shifted id (the 10^k shift device of
    * [[TextAnalysis.tDecontaminate]]) — the quote-splicing shape real
    * crawls produce. Source docs then carry TWO partial spans (head and
    * tail), remixes carry two spans around never-matching glue.
    *
    * Scale shape: windows explode to (doc, pos, win) rows — w× the
    * token volume, same order as the shingle relations; ONE
    * hash-partitioned occurrence count per window string (map-side
    * combined; the window vocabulary grows with the corpus so it stays
    * hash-partitioned/AQE-owned, never broadcast — the
    * [[dShingleNovelty]] reasoning); the join back is window-keyed; the
    * islands windows partition BY DOC (doc-length-bounded tasks, no
    * corpus-wide window). All integer arithmetic; the fraction is one
    * IEEE division — bit-identical in the DuckDB oracle. */
  def dDupSpans(spark: SparkSession, dir: String, w: Int = SpanW): DataFrame = {
    // fanout: the window explode and the length map are CPU-heavy over
    // a byte-small scan (the house pattern — see signatures)
    val corpus = spansCorpus(documents(spark, dir)).fanout(col("doc_id"))
    // persisted: the occurrence count and the join back both read it
    // (tracked cache contract — released by the materializer)
    val wins = QueryCaches.persistTracked(
      windowRows(corpus, w))
    val lengths = corpus
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .select(col("doc_id"), col("n_tokens"))
    spansFromWindows(wins, lengths, w).orderBy(col("doc_id"))
  }

  /** Window width of the substring-dedup family — one constant shared
    * by the batch query, the streaming index MV, and the island
    * arithmetic so the three cannot drift. */
  private[graft] val SpanW = 8

  /** The MODELED corpus of the substring family: the raw documents plus
    * a deterministic REMIX per doc_id ≡ 0 (mod 5) with ≥30 tokens —
    * its first 12 tokens + a unique glue token + its last 12 tokens
    * under a 10^k-shifted id (the [[TextAnalysis.tDecontaminate]] shift
    * device: collision-free at any scale, one metadata-cheap max()
    * scan). Shared by the batch query and the streaming twin's feed. */
  private[graft] def spansCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), trim(col("text")).as("text"))
    val shift = graft.Tables.idShift(base, "doc_id")
    val remix = base
      .withColumn("t", tokens(col("text")))
      .filter(col("doc_id") % 5 === 0 && size(col("t")) >= 30)
      .select((col("doc_id") + shift).as("doc_id"),
        concat(
          concat_ws(" ", slice(col("t"), 1, 12)),
          lit(" xq"), col("doc_id").cast("string"), lit("xq "),
          concat_ws(" ", expr("slice(t, size(t) - 11, 12)"))).as("text"))
    base.unionByName(remix)
  }

  /** (doc_id, pos, win) rows: every `w`-token window of every document
    * with its 0-based token position — the substring-family index
    * relation (batch pass AND the streaming MV's per-batch increment).
    * A narrow map + posexplode; docs shorter than `w` have no windows
    * (`sequence(0, negative)` counts DOWN — filtered first). */
  private[graft] def windowRows(corpus: DataFrame, w: Int = SpanW): DataFrame = {
    val winExpr = "transform(sequence(0, size(t) - " + w + "), i -> " +
      "concat_ws(' ', " +
      (0 until w).map(j => s"t[i+$j]").mkString(", ") + "))"
    corpus
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), posexplode(expr(winExpr)).as(Seq("pos", "win")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("win"))
  }

  /** Duplicated-span aggregation over a (doc_id, pos, win) relation —
    * ONE implementation read by the batch query and the streaming twin,
    * so "streamed index answers identically" is a property of the index
    * build alone. A position is duplicated iff its window string occurs
    * ≥2 times corpus-wide; duplicated positions merge into maximal
    * spans per doc (gaps-and-islands: a new span starts where the
    * position clears the running max covered end + 1 — overlap OR
    * adjacency merges; coverage is identical either way, span counts
    * are what a removal pass reports). `lengths` = (doc_id, n_tokens)
    * for EVERY doc, restoring zero-dup and shorter-than-w docs. */
  private[graft] def spansFromWindows(wins: DataFrame, lengths: DataFrame,
      w: Int = SpanW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = wins.groupBy(col("win")).agg(count(lit(1)).as("occ"))
    val dup = wins.join(occ, "win").filter(col("occ") >= 2)
      .select(col("doc_id"), col("pos"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = dup
      .withColumn("prev_end", max(col("pos") + lit(w - 1)).over(wPrev))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("new_span")).over(wCum))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), max(col("pos") + lit(w - 1)).as("e"),
        count(lit(1)).as("nw"))
    val per = spans.groupBy(col("doc_id"))
      .agg(sum(col("nw")).as("n_dup_windows"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("covered_tokens"))
    lengths
      .join(per, Seq("doc_id"), "left")
      .withColumn("n_dup_windows",
        coalesce(col("n_dup_windows"), lit(0L)).cast("long"))
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)).cast("long"))
      .withColumn("covered_tokens",
        coalesce(col("covered_tokens"), lit(0L)).cast("long"))
      .withColumn("dup_span_frac",
        when(col("n_tokens") > 0,
          col("covered_tokens").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** 32-bit SimHash signature per document over its distinct tokens.
    *
    * Bit b of md5(token) is extracted portably: hex nibble via
    * instr('0123456789abcdef', …) then integer shifts spelled as
    * DIV/%, identical in the DuckDB oracle. Bit b of the signature is
    * set iff Σ_tokens (2·bit_b − 1) ≥ 0. Everything is exact integer
    * arithmetic — bit-stable across engines. */
  def dSimhash(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", md5(col("tok"))) // hash once, not once per bit
    tok
      .select(col("doc_id"), col("h"),
        explode(expr("sequence(0, 31)")).as("b"))
      .withColumn("nib",
        expr("instr('0123456789abcdef', substring(h, CAST(b DIV 4 AS int) + 1, 1)) - 1"))
      .withColumn("bit",
        expr("CASE b % 4 WHEN 0 THEN nib DIV 8 WHEN 1 THEN (nib DIV 4) % 2 " +
          "WHEN 2 THEN (nib DIV 2) % 2 ELSE nib % 2 END"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(expr("2 * bit - 1")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("(CASE WHEN s >= 0 THEN 1 ELSE 0 END) * CAST(pow(2, b) AS bigint)"))
        .cast("long").as("simhash"))
      .orderBy(col("doc_id"))
  }
}
