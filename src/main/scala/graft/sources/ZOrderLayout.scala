package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Z-ORDER (Morton-curve) DATA LAYOUT — multi-dimensional clustering
  * for scan pruning, the lakehouse technique (Delta `OPTIMIZE ZORDER
  * BY`, Iceberg sort-order z-curves) that makes BOTH `user_id` range
  * predicates AND `ts` day predicates prune files/row-groups from ONE
  * physical sort order. A 1-D sort on `user_id` gives min/max footer
  * stats that prune user predicates perfectly and day predicates not
  * at all; sorting by the interleaved Morton code gives every file a
  * small bounding BOX in (user, day) space, so a 2-D box predicate
  * touches only the files whose box intersects it.
  *
  * The code interleaves the low 16 bits of each dimension
  * (bit i of x → bit 2i, bit i of y → bit 2i+1 — the standard Morton
  * construction), entirely with codegen'd integer ops
  * (`aggregate(sequence(...))` — no UDF), and identically spelled in
  * the DuckDB oracle via `list_sum(list_transform(range(...)))`.
  *
  * Scale: the z-code is a narrow per-row projection; the layout write
  * is `repartitionByRange(zcode)` + within-partition sort — one range
  * shuffle, the same cost as any global sort, paid once at write time
  * to make every later 2-D scan cheaper. The locality REPORT (the gate
  * query) aggregates per z-bucket bounding boxes — bucket-count-bounded
  * output, one hash aggregation.
  */
object ZOrderLayout {

  /** Morton interleave of the low 16 bits of two non-negative BIGINT
    * columns (by name): Σ_i ((x>>i)&1)<<2i + ((y>>i)&1)<<(2i+1), as one
    * codegen'd higher-order-function fold — bit-exact in any engine. */
  def zcode16(x: String, y: String): Column = expr(
    s"aggregate(sequence(0, 15), 0L, (acc, i) -> acc" +
      s" + shiftleft(shiftright($x, i) & 1L, 2 * i)" +
      s" + shiftleft(shiftright($y, i) & 1L, 2 * i + 1))")

  /** Events with the 2-D key: x = user_id mod 2¹⁶ (order-preserving for
    * this corpus's id range; at >65k users widen to 21+21+21-bit 3-D
    * codes), y = epoch day REBASED to the corpus's first day — without
    * the rebase the day dimension's HIGH bits are constant (epoch day
    * ≈ 20.6k for a one-month corpus) and every row lands in one global
    * z-slice; interleaving only the VARYING bits is what makes the
    * curve locality real (production z-order does the same via
    * per-column range indexes). The rebase constant is one scalar
    * aggregate — the k-means-constant discipline. */
  /** Guarded scalar-constant collect: min/max over an EMPTY relation
    * aggregates to NULL, and `getLong` on that is an opaque NPE — fail
    * with the actual cause instead (ADVICE r11). */
  private def scalarLong(row: org.apache.spark.sql.Row, i: Int,
      what: String): Long = {
    require(!row.isNullAt(i),
      s"z-order layout: $what aggregated to NULL — empty input relation")
    row.getLong(i)
  }

  private def keyed(spark: SparkSession, dir: String): DataFrame = {
    val base = events(spark, dir)
      .withColumn("x", pmod(col("user_id"), lit(65536)).cast("long"))
      .withColumn("yd", expr(s"ts DIV ${86400L * 1000000000L}L"))
    val d0 =
      scalarLong(base.agg(min(col("yd"))).collect()(0), 0, "min(epoch day)")
    base
      .withColumn("y", col("yd") - lit(d0))
      .withColumn("zcode", zcode16("x", "y"))
      .drop("yd")
  }

  /** The LOCALITY REPORT (gate query `v_zorder_layout`): slice the
    * OCCUPIED z-range into 64 equal buckets (what 64 z-sorted files
    * would hold if each z-slice were a file) and report each slice's
    * row count and (user, day-offset) bounding box — small boxes = the
    * pruning win. Exact integers end to end (zcode < 2³², so the ×64
    * scaling stays far inside int64). */
  def vZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val z = graft.QueryCaches.persistTracked(keyed(spark, dir))
    val zMax =
      scalarLong(z.agg(max(col("zcode"))).collect()(0), 0, "max(zcode)")
    z.withColumn("z_bucket", expr(s"(zcode * 64L) DIV ${zMax + 1}L"))
      .groupBy(col("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_user"), max(col("x")).as("max_user"),
        min(col("y")).as("min_day"), max(col("y")).as("max_day"))
      .withColumn("box_area",
        (col("max_user") - col("min_user") + 1) *
          (col("max_day") - col("min_day") + 1))
      .orderBy(col("z_bucket"))
  }

  /** BALANCED z-key for the physical layout: quantize each dimension to
    * `bits` equal-width cells over its OBSERVED [min, max] before
    * interleaving. Raw interleave degrades when ranges are asymmetric —
    * measured at sf1 (users 0..40k = 16 bits, days 0..29 = 5 bits): any
    * contiguous z-span wide enough to fill a file cycles through EVERY
    * day value, so per-file day stats stop pruning (64/64 files touched
    * by a 2-day box). Balancing the bit budget is what production
    * OPTIMIZE ZORDER does (rank/range quantization per column); after
    * it, a 64-file layout prunes a day-narrow box again at any SF. The
    * four bounds are one scalar aggregate (the k-means-constant
    * discipline); the cell math is exact integer. */
  def balancedZ(df: DataFrame, bits: Int = 8): DataFrame = {
    val b = df.agg(min(col("x")), max(col("x")), min(col("y")),
      max(col("y"))).collect()(0)
    val (x0, x1, y0, y1) =
      (scalarLong(b, 0, "min(x)"), scalarLong(b, 1, "max(x)"),
        scalarLong(b, 2, "min(y)"), scalarLong(b, 3, "max(y)"))
    val n = 1L << bits
    df.withColumn("xq",
        expr(s"((x - ${x0}L) * ${n}L) DIV ${x1 - x0 + 1}L"))
      .withColumn("yq",
        expr(s"((y - ${y0}L) * ${n}L) DIV ${y1 - y0 + 1}L"))
      .withColumn("zq", expr(
        s"aggregate(sequence(0, ${bits - 1}), 0L, (acc, i) -> acc" +
          " + shiftleft(shiftright(xq, i) & 1L, 2 * i)" +
          " + shiftleft(shiftright(yq, i) & 1L, 2 * i + 1))"))
  }

  /** Write `df` as `nFiles` files clustered by the BALANCED z-key
    * (range-partition + per-file sort — the OPTIMIZE ZORDER write
    * path). Returns the directory. Used by the pruning spec (and by
    * the ZorderPrune tool, removed; kept in commit 58ab0d2); at scale
    * this is the compaction job's output layout. */
  def writeZOrdered(df: DataFrame, path: String, nFiles: Int): String = {
    balancedZ(df).repartitionByRange(nFiles, col("zq"))
      .sortWithinPartitions(col("zq"))
      .drop("xq", "yq", "zq")
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Write the same rows clustered 1-D by `x` only — the baseline
    * layout the spec compares against. */
  def writeLinear(df: DataFrame, path: String, nFiles: Int): String = {
    df.repartitionByRange(nFiles, col("x"))
      .sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(path)
    path
  }

  /** File-level pruning simulation: per parquet file, does its
    * (x, y) bounding box intersect the query box? — exactly the
    * min/max-stat decision a reader's row-group/file pruner makes.
    * Returns (files_total, files_touched). */
  def filesTouched(spark: SparkSession, path: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): (Long, Long) = {
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("x")).as("x0"), max(col("x")).as("x1"),
        min(col("y")).as("y0"), max(col("y")).as("y1"))
    val total = stats.count()
    val touched = stats
      .filter(col("x1") >= xLo && col("x0") <= xHi &&
        col("y1") >= yLo && col("y0") <= yHi)
      .count()
    (total, touched)
  }

  def keyedEvents(spark: SparkSession, dir: String): DataFrame =
    keyed(spark, dir)
}
