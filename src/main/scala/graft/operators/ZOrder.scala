package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) data layout — multi-dimensional clustering
  * for min/max file skipping, the Delta/Iceberg `OPTIMIZE ZORDER BY`
  * technique re-expressed with plain Spark primitives.
  *
  * WHY IT EXISTS AT 100 TB: a table sorted on one key prunes parquet
  * row groups on that key only — a predicate on any other column reads
  * the whole table. Interleaving the bits of two (or more) keys makes
  * every file a small HYPER-RECTANGLE in key space, so each file's
  * per-column min/max footer stats become selective for EVERY interleaved
  * dimension at once, and an engine-side box predicate skips all but
  * O(perimeter) of the files. Nothing here is a new execution operator
  * — the payoff is entirely inside the parquet reader's existing
  * row-group skipping, which is the point: layout work at write time,
  * zero read-path code.
  *
  * The bit-spreading is six codegen'd bitwise ops per dimension
  * (`shiftleft`/AND/OR builtins — stays inside WholeStageCodegen; no
  * UDF), and the write is one stats pass + `repartitionByRange` on the
  * interleaved key + an in-partition sort: exactly one extra shuffle
  * over a plain write, independent of dimension count.
  *
  * Keys are min/max-scaled to 21 bits per dimension before
  * interleaving (two dims → 42-bit positive codes). Linear scaling
  * keeps the stats pass to one `agg`; heavily SKEWED keys would crowd
  * into few cells and equi-depth binning (approxQuantile ranks) would
  * be the upgrade — the range partitioner still balances FILE SIZES
  * regardless (it splits on the code distribution, not the code
  * space), so skew costs pruning selectivity, never write balance.
  *
  * Reference analog: none (the reference's Postgres tables rely on
  * B-tree indexes; at parquet scale the layout IS the index).
  */
object ZOrder {

  /** Spread the low 21 bits of `c` so consecutive input bits land two
    * positions apart (even positions of a 42-bit code).
    */
  private def spread(c: Column): Column = {
    var x = c.bitwiseAND(lit(0x1FFFFFL))
    x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Morton interleave of two already-scaled 21-bit non-negative
    * codes: a's bits at even positions, b's at odd.
    */
  def morton(a: Column, b: Column): Column =
    spread(a).bitwiseOR(shiftleft(spread(b), 1))

  /** `c` min/max-scaled to [0, 2^21): one affine map per row from the
    * precomputed (mn, mx) stats.
    */
  private def scale21(c: Column, mn: Double, mx: Double): Column = {
    val span = math.max(mx - mn, 1e-300)
    least(floor((c.cast("double") - lit(mn)) / lit(span) * lit(1 << 21)),
      lit((1 << 21) - 1)).cast("long")
  }

  /** `df` clustered on the Morton curve of (c1, c2) — the pre-write
    * plan writeLayout executes, exposed so the ONE-extra-exchange
    * write-cost claim is assertable on the physical plan
    * (PlanShapeSpec). One stats scan up front; the returned plan is a
    * single range exchange + in-partition sort.
    */
  def clustered(df: DataFrame, c1: String, c2: String,
                numFiles: Int): DataFrame = {
    val st = df.agg(min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    // empty input / all-null keys: no stats to scale by — clustering is
    // moot, so degrade to a plain repartition instead of an NPE (nulls
    // in a NON-empty column are fine: scale21 maps them to a null code,
    // which range-partitions into the first file)
    if (st.isNullAt(0) || st.isNullAt(2)) return df.repartition(numFiles)
    val z = morton(scale21(col(c1), st.getDouble(0), st.getDouble(1)),
      scale21(col(c2), st.getDouble(2), st.getDouble(3)))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Rewrite `df` as `numFiles` parquet files under `path`, clustered
    * on the Morton curve of (c1, c2). One stats scan + one range
    * shuffle; every output file covers a contiguous code range, i.e. a
    * small box in (c1, c2) space, which is what makes its footer
    * min/max selective on BOTH columns.
    */
  def writeLayout(df: DataFrame, path: String, c1: String, c2: String,
                  numFiles: Int): Unit =
    clustered(df, c1, c2, numFiles).write.mode("overwrite").parquet(path)

  /** Per-file (min, max) box of two columns — the reader-side view of
    * what parquet footer stats will offer a scan, used to ASSERT
    * pruning selectivity without depending on runtime metrics.
    */
  def fileBoxes(df: DataFrame, c1: String, c2: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(c1)).as("min1"), max(col(c1)).as("max1"),
        min(col(c2)).as("min2"), max(col(c2)).as("max2"))

  /** `c` mapped to its EQUI-DEPTH bin index in [0, bins): the skew
    * answer writeLayout's doc promises. Linear min/max scaling is
    * surprisingly robust to smooth skew (the range partitioner splits
    * on the CODE DISTRIBUTION, so file boundaries adapt to mass and
    * 21 bits of resolution absorb ~10^6:1 span compression — ZOrderSpec
    * measures x² skew NOT degenerating it), but it has a hard failure
    * mode: OUTLIER span inflation. A handful of sentinel values
    * (MAX-int ids, 9999-12-31 timestamps) stretch min/max so far that
    * the entire real population collapses onto one scaled code — zero
    * resolution, the Morton curve degenerates to the other dimension,
    * and predicates on this column stop pruning entirely. Binning by
    * approximate quantile boundaries instead makes the code space
    * uniform in ROW MASS by construction, so resolution tracks
    * row-fraction, not value-span, under any distribution. Heavy ties
    * collapse into one bin (equal values are not separable by any
    * layout) — that costs resolution only where the data itself has
    * none.
    *
    * The per-row map is a binary search over the broadcast boundary
    * array — a scalar UDF, but on the WRITE path only (reads stay pure
    * parquet scans), and `bins` boundaries come from one approxQuantile
    * sketch pass, not a sort.
    */
  private def eqBin(boundaries: Array[Double], bins: Int, c: Column): Column = {
    // interior boundaries only: values < b(1) → bin 0 (an exact
    // boundary match goes to the bin ABOVE), > b(bins-1) → bins-1
    val inner = boundaries.slice(1, bins)
    val u = udf((v: java.lang.Double) =>
      if (v == null) 0L
      else {
        val i = java.util.Arrays.binarySearch(inner, v.doubleValue())
        (if (i >= 0) i + 1 else -(i + 1)).toLong
      })
    u(c.cast("double"))
  }

  /** The equi-depth sibling of clustered() — one approxQuantile sketch
    * pass up front, then the same single range exchange + sort.
    */
  def clusteredEqDepth(df: DataFrame, c1: String, c2: String,
                       numFiles: Int, bins: Int = 1 << 12): DataFrame = {
    require(bins > 1 && bins <= (1 << 21), s"bins=$bins out of (1, 2^21]")
    val probs = (0 to bins).map(_.toDouble / bins).toArray
    val bnd = df.stat.approxQuantile(Array(c1, c2), probs, 0.25 / bins)
    // approxQuantile returns an EMPTY boundary array for a column with
    // no non-null values — same degenerate case as clustered()
    if (bnd(0).isEmpty || bnd(1).isEmpty) return df.repartition(numFiles)
    val z = morton(eqBin(bnd(0), bins, col(c1)), eqBin(bnd(1), bins, col(c2)))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** writeLayout with equi-depth (quantile-rank) binning instead of
    * linear scaling — same single extra range shuffle, same read path;
    * the stats pass is one approxQuantile sketch over both columns.
    * `bins` ≤ 2^21 per dimension (default 2^12 — 4096 mass-uniform
    * cells per axis is far finer than any realistic file count).
    */
  def writeLayoutEqDepth(df: DataFrame, path: String, c1: String, c2: String,
                         numFiles: Int, bins: Int = 1 << 12): Unit =
    clusteredEqDepth(df, c1, c2, numFiles, bins)
      .write.mode("overwrite").parquet(path)

  /** How many of fileBoxes' per-file (min, max) boxes intersect the
    * query box [lo1,hi1]×[lo2,hi2] — the ONE intersection predicate
    * shared by every pruning assertion (k18/k19 gates, ZOrderSpec),
    * so the positional row layout lives in one place.
    * Pass Long.MinValue/MaxValue for an unconstrained side.
    */
  def boxHits(boxes: Array[org.apache.spark.sql.Row],
              lo1: Long, hi1: Long, lo2: Long, hi2: Long): Int =
    boxes.count(r => !(r.getLong(2) < lo1 || r.getLong(1) > hi1 ||
      r.getLong(4) < lo2 || r.getLong(3) > hi2))
}
