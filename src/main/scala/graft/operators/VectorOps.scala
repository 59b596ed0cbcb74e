package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared embedding-vector helpers: double-cast + squared norm, cosine
  * between two vector columns, and the deterministic random-hyperplane
  * LSH bucket (integer hyperplanes — reproducible across engines, no
  * RNG state to ship to executors).
  */
object VectorOps {

  /** vec table → (vec_id, label, v: array<double>, nn: squared norm) */
  def vecs(df: DataFrame): DataFrame =
    df.withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("nn", expr("aggregate(v, cast(0 as double), (a, x) -> a + x * x)"))

  /** cosine of columns `a` and `b` given squared norms `na`, `nb` —
    * the codegen'd native expression (graft.functions.CosineSim; the
    * session must have it registered, see GraftExtensions). Same
    * left-to-right fold as the old `aggregate(zip_with(...))`
    * formulation, bit-identical values, one fused compiled loop.
    */
  def cosine(a: String, b: String, na: String, nb: String): Column =
    expr(s"cosine_sim($a, $b, $na, $nb)")


  /** `bits`-bit hyperplane bucket of vector column `v`;
    * hyperplane j component i = ((i*31 + j*17) mod 7) - 3. The bit
    * count is the INDEX-SIZE knob: buckets must scale with the corpus
    * (target a few hundred vectors per bucket), or candidate
    * generation degenerates toward all-pairs — 16 buckets are right
    * for thousands of vectors, hopeless for millions. More bits =
    * fewer candidates per query, slightly lower recall on perturbed
    * near-dups (the standard hyperplane-LSH trade).
    */
  def bucketBits(bits: Int): Column = expr(
    // planes 0-3: the legacy arithmetic family (bit-stable with the
    // DuckDB oracle). Planes 4+: Murmur3 hash(i, j) components — the
    // arithmetic family repeats with period 7 in j, so higher planes
    // would duplicate lower ones and add no discrimination.
    s"""aggregate(sequence(0, ${bits - 1}), 0, (acc, j) -> acc +
       IF(aggregate(transform(sequence(0, size(v) - 1),
            i -> v[i] * cast(IF(j < 4, (i * 31 + j * 17) % 7 - 3,
                                pmod(hash(i, j), 7) - 3) as double)),
          cast(0 as double), (a, x) -> a + x) > 0, shiftleft(1, j), 0))""")

  /** 4-bit default — the gated-query configuration (oracle parity). */
  val bucket: Column = bucketBits(4)

  /** Bucket id in hash TABLE `t` of a multi-table LSH index (the
    * standard recall lever: L independent hyperplane families, a query
    * probes its bucket in EVERY table and candidates are the union —
    * recall compounds as 1-(1-p)^L while per-table selectivity stays
    * high). Plane components are Murmur3-seeded by (i, j, t) so tables
    * are independent; t = 0 is NOT the single-table family (that one
    * keeps its legacy arithmetic planes for oracle parity).
    */
  def bucketTable(bits: Int, t: Int): Column = expr(
    s"""aggregate(sequence(0, ${bits - 1}), 0, (acc, j) -> acc +
       IF(aggregate(transform(sequence(0, size(v) - 1),
            i -> v[i] * cast(pmod(hash(i, j, $t), 7) - 3 as double)),
          cast(0 as double), (a, x) -> a + x) > 0, shiftleft(1, j), 0))""")

  /** i-stride/j-stride per table, all coprime to the mod-7 component
    * ring — the table family the GATED multi-table query uses, chosen
    * engine-neutral (plain integer arithmetic) so a DuckDB oracle can
    * restate every plane; the Murmur3 `bucketTable` family above is the
    * non-gated default (stronger independence, not SQL-portable).
    */
  private val tableI = Array(31, 5, 2, 6)
  private val tableJ = Array(17, 19, 23, 29)

  def bucketTableOracle(bits: Int, t: Int): Column = expr(
    s"""aggregate(sequence(0, ${bits - 1}), 0, (acc, j) -> acc +
       IF(aggregate(transform(sequence(0, size(v) - 1),
            i -> v[i] * cast((i * ${tableI(t)} + j * ${tableJ(t)}) % 7 - 3 as double)),
          cast(0 as double), (a, x) -> a + x) > 0, shiftleft(1, j), 0))""")

  /** DuckDB restatement of bucketTableOracle(bits, t) over column `v` */
  def duckBucketTable(bits: Int, t: Int): String =
    s"""list_aggregate(list_transform(range(0, $bits), j ->
         CASE WHEN list_aggregate(list_transform(range(1, len(v) + 1),
           i -> v[i] * (((i - 1) * ${tableI(t)} + j * ${tableJ(t)}) % 7 - 3)),
           'sum') > 0 THEN (1 << j) ELSE 0 END), 'sum')"""

  /** Per-bucket near-dup pair generation: one row per LSH bucket
    * carries its vectors ONCE; pairs are enumerated in a compiled loop
    * and only survivors (raw cos > minCos) are emitted. This avoids the
    * bucket equi-join's per-pair copy of both 64-dim arrays (profiled
    * at ~3.6 s for 175 k pairs at sf0.1 — the copy, not the math, was
    * the cost). Dot runs left-to-right, matching the SQL fold
    * bit-for-bit; exact thresholding happens OUTSIDE on the rounded
    * value, so `minCos` here is a slightly-lower prefilter margin.
    */
  val bucketPairsUdf = udf {
    (ids: Seq[Long], vs: Seq[Seq[Double]], nns: Seq[Double], minCos: Double) =>
      val order = ids.indices.sortBy(ids)
      val n = order.length
      val arrs = order.map(i => vs(i).toArray)
      val out = Seq.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val a = arrs(i); val b = arrs(j)
          var s = 0.0
          var k = 0
          while (k < a.length) { s += a(k) * b(k); k += 1 }
          val cos = s / (math.sqrt(nns(order(i))) * math.sqrt(nns(order(j))))
          if (cos > minCos) out += ((ids(order(i)), ids(order(j)), cos))
          j += 1
        }
        i += 1
      }
      out.result()
  }

  /** Bucket-blocked near-dup candidate pairs with a bucket-size cap.
    * Input `e` must carry (vec_id, v, nn, bucket). Cold buckets (≤
    * `bucketCap` vectors) take the one-row-per-bucket compiled-loop
    * path (bucketPairsUdf — avoids the equi-join's per-pair array
    * copies); buckets above the cap would make that one row multi-GB
    * and its expansion a single unsplittable task, so they are routed
    * through a plain self equi-join on `bucket`, which AQE skew-join
    * can split. Hot-bucket keys are broadcast (few by construction).
    * Both paths fold the dot product left-to-right, so emitted cosines
    * are bit-identical; output is (ia, ib, cos) with raw cos > minCos
    * (prefilter — exact thresholding on the rounded value is the
    * caller's job).
    */
  def neardupPairs(e: DataFrame, minCos: Double,
                   bucketCap: Int = 1000): DataFrame = {
    graft.GraftExtensions.registerNative(e.sparkSession)
    // see MinHashLSH.candidatePairs: the cap bounds the quadratic
    // collect-path work per task (≤500k candidate dot products), and
    // here each row also carries its 64-dim vector — a 10k bucket
    // would hold 10k vectors in ONE row.
    val v = e.select("vec_id", "v", "nn", "bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded driver action (≤ rows/bucketCap keys — see
    // MinHashLSH.candidatePairs); with no hot buckets the plan is the
    // plain one-path collect from cache, no broadcast probes/union
    val hotKeys = v.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .where(col("__n") > bucketCap).select("bucket").collect()
    def coldPairs(src: DataFrame): DataFrame = src
      .groupBy("bucket")
      .agg(collect_list(col("vec_id")).as("ids"),
        collect_list(col("v")).as("vs"),
        collect_list(col("nn")).as("nns"))
      .select(explode(bucketPairsUdf(
        col("ids"), col("vs"), col("nns"), lit(minCos))).as("p"))
      .select(col("p._1").as("ia"), col("p._2").as("ib"), col("p._3").as("cos"))
    if (hotKeys.isEmpty) coldPairs(v)
    else {
      val spark = e.sparkSession
      val hot = spark.createDataFrame(
        java.util.Arrays.asList(hotKeys: _*), v.select("bucket").schema)
      val cold = coldPairs(v.join(broadcast(hot), Seq("bucket"), "left_anti"))
      val hotRows = v.join(broadcast(hot), Seq("bucket"), "left_semi")
      val hotPairs = hotRows.select(col("bucket"), col("vec_id").as("ia"),
          col("v").as("va"), col("nn").as("na"))
        .join(hotRows.select(col("bucket"), col("vec_id").as("ib"),
          col("v").as("vb"), col("nn").as("nb")), Seq("bucket"))
        .where(col("ia") < col("ib"))
        .withColumn("cos", cosine("va", "vb", "na", "nb"))
        .where(col("cos") > minCos)
        .select(col("ia"), col("ib"), col("cos"))
      cold.union(hotPairs)
    }
  }

  // ------------------------------------------------------------------- IVF

  /** IVF coarse-quantizer cell assignment: argmax cosine over the
    * (small, broadcast-by-closure) centroid codebook — ZERO shuffle,
    * one compiled pass per row. Production trains the codebook with
    * k-means; the assignment/probe machinery is identical for any
    * centroid source, and data-sampled centroids keep the operator
    * deterministic (no RNG state). Ties break toward the lowest cell
    * id; the dot product folds left-to-right so the argmax is
    * bit-identical to the SQL restatement.
    */
  def ivfAssignUdf(cents: Seq[(Long, Array[Double], Double)]) =
    udf { (v: Seq[Double], nn: Double) =>
      if (quarantined(v, nn)) None
      else Some(bestCosIn(cents, v, nn))
    }

  /** nprobe nearest cells for a query vector (cells sorted by
    * similarity desc, cell id tiebreak — the IVF probe list).
    */
  def ivfProbeUdf(cents: Seq[(Long, Array[Double], Double)], nprobe: Int) =
    udf { (v: Seq[Double], nn: Double) =>
      if (quarantined(v, nn)) Seq.empty[Long]
      else cents.map { case (cid, cv, cn) => (cid, cosTo(cv, cn, v, nn)) }
        .sortBy { case (cid, cos) => (-cos, cid) }
        .take(nprobe).map(_._1)
    }

  /** the ONE quarantine rule of the cosine tier: null, empty, and
    * ZERO-NORM vectors have no cell (cosine is undefined at ‖v‖ = 0 —
    * every cosTo is NaN, so the argmax would return the -1 sentinel
    * and a cell=-1 partition could land on disk; quarantining at the
    * kernel keeps that impossible in every flat and two-level path)
    */
  private def quarantined(v: Seq[Double], nn: Double): Boolean =
    v == null || v.isEmpty || nn == 0.0

  /** THE one copy of the tier's scoring arithmetic — dot folded
    * left-to-right, then s/(√cn·√nn) — every assign/probe path (flat
    * and two-level) scores through here so a precision or fold-order
    * change can never desynchronize a path from the SQL restatement
    */
  private def cosTo(cv: Array[Double], cn: Double,
                    v: Seq[Double], nn: Double): Double = {
    var s = 0.0
    var i = 0
    while (i < cv.length) { s += cv(i) * v(i); i += 1 }
    s / (math.sqrt(cn) * math.sqrt(nn))
  }

  /** argmax-cosine over a cid-SORTED codebook scan — `>` keeps the
    * first (lowest-cid) entry on ties, the same contract ivfAssignUdf
    * states and the SQL `ORDER BY cs DESC, cid` restates
    */
  private def bestCosIn(cents: Seq[(Long, Array[Double], Double)],
                        v: Seq[Double], nn: Double): Long = {
    var best = -1L
    var bestCos = Double.NegativeInfinity
    for ((cid, cv, cn) <- cents) {
      val cos = cosTo(cv, cn, v, nn)
      if (cos > bestCos) { bestCos = cos; best = cid }
    }
    best
  }

  /** fine cells grouped under their cosine-nearest coarse cell — the
    * ONE routing rule both two-level UDFs share (inputs must be
    * cid-sorted; group member order is fine's encounter order)
    */
  private def routeFine(coarse: Seq[(Long, Array[Double], Double)],
                        fine: Seq[(Long, Array[Double], Double)])
      : Map[Long, Seq[(Long, Array[Double], Double)]] =
    fine.groupBy { case (_, fv, fn) => bestCosIn(coarse, fv.toSeq, fn) }

  /** TWO-LEVEL (coarse → fine) IVF cell assignment by COSINE — the
    * cosine face of KMeansLite.assignHierarchicalUdf, for the IVF tier
    * whose cell rule is argmax cosine (s6/s9's convention), needed the
    * moment nlist scales with the corpus: the flat ivfAssignUdf is
    * n·nlist dot products (d32's shape in a different metric); routing
    * through a coarse codebook of kc ≈ √nlist cells costs
    * n·(kc + nlist/kc) ≈ n·2√nlist. Each fine cell is grouped ONCE,
    * driver-side, under its nearest coarse cell (kc·nlist ops); a
    * vector resolves its coarse cell and argmaxes only that cell's
    * fine members. APPROXIMATE vs the flat argmax (a vector's true
    * nearest fine cell can sit under a neighboring coarse cell — the
    * standard IVF/IMI routing trade) but fully DETERMINISTIC given the
    * codebooks: both levels scan cid-sorted and tie low, so a SQL
    * oracle restates the exact rule. A coarse cell owning NO fine
    * members (seed-overlap pathology) falls back to the full fine
    * argmax — correctness-first and rare by construction.
    */
  def ivfAssignHierUdf(coarse0: Seq[(Long, Array[Double], Double)],
                       fine0: Seq[(Long, Array[Double], Double)]) = {
    require(coarse0.nonEmpty && fine0.nonEmpty,
      "ivfAssignHierUdf: both codebooks must be non-empty")
    val coarse = coarse0.sortBy(_._1)
    val fine = fine0.sortBy(_._1)
    val byCoarse = routeFine(coarse, fine)
    udf { (v: Seq[Double], nn: Double) =>
      if (quarantined(v, nn)) None
      else {
        val cands = byCoarse.getOrElse(bestCosIn(coarse, v, nn), fine)
        Some(bestCosIn(cands, v, nn))
      }
    }
  }

  /** TWO-LEVEL probe list: the query routes to its `pc` nearest COARSE
    * cells (cosine desc, cid asc) and ranks only THEIR fine members for
    * the `nprobe` probe targets — O(kc + pc·nlist/kc) per query instead
    * of ivfProbeUdf's O(nlist), the routing every at-scale IVF serves
    * queries through (a query stream pays the probe per query; at
    * nlist ∝ n the flat scan is linear-per-query). Same fallback rule
    * as the assignment: if the routed coarse cells own no fine members
    * at all, rank the full fine codebook.
    *
    * RECALL KNOBS, measured (AnnRecallSpec "two-level cosine routing",
    * k=16/kc=4 corpus): flat nprobe=2 recall@10 = 0.338; two-level
    * (pc=2, nprobe=2) = 0.275; widening nprobe WITHIN the matched
    * route to (pc=2, nprobe=4) RECOVERS PAST flat at 0.463; widening
    * pc instead to (pc=kc, nprobe=2) — a globally-flat probe over the
    * two-level assignment — LOSES at 0.213. Routing consistency beats
    * probe width: neighbors were assigned through their coarse route,
    * so probe the matched route and spend budget on `nprobe`, not
    * `pc`. The defaults are that measured recovery point; the gated
    * queries pin (2, 2) explicitly to price the cheapest trade.
    */
  def ivfProbeHierUdf(coarse0: Seq[(Long, Array[Double], Double)],
                      fine0: Seq[(Long, Array[Double], Double)],
                      pc: Int = 2, nprobe: Int = 4) = {
    require(coarse0.nonEmpty && fine0.nonEmpty,
      "ivfProbeHierUdf: both codebooks must be non-empty")
    val coarse = coarse0.sortBy(_._1)
    val fine = fine0.sortBy(_._1)
    val byCoarse = routeFine(coarse, fine)
    udf { (v: Seq[Double], nn: Double) =>
      if (quarantined(v, nn)) Seq.empty[Long]
      else {
        def scored(cs: Seq[(Long, Array[Double], Double)]) =
          cs.map { case (cid, cv, cn) => (cid, cosTo(cv, cn, v, nn)) }
            .sortBy { case (cid, cos) => (-cos, cid) }
        val routed = scored(coarse).take(pc).map(_._1)
        val cands0 = routed.flatMap(c => byCoarse.getOrElse(c, Nil))
        val cands = if (cands0.isEmpty) fine else cands0
        scored(cands).take(nprobe).map(_._1)
      }
    }
  }

  // -------------------------------------- two-level, centroids-as-DataFrame
  // The cosine face of KMeansLite's *Dist tier (see the ceiling note
  // there): ivfAssignHierUdf/ivfProbeHierUdf hold the fine codebook as
  // k·dims broadcast-by-closure state and build the fine→coarse route
  // map driver-side — fine to k ≈ 10⁷, a real ceiling past it. These
  // variants keep the fine codebook a DATAFRAME: the coarse route is
  // the same zero-shuffle compiled argmax over the O(√k) coarse
  // codebook (the only remaining driver state), the fine argmax is an
  // equi-join on the routed coarse cell + one per-vector window, and
  // the probe is the same join ranked to nprobe per query.
  // BIT-IDENTICAL to the UDF tier (same cosine_sim fold, same
  // cos-desc/cid-asc tie rule, same empty-cell fallback, same
  // zero-norm quarantine) — the s24 gate shares s20's oracle verbatim
  // and DistAssignSpec asserts row-level equality.

  /** bridge an L2-trained fine codebook DataFrame `(cid, cv)` (the
    * KMeansLite.fitHierarchicalDist output) into the cosine tier's
    * `(cid bigint, cv, cn)` shape — the norm fold is ascending, the
    * withNorms/oracle order
    */
  def withNormsDf(fineDf: DataFrame): DataFrame =
    fineDf.select(col("cid").cast("bigint").as("cid"), col("cv"),
      expr("aggregate(cv, cast(0 as double), (a, x) -> a + x * x)").as("cn"))

  /** TWO-LEVEL cosine cell assignment with the fine codebook as a
    * DATAFRAME `fineDf(cid, cv, cn)`: vectors and fine centroids both
    * route to their argmax-cosine coarse cell through the broadcast
    * coarse codebook (zero shuffle), then the fine argmax is an
    * equi-join on the routed cell + a per-vector (cos desc, cid asc)
    * window — ivfAssignHierUdf's exact rule, including the
    * empty-coarse-cell fallback (full fine argmax via cross join) and
    * the zero-norm quarantine (null cell). Input `e` must carry
    * (`idCol`, v, nn); returns `(<idCol>, cell)`.
    */
  def ivfAssignHierDist(e: DataFrame, idCol: String,
                        coarse: Seq[(Long, Array[Double], Double)],
                        fineDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.registerNative(e.sparkSession)
    val route = ivfAssignUdf(coarse.sortBy(_._1))
    // COST CONTRACT: each builder call runs ONE codebook-sized Spark
    // job up front (the guard below), and the ≤ k-row routing pass is
    // RECOMPUTED per consumer (guard count + both join legs) rather
    // than cached — measured round 14: persisting this frame inflated
    // the s24/s25 gates 2-6x at gated scale (an InMemoryRelation here
    // changes the join planning and pins blocks across serve
    // iterations), while re-running the route UDF over k rows is
    // noise. Keep it uncached.
    val fineRouted = fineDf.withColumn("__ccid", route(col("cv"), col("cn")))
    val routed = e
      .select(col(idCol).as("__aid"), col("v").as("__v"), col("nn").as("__nn"))
      .withColumn("__ccid", route(col("__v"), col("__nn")))
      .where(col("__ccid").isNotNull)
    val w = Window.partitionBy("__aid").orderBy(col("__cs").desc, col("cid"))
    def argmax(cands: DataFrame): DataFrame = cands
      .withColumn("__cs", expr("cosine_sim(cv, __v, cn, __nn)"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") === 1)
      .select(col("__aid"), col("cid").as("cell"))
    guardFallback(fineRouted, coarse.size, "ivfAssignHierDist")
    val matched = argmax(routed.join(fineRouted, Seq("__ccid")))
    val fallback = argmax(
      routed.join(fineRouted.select("__ccid").distinct(),
          Seq("__ccid"), "left_anti")
        .crossJoin(fineDf))
    matched.union(fallback).withColumnRenamed("__aid", idCol)
  }

  /** Degenerate-codebook cost guard for the dist tier's fallback legs:
    * a row (or query) whose routed coarse cells own NO fine member
    * falls back to a crossJoin against the FULL fine codebook —
    * correct and rare by construction (it needs a coarse cell that no
    * fine centroid routes to), but its cost is unbounded if a
    * degenerate coarse codebook empties MOST coarse cells: the
    * fallback then re-runs the flat k-wide argmin the two-level route
    * exists to avoid, for a large row fraction. One codebook-sized
    * count (≤ k rows, one cheap job per call) bounds it up front: more
    * than 3/4 of coarse cells empty refuses loudly with the remedy
    * (retrain the coarse codebook at kc ≈ ⌈√k⌉) instead of silently
    * serving n·k work. The bound is deliberately loose — adversarial
    * small codebooks with a minority of unattractive coarse cells
    * (DistAssignSpec's forced-fallback shapes) stay legal.
    */
  private def guardFallback(fineRouted: DataFrame, coarseSize: Int,
                            what: String): Unit = {
    // a NULL __ccid is a QUARANTINED fine centroid (zero-norm), not a
    // routed cell — counting it would loosen the bound by one
    val routedCells = fineRouted.where(col("__ccid").isNotNull)
      .select("__ccid").distinct().count()
    val empty = coarseSize - routedCells
    require(empty * 4 <= coarseSize.toLong * 3,
      s"$what: $empty of $coarseSize coarse cells own no fine centroid — " +
        "a majority-degenerate coarse codebook would route most rows " +
        "through the full-fine-codebook fallback (the n·k scan the " +
        "two-level tier exists to avoid); retrain the coarse codebook " +
        "(kc ≈ ⌈√k⌉ over the same population) instead of serving " +
        "through the fallback leg")
  }

  /** TWO-LEVEL probe with the fine codebook as a DATAFRAME: each query
    * routes to its `pc` nearest coarse cells (the broadcast flat probe
    * over the O(√k) coarse codebook), ranks only THEIR fine members
    * through the equi-join, and keeps `nprobe` targets per query —
    * ivfProbeHierUdf's exact rule (fallback: a query whose routed
    * coarse cells own no fine members at all ranks the full fine
    * codebook). `q` must carry (`qidCol`, qv, qn); returns
    * `(<qidCol>, cell)`. Same recall knobs and measured defaults as
    * ivfProbeHierUdf — routing consistency beats probe width, spend
    * budget on `nprobe`. The transfer is PROVEN, not assumed:
    * AnnRecallSpec's dist test composes this probe into s24's full
    * serve (bounded (qid, cell) frame join) and asserts the served
    * top-K sets equal the UDF tier's at (2,2) and (2,4) exactly, so
    * the (pc, nprobe) = (2, 4) recommendation holds verbatim here.
    */
  def ivfProbeHierDist(q: DataFrame, qidCol: String,
                       coarse: Seq[(Long, Array[Double], Double)],
                       fineDf: DataFrame,
                       pc: Int = 2, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.registerNative(q.sparkSession)
    // uncached on purpose — same measured cost contract as
    // ivfAssignHierDist's (recompute k rows per consumer; a persist
    // here inflated the dist gates 2-6x)
    val fineRouted = fineDf.withColumn("__ccid",
      ivfAssignUdf(coarse.sortBy(_._1))(col("cv"), col("cn")))
    val routed = q
      .select(col(qidCol).as("__qid"), col("qv").as("__qv"), col("qn").as("__qn"))
      .withColumn("__ccid",
        explode(ivfProbeUdf(coarse.sortBy(_._1), pc)(col("__qv"), col("__qn"))))
    val w = Window.partitionBy("__qid").orderBy(col("__cs").desc, col("cid"))
    def rank(cands: DataFrame): DataFrame = cands
      .withColumn("__cs", expr("cosine_sim(cv, __qv, cn, __qn)"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= nprobe)
      .select(col("__qid"), col("cid").as("cell"))
    guardFallback(fineRouted, coarse.size, "ivfProbeHierDist")
    val matched = rank(routed.join(fineRouted, Seq("__ccid")))
    // a query falls back ONLY when NONE of its routed coarse cells
    // owns a fine member (the UDF's cands0.isEmpty rule)
    val matchedQ = routed
      .join(fineRouted.select("__ccid").distinct(), Seq("__ccid"), "left_semi")
      .select("__qid").distinct()
    val fallback = rank(routed.drop("__ccid").distinct()
      .join(matchedQ, Seq("__qid"), "left_anti")
      .crossJoin(fineDf))
    matched.union(fallback).withColumnRenamed("__qid", qidCol)
  }

  // -------------------------------------------------------------------- PQ

  /** Product quantization (the third ANN tier next to LSH buckets and
    * IVF cells): the vector splits into `m` subvectors, each encoded as
    * the id of its nearest sub-codebook centroid — the corpus then
    * lives as m small ints per vector (here m=4 over 64 dims: 4 bytes
    * instead of 512), and query scoring never touches the full vectors
    * again. Codebooks are data-sampled like the IVF one (deterministic,
    * no RNG; production swaps in per-subspace k-means — the
    * encode/score machinery is identical). Squared-L2 folds ascending
    * per subspace, ties to the lowest centroid id — bit-identical to
    * the SQL restatement.
    */
  def pqEncodeUdf(cents: Seq[(Long, Array[Double])], m: Int) = {
    val ordered = cents.sortBy(_._1) // ties resolve to the lowest cid
    udf { v: Seq[Double] =>
      // null/ragged vectors → null codes (quarantine-style), never an
      // NPE or a silently-truncated trailing subspace
      if (v == null || v.isEmpty || v.length % m != 0) null
      else {
      val sub = v.length / m
      Array.tabulate(m) { s =>
        var best = -1
        var bestD = Double.PositiveInfinity
        for ((cid, cv) <- ordered) {
          var d = 0.0
          var i = 0
          while (i < sub) {
            val diff = v(s * sub + i) - cv(s * sub + i)
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = cid.toInt }
        }
        best
      }
      }
    }
  }

  /** Per-query ADC table: distances from each query subvector to every
    * sub-codebook centroid (m × |codebook| doubles — tiny, computed
    * once per QUERY row; the per-pair score is then m array lookups
    * plus m-1 adds, the asymmetric-distance-computation shape).
    */
  def pqAdcUdf(cents: Seq[(Long, Array[Double])], m: Int) = {
    val ordered = cents.sortBy(_._1)
    udf { v: Seq[Double] =>
      if (v == null || v.isEmpty || v.length % m != 0) null
      else {
      val sub = v.length / m
      Array.tabulate(m) { s =>
        ordered.map { case (_, cv) =>
          var d = 0.0
          var i = 0
          while (i < sub) {
            val diff = v(s * sub + i) - cv(s * sub + i)
            d += diff * diff
            i += 1
          }
          d
        }.toArray
      }
      }
    }
  }

  /** EXACTLY-ONCE per-batch append into a cell-partitioned IVF index
    * (the e18 commit discipline for vectors, used by the s16 streaming
    * face): each micro-batch's assigned rows land under their own
    * generation directory `gen=<batchId>/cell=.../` — written to a
    * hidden tmp sibling first, then published with ONE atomic dir
    * rename, so a replayed batchId is a pure skip (the gen dir already
    * exists) and a crashed half-write is invisible (hidden tmp). The
    * serve path reads the index root: partition discovery surfaces
    * (gen, cell) and cell pruning still prunes inside every
    * generation; `gen` is dropped before scoring. A plain
    * `SaveMode.Append` here would double-ingest vectors on
    * at-least-once replay — duplicate index rows change top-k results,
    * unlike the band index where dup_of_corpus is an EXISTS.
    */
  def committedCellAppend(assigned: DataFrame, indexDir: String,
                          batchId: Long): Boolean =
    graft.sources.Sinks.committedPartitionedAppend(assigned, indexDir, batchId, "cell")

  /** BUCKETED-CELL store layout — the 100 TB replacement for the
    * `cell=<id>` directory-per-cell scheme, whose per-directory
    * metadata cost walls at ~10⁵ cells (a filesystem/object-store
    * listing limit, far below the k ≈ 10¹⁰ the dist tier can now
    * compute; at the gated k = n/100 policy the per-directory layout
    * caps a store at ~10⁷ vectors per generation). Here the PARTITION
    * key is `cell_bucket = cell % B` (B chosen once, recorded in the
    * sibling `__layout` marker — the banded index's contract, shared
    * code) and `cell` rides as a DATA column; rows are shuffled to
    * their bucket and written cell-sorted, so every (gen, bucket) is
    * ONE file with cell-clustered row groups. The serve's two-level
    * prune: the probed-cell list maps to `probed % B` bucket dirs (a
    * pure partition prune, ≤ B directories ever listed no matter how
    * many cells exist), and `cell IN (probed)` pushes into the parquet
    * scan where the sorted layout makes it a row-group min/max skip.
    * Directory count per generation is bounded by B — independent of
    * the cell count — which is what converts the dist tier's compute
    * headroom into an end-to-end store claim.
    */
  def committedBucketedCellAppend(assigned: DataFrame, indexDir: String,
                                  batchId: Long, buckets: Int = 64): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      assigned.sparkSession.sparkContext.hadoopConfiguration)
    // the cell id space is the dist tier's (k ≈ 10¹⁰) — WRITE bigint
    // unconditionally and RECORD the type in the marker, so a future
    // narrowed writer (the b76ab6a Int-truncation class) refuses at the
    // marker instead of landing rows a Long-keyed serve never matches
    graft.sources.Sinks.ensureLayoutMarker(fs, indexDir, buckets,
      cellType = Some("bigint"))
    // EXPLICIT partition count (round-15): an implicit repartition(col)
    // is AQE-coalescible down to ONE task serially creating every
    // bucket dir (sized by map bytes, blind to file-creation cost);
    // the session shuffle-partition setting keeps it scale-adaptive.
    // preClustered: the sink must not re-shuffle — the in-file cell
    // sort is part of the serve's row-group-skip contract.
    val p = assigned.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val df = assigned
      .withColumn("cell", col("cell").cast("bigint"))
      .withColumn("cell_bucket",
        pmod(col("cell"), lit(buckets.toLong)).cast("int"))
      .repartition(p, col("cell_bucket"))
      .sortWithinPartitions("cell_bucket", "cell")
    graft.sources.Sinks.committedPartitionedAppend(
      df, indexDir, batchId, "cell_bucket", preClustered = true)
  }

  /** Smallest-power-of-two bucket count for a cell store at the given
    * nlist, clamped to [16, 4096] — 4096 is CellLayoutProbe's measured
    * flat-to-10⁶-cells point (PERF.md round 13); below 16 the bucketing
    * is pure overhead.
    */
  def defaultBuckets(nlist: Long): Int =
    math.min(4096L, math.max(16L,
      java.lang.Long.highestOneBit(math.max(1L, nlist)))).toInt

  /** THE default store append for IVF cell indexes — auto-dispatching
    * layout (VERDICT r13 directive 1: a user at scale must not get the
    * walled layout by default).
    *
    * The flat `cell=<id>` directory-per-cell layout is optimal ONLY for
    * a FIXED small codebook (tens of cells — the s13-s19 nlist=4 tier):
    * its per-directory metadata cost walls at ~10⁵ cells
    * (CellLayoutProbe). The layout is a WRITE-ONCE contract (the
    * __layout marker refuses mixed writers), so a store cannot switch
    * layouts as its codebook grows — which means the dispatch must key
    * on the POLICY, not on today's observed nlist: a corpus-scaled
    * nlist (the k = n/100 family) starts small at small SF and crosses
    * the wall in production, exactly when a rewrite is most expensive.
    *
    * Hence: the default is BUCKETED (`cell_bucket = cell % B` partition
    * key, B = [[defaultBuckets]] at first write, then the marker's B
    * forever). Flat is an explicit opt-in (`fixedNlist = true`) and
    * even then only below [[FlatLayoutMaxCells]]; an opt-in above the
    * bound refuses loudly rather than planting a store that cannot
    * scale.
    */
  val FlatLayoutMaxCells = 64

  def committedCellAppendAuto(assigned: DataFrame, indexDir: String,
                              batchId: Long, nlist: Long,
                              fixedNlist: Boolean = false): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      assigned.sparkSession.sparkContext.hadoopConfiguration)
    graft.sources.Sinks.layoutMarkerOpt(fs, indexDir) match {
      case Some(b) => // existing bucketed store: its B wins, always
        committedBucketedCellAppend(assigned, indexDir, batchId, b)
      case None if fixedNlist =>
        require(nlist <= FlatLayoutMaxCells,
          s"flat cell=<id> layout requested for nlist=$nlist — the " +
            s"per-directory layout is only sane below $FlatLayoutMaxCells " +
            "cells (it walls at ~1e5 dirs, CellLayoutProbe); drop " +
            "fixedNlist to get the bucketed layout")
        committedCellAppend(assigned, indexDir, batchId)
      case None if hasFlatCellData(fs, indexDir) =>
        // pre-existing FLAT store from a marker-less (round-13) writer:
        // planting a __layout marker and writing cell_bucket partitions
        // NEXT TO gen=*/cell=* dirs would corrupt the store with mixed
        // partition schemes AFTER the append already "committed"
        // (ADVICE r14, medium). Keep appending flat while the layout is
        // still inside its sane bound; refuse loudly past it.
        require(nlist <= FlatLayoutMaxCells,
          s"$indexDir holds an existing flat cell=<id> store (no __layout " +
            s"marker) but nlist=$nlist exceeds $FlatLayoutMaxCells — the " +
            "flat layout cannot scale there and a bucketed append would " +
            "corrupt the store with mixed partition schemes; rebuild into " +
            "a fresh bucketed dir (committedBucketedCellAppend)")
        committedCellAppend(assigned, indexDir, batchId)
      case None =>
        committedBucketedCellAppend(assigned, indexDir, batchId,
          defaultBuckets(nlist))
    }
  }

  /** Does `indexDir` already hold flat-laid-out (gen=<id>/cell=<id>)
    * data from a marker-less writer? One root listing plus one child
    * listing of the first generation — bounded, and only reached on
    * the no-marker arm (a brand-new dir short-circuits on exists).
    */
  private def hasFlatCellData(fs: org.apache.hadoop.fs.FileSystem,
                              indexDir: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    fs.exists(root) && {
      val gens = fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith("gen="))
      gens.nonEmpty && fs.listStatus(gens.head)
        .exists(_.getPath.getName.startsWith("cell="))
    }
  }

  /** Layout-aware compaction: dispatches on the store's __layout marker
    * so lifecycle code (s22/s23-style) is layout-blind like the serve.
    */
  def compactCells(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (graft.sources.Sinks.layoutMarkerOpt(fs, indexDir).isDefined)
      compactBucketedCells(spark, indexDir)
    else
      graft.sources.Sinks.compactGenerations(spark, indexDir, Some("cell"))
  }

  /** Layout-aware row-level delete — the takedown face of
    * [[compactCells]]'s dispatch.
    */
  def deleteFromCells(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String,
                      keep: DataFrame => DataFrame): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (graft.sources.Sinks.layoutMarkerOpt(fs, indexDir).isDefined)
      deleteFromBucketedCells(spark, indexDir, keep)
    else
      graft.sources.Sinks.rewriteGenerations(spark, indexDir, Some("cell"), keep)
  }

  /** Shared serve-scan refusal guards (ADVICE r15: the array- and
    * frame-driven serve entry points duplicated these — one copy so a
    * future edit to the refusal behavior cannot silently diverge).
    * An as-of snapshot must not predate the compaction horizon (folded
    * generations are not reconstructible) and must fit the int
    * partition-value range (`gen` is discovery-typed int; a silent
    * toInt would wrap past 2^31 generations and serve the wrong
    * snapshot).
    */
  private def assertAsOfServable(fs: org.apache.hadoop.fs.FileSystem,
                                 indexDir: String,
                                 asOf: Option[Long]): Unit =
    for (a <- asOf) {
      for (m <- graft.sources.Sinks.maxFoldedGen(fs, indexDir) if m > a)
        throw new IllegalStateException(
          s"as-of gen $a predates the compaction horizon $m of $indexDir — " +
            "folded generations are not reconstructible; snapshot before " +
            "compacting or keep more history")
      require(a <= Int.MaxValue,
        s"as-of gen $a exceeds the int partition-value range of $indexDir")
    }

  /** The marker cell-TYPE assert of the serve contract (VERDICT r13
    * directive 8): a drift between the __layout marker's recorded cell
    * type and the scanned schema is the silent-wrong-probe class
    * (Int-truncated ids past 2^31) and must refuse loudly.
    */
  private def assertMarkerCellType(fs: org.apache.hadoop.fs.FileSystem,
                                   indexDir: String, base: DataFrame): Unit =
    for (ct <- graft.sources.Sinks.readLayoutCellType(fs, indexDir)) {
      val actual = base.schema("cell").dataType.sql.toLowerCase
      require(actual == ct,
        s"$indexDir records cell type '$ct' in its __layout marker " +
          s"but the store scans as '$actual' — a type drift here is " +
          "the silent-wrong-probe class (Int-truncated ids past 2^31); " +
          "rebuild the store or fix the writer")
    }

  /** The probed-cell SERVE SCAN over a persisted cell store, layout-
    * dispatched on the __layout marker — ONE copy of the contract every
    * IVF serve (flat s13-s19, two-level s20-s23, dist s24/s25, bucketed
    * s26-s30) reads through:
    *
    *  - BUCKETED: the probed cells map to their `cell % B` bucket dirs
    *    — a STATIC partition prune bounded by B literals no matter how
    *    many cells exist, whose dirs are resolved per generation by a
    *    direct file-system listing ([[graft.sources.Sinks.prunedPartitionRead]])
    *    so a store with more than 32 buckets per generation never pays
    *    a distributed listing per request — then the in-bucket cell filter SIZE-
    *    DISPATCHES (VERDICT r13 directive 2): up to
    *    `graft.ivf.isinMaxCells` (default 128) probed cells it is a
    *    literal In(cell, ...) pushed into the parquet scan (a row-group
    *    min/max skip over the cell-sorted files; NOTE parquet converts
    *    In to a min/max RANGE above
    *    spark.sql.parquet.pushdown.inFilterThreshold=10 probed cells —
    *    still a skip on sorted files, pinned in BucketedIvfSpec); above
    *    the threshold it becomes a broadcast LEFT SEMI join against the
    *    probed-cell list, so a 10⁵-query batch never inflates the plan
    *    with 10⁵·nprobe literals (the bucket prune stays static and
    *    bounded by B either way). The marker's recorded cell TYPE is
    *    asserted against the scanned schema — a truncation-class drift
    *    refuses loudly (VERDICT r13 directive 8).
    *  - FLAT: `cell` IS the (int-typed) partition column and the probed
    *    list is bounded by the fixed small nlist, so the literal isin
    *    stays the right shape; the scan normalizes cell to bigint AFTER
    *    the prune so consumers join Long keys on either layout.
    *
    * `asOf` restricts to generations ≤ the snapshot on the SAME scan
    * (a second static prune) and refuses past the compaction horizon.
    */
  def prunedCellScan(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String, probed: Array[Long],
                     asOf: Option[Long] = None): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assertAsOfServable(fs, indexDir, asOf)
    val scan = graft.sources.Sinks.layoutMarkerOpt(fs, indexDir) match {
      case Some(b) =>
        val bks = probed.map(c => (((c % b) + b) % b).toInt).distinct.sorted
        val base = graft.sources.Sinks.prunedPartitionRead(
          spark, indexDir, "cell_bucket", bks, asOf)
        assertMarkerCellType(fs, indexDir, base)
        val bucketPruned = base.where(col("cell_bucket").isin(bks: _*))
        val isinMax = spark.conf.getOption("graft.ivf.isinMaxCells")
          .map(_.toInt).getOrElse(128)
        val cellFiltered =
          if (probed.length <= isinMax)
            bucketPruned.where(col("cell").isin(probed: _*))
          else {
            import spark.implicits._
            // re-select the scan's column order: a USING join hoists the
            // key first, and the two dispatch arms must be drop-in equal
            bucketPruned.join(
                broadcast(probed.toSeq.toDF("cell")), Seq("cell"), "left_semi")
              .select(bucketPruned.columns.map(col): _*)
          }
        cellFiltered.drop("cell_bucket")
      case None =>
        // partition-column values are inferred as int; matching-type
        // literals keep the filter a pure partition prune (no cast);
        // the bigint normalization is a post-prune projection
        spark.read.parquet(indexDir)
          .where(col("cell").isin(probed.map(_.toInt): _*))
          .withColumn("cell", col("cell").cast("bigint"))
    }
    asOf.map(a => scan.where(col("gen") <= lit(a.toInt))).getOrElse(scan)
      .drop("gen")
  }

  /** [[prunedCellScan]] driven by a probed-cell FRAME (`cell: bigint`)
    * instead of a driver array — the serve path's driver payload is
    * then BOUNDED BY CONSTRUCTION (round-15, VERDICT r14 watch item):
    * one `limit(isinMaxCells + 1)` collect decides the dispatch — if
    * the distinct probed cells fit, that slice IS the complete set
    * (limit n+1 of an ≤n-row frame returns every row) and the literal
    * In arm keeps its parquet row-group skip; past the threshold the
    * driver materializes only the distinct cell BUCKETS (≤ B by
    * construction) for the static partition prune and the cell filter
    * stays a broadcast left-semi join fed from the frame. A 10⁵-query
    * probe batch therefore never ships its cell set through the
    * driver. Both arms are row-identical to [[prunedCellScan]]
    * (BucketedIvfSpec's arm-equality discipline).
    */
  def prunedCellScanFromFrame(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String, probeCells: DataFrame,
                              asOf: Option[Long] = None): DataFrame = {
    val isinMax = spark.conf.getOption("graft.ivf.isinMaxCells")
      .map(_.toInt).getOrElse(128)
    val cells = probeCells.select(col("cell")).distinct()
    val slice = cells.limit(isinMax + 1).collect().map(_.getLong(0))
    if (slice.length <= isinMax)
      return prunedCellScan(spark, indexDir, slice.sorted, asOf)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assertAsOfServable(fs, indexDir, asOf)
    graft.sources.Sinks.layoutMarkerOpt(fs, indexDir) match {
      case Some(b) =>
        // distinct BUCKETS from the frame — ≤ B rows by construction
        val bks = cells
          .select(pmod(col("cell"), lit(b.toLong)).cast("int").as("cb"))
          .distinct().collect().map(_.getInt(0)).sorted
        val base = graft.sources.Sinks.prunedPartitionRead(
          spark, indexDir, "cell_bucket", bks, asOf)
        assertMarkerCellType(fs, indexDir, base)
        val bucketPruned = base.where(col("cell_bucket").isin(bks: _*))
        // re-select the scan's column order: a USING join hoists the
        // key first, and this arm must be drop-in equal to the array
        // form (prunedCellScan's discipline)
        val scan = bucketPruned
          .join(broadcast(cells), Seq("cell"), "left_semi")
          .select(bucketPruned.columns.map(col): _*)
          .drop("cell_bucket")
        asOf.map(a => scan.where(col("gen") <= lit(a.toInt))).getOrElse(scan)
          .drop("gen")
      case None =>
        // flat stores are ≤ FlatLayoutMaxCells by contract, far under
        // any sane isinMaxCells — reaching here means the conf was
        // forced below the layout bound; the literal arm is still the
        // bounded, correct shape (gen handling inside)
        prunedCellScan(spark, indexDir,
          cells.collect().map(_.getLong(0)).sorted, asOf)
    }
  }

  /** Fold a bucketed-cell store's generations into one (the s18/s29
    * compaction face): the bucket layout AND the in-file cell sort are
    * both part of the on-disk contract, so the rewrite re-clusters by
    * (cell_bucket, cell) — a fold that lost the sort would silently
    * turn the serve's row-group skip back into a full-bucket scan.
    */
  def compactBucketedCells(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String): Unit =
    graft.sources.Sinks.compactGenerations(spark, indexDir,
      Some("cell_bucket"), sortWithin = Seq("cell_bucket", "cell"))

  /** Row-level delete on a bucketed-cell store (the s17/s28 takedown
    * face) — fold + filter in one swap, layout contract preserved.
    */
  def deleteFromBucketedCells(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String,
                              keep: DataFrame => DataFrame): Unit =
    graft.sources.Sinks.rewriteGenerations(spark, indexDir,
      Some("cell_bucket"), keep, sortWithin = Seq("cell_bucket", "cell"))

  /** DuckDB restatements (for oracle SQL) */
  val duckVecs: String =
    """SELECT vec_id, label, embedding::DOUBLE[] AS v,
       list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum') AS nn
       FROM embeddings"""

  val duckBucket: String =
    """list_aggregate(list_transform(range(4), j ->
       CASE WHEN list_aggregate(list_transform(range(1, len(v) + 1),
              i -> v[i] * (((i - 1) * 31 + j * 17) % 7 - 3)), 'sum') > 0
            THEN (1 << j) ELSE 0 END), 'sum')"""
}
