package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT set-similarity join via prefix filtering (the AllPairs /
  * PPJoin candidate condition — Bayardo et al., "Scaling Up All Pairs
  * Similarity Search", WWW'07; Xiao et al., "Efficient Similarity
  * Joins for Near Duplicate Detection", WWW'08, both public
  * literature; this is an original Spark-relational expression of the
  * published filter conditions) — the LSH-free sibling of
  * [[MinHashLSH.candidatePairs]]: where LSH trades recall for
  * candidate count, the prefix filter is LOSSLESS (every pair at
  * Jaccard ≥ τ is guaranteed a candidate) and the verify step makes
  * the output exactly the all-pairs result at the threshold.
  *
  * The candidate condition: order every document's distinct tokens by
  * one GLOBAL total order (ascending document frequency, then token —
  * rarest first), and emit only each document's PREFIX of length
  * |d| − ⌈τ·|d|⌉ + 1. Two sets at Jaccard ≥ τ overlap in more than
  * |a|+|b|−⌈τ(|a|+|b|)⌉ elements, so under any shared total order
  * their prefixes must intersect — an equi-join on prefix tokens
  * finds every qualifying pair. Rarest-first is the load-bearing
  * choice at scale: the join key distribution is the prefix-token
  * frequency distribution, and putting rare tokens in prefixes means
  * stopword-sized buckets never form (the hot tokens sort LAST and
  * are mostly excluded from prefixes by construction). A residual hot
  * slice is a plain shuffle equi-join AQE skew-split handles.
  *
  * Candidates are pruned twice more before they shuffle into the
  * pair distinct (both from the PPJoin literature, both integer-
  * exact): the LENGTH filter (min ≥ τ·max — sets too different in
  * size can't reach τ) and the POSITIONAL filter (a match at 1-based
  * prefix positions (pa, pb) bounds the overlap by
  * min(na−pa, nb−pb)+1, which must reach ⌈τ/(1+τ)·(na+nb)⌉ — on the
  * duplicate-dense sf0.1 corpus this drops raw candidates 3.5×,
  * PERF.md "Round-8 late additions").
  *
  * Tokens are INTERNED to frequency-ranked int ids before the join
  * ([[GlobalRank]] over the (df, token) order — a range-exchange
  * rank, never a one-task window, so the interning holds at any
  * vocabulary size; a rank past Int.MaxValue fails FAST via
  * `raise_error` rather than silently wrapping the int cast). The
  * payoff is threefold: join keys hash as ints, the ordered token
  * array IS a sorted int array (the df-rank is the prefix order), and
  * the verify step intersects primitive arrays with the codegen'd
  * `sorted_intersect_size` two-pointer merge — measured 3.3× over
  * string `array_intersect` end-to-end at sf0.1.
  *
  * Threshold arithmetic is INTEGER end-to-end (tauNum/tauDen
  * rationals): prefix length, both filters, and the final test are
  * integer cross-multiplications, and every ceil-division lowers to
  * SQL `div` (IntegralDivide) — no floating point anywhere, so the
  * operator's output set is bit-deterministic at any operand size.
  *
  * Cost shape at 100 TB: one groupBy for document frequencies (map-
  * side combined, one row per distinct token), the interning rank
  * over the vocab relation, one re-agg to build sorted id arrays, one
  * equi-join on prefix ids (each doc contributes ~(1−τ)·|d| join
  * rows), a distinct on surviving candidate pairs, and a verify join
  * that touches only candidates — never all pairs. The output is
  * inherently pair-shaped: on duplicate-dense corpora it is OUTPUT-
  * BOUND (sf0.01→sf0.1 is 98× more true pairs for 10× docs; per-pair
  * cost falls — PERF.md).
  *
  * CACHING: the interning rank pins one MEMORY_AND_DISK cache (see
  * [[GlobalRank.withGlobalRankReleasable]]). The `*Releasable`
  * variants hand the release handle to the caller (run it after the
  * result materializes); the handle-free overloads keep the cache for
  * the plan's lifetime — fine for one-shot jobs, but a long-lived
  * session invoking the operator repeatedly should use the releasable
  * form or accept the accumulated pinned storage.
  */
object SetSimJoin {

  /** Integer ceil-division ⌈num/den⌉ via SQL `div` (IntegralDivide) —
    * integer end-to-end, exact at any operand magnitude (Column./ is
    * double division whose floor is only provably exact below 2^53).
    */
  private def ceilDiv(num: Column, den: Int): Column =
    call_function("div", num + lit(den - 1), lit(den.toLong)).cast("int")

  /** Interned per-doc token sets: (id, its = SORTED int-id array —
    * ascending df-ranked tid IS the rarest-first prefix order — and
    * n = |its|), plus the interning cache's release handle.
    */
  private def internedDocs(docs: DataFrame, idCol: String, tokensCol: Column)
      : (DataFrame, () => Unit) = {
    val base = docs
      .select(col(idCol).cast("long").as("id"),
        array_distinct(tokensCol).as("ts"))
      .where(size(col("ts")) > 0)
    // global document frequency per token, interned to the df-ranked
    // int id — the shared total order AND the cheap join/verify key
    val freq = base.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val (ranked, release) = GlobalRank
      .withGlobalRankReleasable(freq, Seq(col("df"), col("tok")), "tid")
    // fail FAST on vocabulary overflow: a silent int wrap would corrupt
    // both the prefix order and every intersection count
    val tokIds = ranked.select(col("tok"),
      when(col("tid") > lit(Int.MaxValue.toLong),
        raise_error(concat(
          lit("SetSimJoin: token vocabulary rank overflows Int ("),
          col("tid").cast("string"), lit(")"))))
        .otherwise(col("tid")).cast("int").as("tid"))
    // PERSISTED (round-15): every consumer re-derived this frame from
    // scratch — the prefix sides a and b, the verify sides ta and tb,
    // and now the hot-tid count — 4–6 full passes through the
    // tokenize + intern + re-agg pipeline per join. One corpus-sized
    // MEMORY_AND_DISK cache (released by the same handle as the
    // interning rank) converts those to cache reads; at scale this is
    // one spilled copy of the interned corpus vs recomputing its
    // derivation per consumer.
    val baseI = base.select(col("id"), explode(col("ts")).as("tok"))
      .join(tokIds, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(col("tid"))).as("its"),
        count(lit(1)).cast("int").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (baseI, () => { release(); baseI.unpersist(); () })
  }

  /** Prefix length |d| − ⌈τ·|d|⌉ + 1 (integer ceil). */
  private def prefLen(tauNum: Int, tauDen: Int): Column =
    col("n") - ceilDiv(col("n") * tauNum, tauDen) + 1

  /** Spread the candidate join's PROBE side (round-15, guide §8 "use
    * what you know that the optimizer does not"): the prefix equi-join
    * is an EXPANSION — on duplicate-dense corpora its output is ~100×
    * its input — but the plan's parallelism is inferred from INPUT
    * bytes: when the other side broadcasts, the expansion runs map-side
    * on the probe side's partitioning, which for a small interned
    * relation is one or two AQE-coalesced partitions — the whole
    * quadratic pair expansion + verify chain ran serially (measured at
    * sf0.1: an 11.7 s single-task stage dominating d24/d27).
    *
    * The fix is a KEYLESS round-robin repartition of the probe side to
    * the session's shuffle-partition setting (scale-adaptive by conf):
    * under a broadcast join it spreads the expansion evenly with zero
    * skew risk; under a shuffle join the planner replaces it with the
    * join's own hash exchange, so AQE's skew-join splitting stays
    * armed (a repartition BY KEY here was measured 2–10× WORSE on the
    * hot-token corpora — explicit key partitioning disables AQE skew
    * splits exactly where the tid distribution needs them).
    */
  private def pinParallelism(df: DataFrame): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    df.repartition(p)
  }

  /** Per-tid pair budget above which the candidate join's hot slice is
    * SALTED (see [[hotSplitJoin]]): one reduce task comfortably
    * verifies ~10⁶ candidate pairs, so a tid whose a-rows × b-rows
    * product exceeds this would otherwise serialize its whole expansion
    * into whichever single task owns the tid.
    */
  private val HotPairCap = 1000L * 1000

  /** The candidate equi-join on tid, EXPANSION-SKEW safe (round-15).
    * Two facts the optimizer cannot know (guide §8, §2.5):
    *  1. the join's OUTPUT is ~aCnt(tid)·bCnt(tid) pairs per tid — far
    *     larger than its input on duplicate-dense corpora — while AQE
    *     sizes post-shuffle partitions from INPUT bytes, so a small
    *     prefix relation coalesces to one or two partitions and the
    *     whole expansion + filter chain runs serially (an 11.7 s
    *     single-task stage dominated d24/d27 at sf0.1);
    *  2. AQE's skew-join split keys on map-output BYTES per partition
    *     (256 MB default) and therefore can never split an
    *     expansion-skewed tid whose input is kilobytes (measured: the
    *     3.4 s hot-tid task survives a 2 MB skew threshold untouched).
    *
    * So: per-tid a/b row counts come from ONE vocab-bounded
    * aggregation; tids whose pair product exceeds [[HotPairCap]] route
    * to a SALTED join (deterministic a-side salt from ia, b-side
    * replicated across the salt range, explicit partition count so AQE
    * cannot re-coalesce) while the cold remainder takes the plain join
    * with the probe side round-robin-spread ([[pinParallelism]] — under
    * a broadcast join that partitioning IS the expansion's
    * parallelism). Identical pair multiset by construction: a hot
    * (a-row, b-row) pair meets at exactly one salt. The salt range and
    * partition counts derive from the session's shuffle-partition
    * setting — scale-adaptive by conf, nothing tuned to this box.
    */
  private def hotSplitJoin(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val cnt = a.select(col("tid"), lit(1L).as("__isa"))
      .unionByName(b.select(col("tid"), lit(0L).as("__isa")))
      .groupBy("tid").agg(sum("__isa").as("__na"), count(lit(1)).as("__nall"))
    // bounded driver state: a tid only qualifies when it owns > cap
    // candidate pairs, so |hot| ≤ total-pairs / cap
    val hot = cnt.where(col("__na") * (col("__nall") - col("__na")) > HotPairCap)
      .select("tid").collect().map(_.getInt(0))
    if (hot.isEmpty) pinParallelism(a).join(b, "tid")
    else {
      val hotDf = broadcast(hot.toSeq.toDF("tid"))
      val cold = pinParallelism(a.join(hotDf, Seq("tid"), "left_anti"))
        .join(b.join(hotDf, Seq("tid"), "left_anti"), "tid")
      val aHot = a.join(hotDf, Seq("tid"), "left_semi")
        .withColumn("__salt",
          pmod(xxhash64(col("ia")), lit(p.toLong)).cast("int"))
      val bHot = b.join(hotDf, Seq("tid"), "left_semi")
        .withColumn("__salt", explode(sequence(lit(0), lit(p - 1))))
      val hotJ = aHot.repartition(p, col("tid"), col("__salt"))
        .join(bHot.repartition(p, col("tid"), col("__salt")),
          Seq("tid", "__salt"))
        .drop("__salt")
      cold.unionByName(hotJ)
    }
  }

  /** All pairs (ia < ib) with Jaccard ≥ tauNum/tauDen — handle-free
    * overload of [[jaccardJoinReleasable]] (keeps the interning cache
    * pinned for the plan's lifetime; see class doc).
    */
  def jaccardJoin(docs: DataFrame, idCol: String, tokensCol: Column,
                  tauNum: Int = 4, tauDen: Int = 5): DataFrame =
    jaccardJoinReleasable(docs, idCol, tokensCol, tauNum, tauDen)._1

  /** All pairs (id_a < id_b) with |a∩b| / |a∪b| ≥ tauNum/tauDen over
    * distinct token sets, plus the interning cache's release handle
    * (run it after the result materializes).
    *
    * @param docs      input relation
    * @param idCol     numeric id column name
    * @param tokensCol array<string> column (deduped internally)
    * @return (ia, ib, inter_sz, union_sz, jaccard) — sizes BIGINT,
    *         jaccard = inter/union as double (exact int division)
    */
  def jaccardJoinReleasable(docs: DataFrame, idCol: String, tokensCol: Column,
                            tauNum: Int = 4, tauDen: Int = 5)
      : (DataFrame, () => Unit) = {
    require(tauNum > 0 && tauNum <= tauDen, s"tau=$tauNum/$tauDen not in (0,1]")
    graft.GraftExtensions.registerNative(docs.sparkSession)
    val (baseI, release) = internedDocs(docs, idCol, tokensCol)

    val prefixes = baseI
      .select(col("id"), col("n"),
        posexplode(slice(col("its"), lit(1), prefLen(tauNum, tauDen)))
          .as(Seq("p0", "tid")))
      .select(col("id"), col("n"), col("tid"), (col("p0") + 1).as("p"))

    val a = prefixes.select(col("id").as("ia"), col("n").as("na"),
      col("p").as("pa"), col("tid"))
    val b = prefixes.select(col("id").as("ib"), col("n").as("nb"),
      col("p").as("pb"), col("tid"))
    // minimum overlap a qualifying pair must reach: ⌈τ/(1+τ)·(na+nb)⌉
    val alpha = ceilDiv((col("na") + col("nb")) * tauNum, tauNum + tauDen)
    val candidates = hotSplitJoin(a, b)
      .where(col("ia") < col("ib"))
      // length + positional filters, integer cross-multiplied — BEFORE
      // the distinct so impossible pairs never shuffle twice
      .where(least(col("na"), col("nb")) * tauDen >=
        greatest(col("na"), col("nb")) * tauNum)
      .where(least(col("na") - col("pa"), col("nb") - col("pb")) + 1 >= alpha)
      .select("ia", "ib").distinct()

    // verify ONLY candidates: exact intersection via the codegen'd
    // two-pointer merge over the sorted id arrays
    val ta = baseI.select(col("id").as("ia"), col("its").as("tsa"))
    val tb = baseI.select(col("id").as("ib"), col("its").as("tsb"))
    val out = candidates.join(ta, "ia").join(tb, "ib")
      .select(col("ia"), col("ib"),
        expr("sorted_intersect_size(tsa, tsb)").cast("long").as("inter_sz"),
        (size(col("tsa")) + size(col("tsb"))).cast("long").as("nsum"))
      .select(col("ia"), col("ib"), col("inter_sz"),
        (col("nsum") - col("inter_sz")).as("union_sz"))
      .where(col("inter_sz") * tauDen >= col("union_sz") * tauNum)
      .withColumn("jaccard",
        col("inter_sz").cast("double") / col("union_sz").cast("double"))
    (out, release)
  }

  /** Asymmetric containment join — handle-free overload of
    * [[containmentJoinReleasable]] (keeps the interning cache pinned
    * for the plan's lifetime; see class doc).
    */
  def containmentJoin(docs: DataFrame, idCol: String, tokensCol: Column,
                      tauNum: Int = 19, tauDen: Int = 20): DataFrame =
    containmentJoinReleasable(docs, idCol, tokensCol, tauNum, tauDen)._1

  /** Asymmetric CONTAINMENT join: ordered pairs (ia, ib), ia ≠ ib,
    * with |a∩b| ≥ τ·|a| — "a is τ-contained in b", the quote/excerpt/
    * subset detector (a near-complete subset never reaches a symmetric
    * Jaccard threshold when |b| ≫ |a|, which is exactly the
    * boilerplate-inside-longer-doc case jaccardJoin can't see).
    *
    * Same interned-id machinery as [[jaccardJoin]]; the filters change
    * with the asymmetry (all integer cross-multiplications):
    *  - only the PROBE side a is prefix-pruned (|a|−⌈τ|a|⌉+1 rarest
    *    ids): the overlap bound is τ·|a|, so a's prefix must hit any
    *    qualifying b, while b has no prefix shorter than its full list
    *    that is safe for every possible |a| — b joins on its ids
    *  - the B-SIDE CANDIDATE BOUND (PPJoin+-style suffix bound): a
    *    b posting (tid, pb) can only pair with probes whose PREFIX
    *    contains tid, and every such probe needs overlap ≥ ⌈τ·na⌉ ≥
    *    ⌈τ·minNa(tid)⌉ where minNa(tid) = min probe length over
    *    prefixes containing tid — so postings with nb − pb + 1 <
    *    ⌈τ·minNa(tid)⌉ are dropped BEFORE the join. Lossless: the
    *    per-pair positional filter would reject every candidate such
    *    a posting could form (na ≥ minNa(tid) for all its probes).
    *    This is the hot-token defense: stop-word-grade ids sort LAST
    *    in every document (maximal pb, minimal nb − pb), so exactly
    *    the largest would-be join buckets are pruned hardest, and ids
    *    appearing in NO probe prefix drop out entirely (the minNa
    *    inner join is a semi-join on prefix membership). Measured on
    *    the worst case (31-token vocabulary, sf0.1): b postings
    *    116,231 → 53,224 (2.18×) with the final candidate set
    *    bit-identical — PERF.md, "Containment-join b-side candidate bound".
    *  - length filter |b| ≥ τ·|a| (b can't contain more of a than b has)
    *  - positional bound min(na−pa, nb−pb)+1 ≥ ⌈τ·na⌉
    *
    * @return (ia, ib, inter_sz, na, nb, containment) — sizes BIGINT,
    *         containment = inter/na as double (exact int division)
    */
  def containmentJoinReleasable(docs: DataFrame, idCol: String,
                                tokensCol: Column,
                                tauNum: Int = 19, tauDen: Int = 20)
      : (DataFrame, () => Unit) = {
    require(tauNum > 0 && tauNum <= tauDen, s"tau=$tauNum/$tauDen not in (0,1]")
    graft.GraftExtensions.registerNative(docs.sparkSession)
    val (baseI, release) = internedDocs(docs, idCol, tokensCol)

    val a = baseI
      .select(col("id"), col("n"),
        posexplode(slice(col("its"), lit(1), prefLen(tauNum, tauDen)))
          .as(Seq("p0", "tid")))
      .select(col("id").as("ia"), col("n").as("na"),
        (col("p0") + 1).as("pa"), col("tid"))
    val b = baseI
      .select(col("id"), col("n"),
        posexplode(col("its")).as(Seq("p0", "tid")))
      .select(col("id").as("ib"), col("n").as("nb"),
        (col("p0") + 1).as("pb"), col("tid"))
    // b-side candidate bound: per-tid minimum probe length over the
    // prefixes that contain it — a vocab-bounded relation (≤ one row
    // per distinct prefix token; AQE broadcasts it when small). The
    // inner join doubles as the prefix-membership semi-join.
    val minNa = a.groupBy("tid").agg(min(col("na")).as("min_na"))
    val bPruned = b.join(minNa, "tid")
      .where(col("nb") - col("pb") + 1 >= ceilDiv(col("min_na") * tauNum, tauDen))
      .drop("min_na")
    // minimum overlap: ⌈τ·na⌉
    val alphaC = ceilDiv(col("na") * tauNum, tauDen)
    val candidates = hotSplitJoin(a, bPruned)
      .where(col("ia") =!= col("ib"))
      .where(col("nb") * tauDen >= col("na") * tauNum)
      .where(least(col("na") - col("pa"), col("nb") - col("pb")) + 1 >= alphaC)
      .select("ia", "ib").distinct()

    val ta = baseI.select(col("id").as("ia"), col("its").as("tsa"),
      col("n").as("na"))
    val tb = baseI.select(col("id").as("ib"), col("its").as("tsb"),
      col("n").as("nb"))
    val out = candidates.join(ta, "ia").join(tb, "ib")
      .select(col("ia"), col("ib"),
        expr("sorted_intersect_size(tsa, tsb)").cast("long").as("inter_sz"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"))
      .where(col("inter_sz") * tauDen >= col("na") * tauNum)
      .withColumn("containment",
        col("inter_sz").cast("double") / col("na").cast("double"))
    (out, release)
  }
}
