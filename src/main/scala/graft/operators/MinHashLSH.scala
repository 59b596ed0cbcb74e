package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH primitives for near-duplicate detection at scale.
  *
  * The hash family is md5-hex with a numeric prefix — bit-identical to
  * the SQL `md5(concat(j, shingle))` formulation, so a DuckDB oracle can
  * restate the whole pipeline. The hot path (shingling + k minimum
  * hashes per doc) runs as ONE compiled UDF pass per document: Spark's
  * higher-order lambdas (`transform`/`aggregate`) evaluate interpreted,
  * and profiling at sf0.1 showed the expression formulation spending
  * ~16 s in lambda/md5 overhead vs <1 s for this loop.
  *
  * Band-bucket candidate generation avoids the classic self-join (which
  * would recompute signatures on both sides): signatures are computed
  * once, exploded to (band, hash) buckets, and pairs are expanded
  * per-bucket with an index-aware transform. Bucket sizes are bounded in
  * practice (a hot bucket means near-identical docs — exactly what AQE
  * skew-split handles on the single shuffle).
  */
object MinHashLSH {

  /** 3-gram shingles, distinct, as one compiled pass. */
  val shinglesUdf = udf { words: Seq[String] =>
    if (words == null || words.length < 3) Array.empty[String]
    else {
      val seen = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + 2 < words.length) {
        seen += (words(i) + " " + words(i + 1) + " " + words(i + 2))
        i += 1
      }
      seen.toArray
    }
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = hexChars((b(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** k-function MinHash signature over the shingle set: position j =
    * lexicographic min of md5(j.toString ++ shingle) hex.
    *
    * Marked non-deterministic as an eval-once barrier: the result feeds
    * an explode, and Catalyst's project-collapse would otherwise inline
    * (= recompute) a deterministic UDF per generated row.
    */
  def signatureUdf(k: Int) = udf { shingles: Seq[String] =>
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(k) { j =>
      var min: String = null
      val prefix = j.toString.getBytes(StandardCharsets.UTF_8)
      for (s <- shingles) {
        md.reset()
        md.update(prefix)
        md.update(s.getBytes(StandardCharsets.UTF_8))
        val h = hex(md.digest())
        if (min == null || h < min) min = h
      }
      min
    }
  }.asNondeterministic()

  /** Fused words → signature (shingling inlined — no intermediate
    * shingle array materializes per row). Non-deterministic marker =
    * eval-once barrier (see signatureUdf).
    */
  def fusedSignatureUdf(k: Int) = udf { words: Seq[String] =>
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[String](k)
    if (words != null && words.length >= 3) {
      val seen = new scala.collection.mutable.HashSet[String]
      var i = 0
      while (i + 2 < words.length) {
        val sh = words(i) + " " + words(i + 1) + " " + words(i + 2)
        if (seen.add(sh)) {
          val shBytes = sh.getBytes(StandardCharsets.UTF_8)
          var j = 0
          while (j < k) {
            md.reset()
            md.update(j.toString.getBytes(StandardCharsets.UTF_8))
            md.update(shBytes)
            val h = hex(md.digest())
            if (out(j) == null || h < out(j)) out(j) = h
            j += 1
          }
        }
        i += 1
      }
    }
    out
  }.asNondeterministic()

  /** (band, h) rows per doc; null signatures (empty docs) are dropped.
    * `rowsPerBand` > 1 is the standard precision knob: a band only
    * collides when ALL of its `r` signature positions agree (collision
    * probability jaccard^r per band), traded against recall via the
    * band count k/r. The band hash is md5 over the concatenated
    * positions so the column stays fixed-width for the shuffle.
    */
  def bands(docs: DataFrame, idCol: String, wordsCol: Column, k: Int,
            rowsPerBand: Int = 1): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k must be a multiple of rowsPerBand=$rowsPerBand")
    // native codegen'd signature (functions.MinHashSig): bit-identical
    // to fusedSignatureUdf, ~1.8x on the dominant per-row cost — hashes
    // the array's raw UTF-8 bytes, no String materialization, and hex-
    // encodes only the k final minima. One divergence by design: a
    // NULL words column yields a NULL signature (not an array of k
    // nulls); both shapes vanish at the existing null filters.
    graft.GraftExtensions.registerNative(docs.sparkSession)
    val sig = docs.withColumn("__words", wordsCol)
      .withColumn("__sig", expr(s"minhash_sig(__words, $k)"))
      .drop("__words")
    if (rowsPerBand == 1)
      sig.select(col(idCol), posexplode(col("__sig")).as(Seq("band", "h")))
        .where(col("h").isNotNull)
    else
      sig
        .where(col("__sig").getItem(0).isNotNull)
        .select(col(idCol), posexplode(expr(
          s"transform(sequence(0, ${k / rowsPerBand - 1}), b -> md5(concat_ws('|', slice(__sig, b * $rowsPerBand + 1, $rowsPerBand))))"))
          .as(Seq("band", "h")))
  }

  /** Pair-free dedup keep-list: every document maps to the smallest id
    * in its CONNECTED COMPONENT of the band-bucket graph (the reference
    * pipeline's "keep first, drop rest" shape, closed transitively).
    * Unlike candidatePairs, output is ONE ROW PER DOCUMENT regardless
    * of duplicate density: a corpus that is 50× duplicated produces 50×
    * rows, not 2500× pairs. Default path is the FIXPOINT (no "enough
    * hops in practice" assumption — long boilerplate chains at corpus
    * scale under-merge silently under any fixed hop count).
    */
  def dedupKeepList(docs: DataFrame, idCol: String, wordsCol: Column,
                    k: Int = 4, maxHops: Int = 16): DataFrame =
    dedupKeepListConverged(docs, idCol, wordsCol, k, maxHops)

  /** one min-propagation hop over the (id, bucket) bipartite graph */
  private def keepListHop(cur: DataFrame, idCol: String): DataFrame = {
    val bucketMin = cur.groupBy("band", "h").agg(min("rep").as("bucket_min"))
    cur.join(bucketMin, Seq("band", "h"))
      .groupBy(col(idCol), col("band"), col("h"))
      .agg(min("bucket_min").as("m"))
      .withColumn("rep", min(col("m"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(idCol)))
      .select(col(idCol), col("band"), col("h"), col("rep"))
  }

  /** Legacy fixed-hop variant, kept for specs that demonstrate WHY the
    * fixpoint is the default: on a chain topology, `hops` hops reach
    * only distance 2·hops and provably under-merge.
    */
  def fixedHopKeepList(b0: DataFrame, idCol: String, hops: Int): DataFrame =
    (1 to hops).foldLeft(b0.withColumn("rep", col(idCol)))(
      (cur, _) => keepListHop(cur, idCol))
      .groupBy(idCol).agg(min("rep").as("keep_id"))

  /** Fixed-point keep-list: iterate min-propagation until the
    * representative assignment stops changing — full connected
    * components. See convergeKeepList for the loop mechanics.
    */
  def dedupKeepListConverged(docs: DataFrame, idCol: String, wordsCol: Column,
                             k: Int = 4, maxHops: Int = 16): DataFrame =
    convergeKeepList(bands(docs, idCol, wordsCol, k), idCol, maxHops)

  /** The fixpoint loop over an explicit (id, band, h) frame — exposed
    * so cluster topologies (chains, stars) can be driven directly in
    * specs without reverse-engineering MinHash collisions.
    */
  def convergeKeepList(b0: DataFrame, idCol: String,
                       maxHops: Int = 16): DataFrame =
    convergeKeepListWithStats(b0, idCol, maxHops)._1

  /** Fixpoint loop with POINTER JUMPING: each round does one
    * min-propagation hop over the static (id, bucket) edges, then
    * compresses rep := rep(rep) — the Hash-to-Min / pointer-doubling
    * move from the MapReduce connected-components literature. Plain
    * min-propagation needs O(diameter) rounds (a length-d boilerplate
    * chain costs d/2 shuffle rounds); compression makes the reached
    * distance roughly double per round, so rounds are O(log d) — the
    * property that makes the fixpoint affordable at 100 TB.
    *
    * State per round is one (id, rep) row per document (NOT per band
    * row); edges stay cached and never grow. Convergence is detected by
    * the SUM of representatives (reps only ever decrease, so the
    * assignment changed iff the sum dropped), accumulated in exact
    * decimal so the check cannot alias at any id scale; an empty frame
    * sums to SQL NULL on both sides of the compare and exits cleanly.
    * `maxHops` is the runaway backstop. Returns (keepList, rounds).
    */
  def convergeKeepListWithStats(b0: DataFrame, idCol: String,
                                maxHops: Int = 16): (DataFrame, Int) = {
    val spark = b0.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ADAPTIVE loop parallelism: cached iterative plans pin their
    // shuffle partitioning (AQE's coalescing is disabled for cached
    // plans — canChangeCachedPlanOutputPartitioning), so a small input
    // would pay sessionP tasks × ~6 stages × rounds of pure scheduler
    // overhead (measured 1.3–1.7 s/round on 20k band rows at 32
    // partitions). Size the loop's shuffles from the MEASURED band-row
    // count instead, clamped at the session setting — at cluster scale
    // the clamp keeps full parallelism, the knob only ever shrinks
    // small inputs (the ntile small-path precedent). The count also
    // materializes the edge cache once, before the conf scope.
    val sessionP = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val edges0 = b0.select(col(idCol), col("band"), col("h")).persist(lvl)
    val nBand = edges0.count()
    val loopP = math.max(1L, math.min(sessionP.toLong, nBand / 200000L + 1)).toInt
    val prevP = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopP)
    try {
    // TRUNCATE the caller's lineage before the loop: caching
    // short-circuits EXECUTION but every round still re-analyzes and
    // re-optimizes a plan whose logical tree contains the caller's
    // full edge derivation — for a caller like d34 (edges = a union of
    // self-joined multi-stage assignment frames) that driver-side
    // analysis cost dominated the loop (measured 24 s vs 5 s for the
    // same graph from a shallow lineage, 11 rounds either way). The
    // LogicalRDD re-wrap makes round plans constant-size in the
    // caller's plan, the same move the loop already makes for its own
    // hopped/compressed frames.
    val edgesFlat = b0.sparkSession.createDataFrame(edges0.rdd, edges0.schema)
    // edges pre-shuffled on the join key and CACHED WITH that
    // partitioning: InMemoryRelation preserves outputPartitioning, so
    // every round's edges⋈reps join exchanges only the small (id, rep)
    // side instead of re-shuffling the 4×|docs| band rows per round
    val edges = edgesFlat.repartition(loopP, col(idCol)).persist(lvl)
    def repSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("rep").cast("decimal(38,0)"))).collect()(0)
        .getDecimal(0))
    // one compression step: rep := rep(rep). rep(p) <= p always, so
    // this only decreases and shares the hop's fixpoint; the parent
    // lookup is a self equi-join on the one-row-per-doc frame.
    def compress(r: DataFrame): DataFrame = r.as("a")
      .join(r.select(col(idCol).as("__p"), col("rep").as("__prep")),
        col("a.rep") === col("__p"), "left")
      .select(col(s"a.$idCol"), coalesce(col("__prep"), col("a.rep")).as("rep"))
    // (A window-based 2-hop seed was tried and measured SLOWER at sf0.1
    // — the corpus has genuine chains, so the seed doesn't reach the
    // fixpoint and its two window passes cost more than a loop round.)
    var reps = edges.select(col(idCol)).distinct()
      .withColumn("rep", col(idCol)).persist(lvl)
    var prevSum = repSum(reps)
    var hop = 0
    var done = false
    while (!done && hop < maxHops) {
      // hop: every node takes the min rep over all buckets it touches
      // (each bucket's min includes the node's own rep, so this is the
      // full min(own, neighbors) update)
      val withRep = edges.join(reps, idCol)
      val bucketMin = withRep.groupBy("band", "h").agg(min("rep").as("bmin"))
      val hoppedPlan = withRep.join(bucketMin, Seq("band", "h"))
        .groupBy(idCol).agg(min("bmin").as("rep"))
      // materialize the hop ONCE: the compression self-joins reference
      // it four times, and recomputing the band-row pass per reference
      // costs far more than the extra action. The LogicalRDD re-wrap
      // also truncates lineage — the self-joins would otherwise grow
      // the logical tree exponentially in rounds (analyzer blowup long
      // before any data cost); constant-size round plans are the
      // standard iterative-algorithm move (GraphX/MLlib checkpoint
      // discipline, without requiring a checkpoint dir).
      val hopped = b0.sparkSession
        .createDataFrame(hoppedPlan.rdd, hoppedPlan.schema).persist(lvl)
      // TWO compression steps per round: reach roughly quadruples per
      // round instead of doubling — two extra small self-joins over the
      // cached one-row-per-doc frame buy materially fewer rounds (each
      // round is the expensive part: a full pass over the band rows +
      // a convergence action)
      val compressed = compress(compress(hopped))
      val next = b0.sparkSession.createDataFrame(compressed.rdd, compressed.schema)
        .persist(lvl)
      val nextSum = repSum(next)
      hopped.unpersist()
      reps.unpersist()
      reps = next
      done = nextSum == prevSum
      prevSum = nextSum
      hop += 1
    }
    edges.unpersist()
    edges0.unpersist()
    // reps is already materialized (persisted + counted by the last
    // repSum), so the final narrow select executes correctly after the
    // conf restore below
    (reps.select(col(idCol), col("rep").as("keep_id")), hop)
    } finally prevP match {
      case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
      case None    => spark.conf.unset("spark.sql.shuffle.partitions")
    }
  }

  /** The band index's layout: band rows carry
    * `hb = pmod(xxhash64(h), numBuckets)` and the index is laid out
    * `gen=<batch>/hb=<n>/` (generations via
    * [[graft.sources.Sinks.committedPartitionedAppend]] — exactly-once
    * appends, backfill at gen=-1). A batch's probe touches at most
    * |batch|·k DISTINCT hb values, so the index scan PARTITION-PRUNES
    * to those directories — probe I/O tracks |batch|, never |corpus|.
    * hb is a pure function of h, so a pruned row can never collide
    * with the batch: pruning cannot change a verdict.
    *
    * `numBuckets` is part of the index's LAYOUT CONTRACT (the
    * upsertBucketed precedent): it is chosen once at [[buildBucketedIndex]]
    * time, recorded in a sibling marker, and every probe DERIVES it
    * from the marker — a probe bucketing differently than the build
    * would silently prune away true collisions, so the knob simply
    * does not exist on the probe side.
    */
  def withHashBucket(bands: DataFrame, numBuckets: Int = 64): DataFrame =
    bands.withColumn("hb", pmod(xxhash64(col("h")), lit(numBuckets)).cast("int"))

  /** One-time backfill of a bucketed index: records the bucket-count
    * layout marker (sibling file, tmp+rename — same discipline as the
    * SCD2 retention marker), then lands the corpus bands as gen=-1.
    *
    * Re-runs are guarded, not silent: a marker with a DIFFERENT bucket
    * count refuses loudly (rewriting it would strand the existing
    * partitions under a layout probes no longer match — the
    * silent-wrong-prune class), and a re-run whose gen=-1 already
    * exists refuses too (the new bands would be silently dropped by
    * the replay skip; re-backfilling means a fresh index dir).
    */
  def buildBucketedIndex(bands: DataFrame, indexDir: String,
                         numBuckets: Int = 64): Unit = {
    val spark = bands.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    graft.sources.Sinks.ensureLayoutMarker(fs, indexDir, numBuckets)
    if (!graft.sources.Sinks.committedPartitionedAppend(
        withHashBucket(bands, numBuckets), indexDir, -1L, "hb"))
      throw new IllegalStateException(
        s"$indexDir already holds a gen=-1 backfill — the new bands would " +
          "be silently dropped; re-backfill into a fresh index dir")
  }

  /** The recorded bucket count of a bucketed index — loud when absent
    * (probing an index without its layout contract is exactly the
    * silent-wrong-prune class the marker exists to prevent).
    */
  private[operators] def bucketCount(spark: org.apache.spark.sql.SparkSession,
                                     indexDir: String): Int =
    graft.sources.Sinks.readLayoutMarker(
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration), indexDir)

  /** The pruned index read the probe runs: only the probed `hb=` dirs
    * of every generation, through the one store reader
    * ([[graft.sources.Sinks.readGenerations]]) — exposed so specs can
    * pin the PartitionFilters on the very plan the operator executes
    * (the entry returns the committed verdicts, whose plan is a read of
    * the verdict dir).
    */
  private[graft] def prunedBucketedIndex(spark: org.apache.spark.sql.SparkSession,
                                         indexDir: String,
                                         probedHb: Seq[Int]): DataFrame =
    graft.sources.Sinks.readGenerations(spark, indexDir, probe = Some("hb" -> probedHb))

  /** INCREMENTAL dedup of a new batch against the persisted band
    * index, the one dedup entry for batch and streaming callers alike:
    * the corpus was fingerprinted ONCE ([[buildBucketedIndex]]), and
    * when a batch lands only the BATCH is hashed. The probe reads only
    * the batch's `hb` dirs ([[prunedBucketedIndex]]) and joins them on
    * (band, h) with the batch side broadcast — no corpus shuffle, no
    * corpus re-hash. Within-batch duplicates use keep-first (a batch
    * doc is a dup of any smaller-id batch doc sharing a bucket).
    *
    * Returns one row per batch document:
    *   (idCol, dup_of_corpus, dup_in_batch, admitted)
    * and lands the admitted documents' band rows as generation
    * `batchId`, so the next batch's probe sees this batch's survivors.
    *
    * Two atomic renames, in this order:
    *   1. the verdicts, computed against the index as it stands, commit
    *      under `verdictDir/batch=<batchId>` (hidden tmp + rename);
    *   2. the admitted set is read back FROM THAT COMMIT and lands as
    *      `gen=<batchId>`; the gen dir is the completion marker, and
    *      after [[graft.sources.Sinks.compactGenerations]] folds it, the
    *      store's `__committed` manifest is.
    * Replay matrix for a re-run of the same `batchId`:
    *   - crash before (1): nothing of the batch is on disk; the replay
    *     recomputes against the untouched index, bit-identically;
    *   - crash between (1) and (2): the stored verdict is trusted (never
    *     re-judged against an index that could already hold the batch's
    *     own bands) and the append runs once;
    *   - after (2), folded or not: the stored verdict is returned and
    *     the append is a pure skip.
    * The same documents under a NEW batch id are a new batch: admitted
    * docs now hit their own bands (dup_of_corpus), and nothing is
    * admitted twice. A doc whose only collision partner was itself
    * rejected comes back as dup_in_batch, not dup_of_corpus, so
    * `admitted` is the replay signal (IncrementalDedupSpec pins both).
    * Single writer per index, like every committed face.
    */
  def committedIncrementalDedupBucketed(batchBands: DataFrame, idCol: String,
                                        indexDir: String, verdictDir: String,
                                        batchId: Long): DataFrame = {
    val spark = batchBands.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val verdictPath = new org.apache.hadoop.fs.Path(s"$verdictDir/batch=$batchId")
    val nb = bucketCount(spark, indexDir)
    val bb = withHashBucket(
        batchBands.select(col(idCol), col("band"), col("h")), nb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (!fs.exists(verdictPath)) {
        val probedHb = bb.select("hb").distinct().collect().map(_.getInt(0)).sorted
        val idx = prunedBucketedIndex(spark, indexDir, probedHb.toSeq)
          .select(col(idCol), col("band"), col("h"))
        graft.sources.Sinks.atomicParquetCommit(
          incrementalVerdictPlan(
            bb.select(col(idCol), col("band"), col("h")), idCol, idx),
          new org.apache.hadoop.fs.Path(s"$verdictDir/.tmp_batch_$batchId"),
          verdictPath)
      }
      // admitted set from the COMMITTED verdict (read once, its schema
      // from a footer); the generational append is itself idempotent
      // per batchId
      val verdict = graft.sources.Sinks.readGenerations(spark, verdictPath.toString)
      graft.sources.Sinks.committedPartitionedAppend(
        admittedBands(bb, verdict, idCol), indexDir, batchId, "hb")
      verdict
    } finally bb.unpersist()
  }

  /** INCREMENTAL keep-list (the d6 product made incremental — the last
    * batch-global recomputation in the dedup tier): the corpus's
    * connected-components assignment was computed ONCE; when a batch
    * lands, only the AFFECTED SUBGRAPH is re-solved. The key collapse:
    * every existing component is represented by its rep alone (one
    * node), because min-propagation within an already-collapsed
    * component is the identity — so the fixpoint graph is batch rows
    * plus one pseudo-node per TOUCHED component, never the corpus.
    * Returns
    *   (assignments for the batch docs,
    *    non-identity remap (old_rep → keep_id) for touched components).
    * A batch doc BRIDGING two existing components surfaces as both
    * their reps remapping to the common minimum.
    *
    * The remap is the scale answer to "merging may repoint millions of
    * member rows": it is O(touched components) — a tiny broadcastable
    * dimension applied at READ time (coalesce over one join), folded
    * into the stored assignment at compaction cadence like every other
    * delta in this tier; storage is never rewritten per batch.
    */
  def incrementalKeepList(batchRows: DataFrame, idCol: String,
                          corpusBands: DataFrame, corpusState: DataFrame,
                          driverSolveLimit: Long = 2L * 1000 * 1000)
      : (DataFrame, DataFrame) = {
    val spark = batchRows.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bb = batchRows.select(col(idCol), col("band"), col("h")).persist(lvl)
    // buckets shared with the corpus → the touched components' reps,
    // attached to the shared bucket so the fixpoint sees the edge.
    // Contract: batch ids are NEW (never already in corpusState) — the
    // replay path of the callers (KeepListStore, e23) guarantees it;
    // both solvers below separate batch rows from rep pseudo-nodes by
    // the __src tag / an anti-join on batch ids.
    val touched = corpusBands
      .join(broadcast(bb.select("band", "h").distinct()), Seq("band", "h"))
      .join(corpusState.withColumnRenamed("keep_id", "__rep"), idCol)
      .select(col("__rep").as(idCol), col("band"), col("h"))
      .distinct()
    val sub = bb.withColumn("__src", lit(0))
      .unionByName(touched.withColumn("__src", lit(1)))
      .persist(lvl)
    val idType = bb.schema.head.dataType
    def emptyish(rows: Seq[org.apache.spark.sql.Row],
                 a: String, b: String): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(a, idType),
          org.apache.spark.sql.types.StructField(b, idType))))
    // SOLVER CHOICE: the affected subgraph is O(|batch|·k) band rows BY
    // CONSTRUCTION (batch docs + one pseudo-node per touched component)
    // — that bound is the whole point of the incremental path. Below
    // the limit it is solved DRIVER-SIDE with union-find (one collect
    // of an already-batch-sized frame; assign and remap come straight
    // out of the parent map with ZERO further joins) instead of paying
    // the distributed fixpoint's per-round scheduling — measured 4-5 s
    // per batch at gate scale for a subgraph that fits in one task. The
    // distributed loop remains the fallback for jumbo batches and for
    // id types without a driver ordering (min must match SQL min, so
    // only Comparable ids take the fast path); MinHashLSHSpec pins
    // path equivalence on both topologies.
    // ONE action dispatches AND feeds the fast path (round-15: was a
    // count() followed by a full collect() — two passes): collect at
    // most limit+1 rows; getting ≤ limit back proves the frame is
    // complete (limit n+1 of an ≤n-row frame returns every row), and
    // an overflow discards the slice and routes to the distributed
    // fixpoint. Non-comparable id types never collect at all.
    val lim = math.min(driverSolveLimit, Int.MaxValue - 2L).toInt
    // TIERED probe (ADVICE r15): the single-action limit-collect stays
    // the whole dispatch for the common case (gate-scale batches fit in
    // the 64k probe), but a frame that overflows the probe no longer
    // ships up to lim+1 (~2M) rows to the driver just to discard them —
    // one count decides, and only a frame that truly fits is then
    // collected. The limit-collect cached only the partitions it
    // touched, so that count still computes the partitions it did not
    // reach; the final collect reads them all from the cache.
    val probeLim = math.min(lim, 1 << 16)
    val fastRows =
      if (!comparableIdType(idType)) None
      else {
        val r = sub.limit(probeLim + 1).collect()
        if (r.length <= probeLim) Some(r) // limit n+1 of ≤n rows = complete
        else if (probeLim == lim) None
        else if (sub.count() <= lim) Some(sub.collect())
        else None
      }
    val out = fastRows match {
      case Some(rows) =>
        val keep = unionFindKeep(rows)
        val batchIds = rows.iterator.filter(_.getInt(3) == 0)
          .map(_.get(0)).toSet
        (emptyish(batchIds.toSeq.map(id =>
            org.apache.spark.sql.Row(id, keep(id))), idCol, "keep_id"),
          emptyish(keep.iterator
            .filter { case (id, k) => !batchIds.contains(id) && id != k }
            .map { case (id, k) => org.apache.spark.sql.Row(id, k) }.toSeq,
            "old_rep", "keep_id"))
      case None =>
        val solved = convergeKeepList(sub.drop("__src"), idCol)
        val bIds = bb.select(idCol).distinct()
        // rep pseudo-nodes = solved minus batch ids (id-uniqueness
        // contract above) — no recomputation of the touched join
        (solved.join(bIds, Seq(idCol), "left_semi"),
          solved.join(bIds, Seq(idCol), "left_anti")
            .where(col("keep_id") =!= col(idCol))
            .select(col(idCol).as("old_rep"), col("keep_id")))
    }
    bb.unpersist(); sub.unpersist()
    out
  }

  /** Id types whose driver-side ordering provably matches SQL `min`.
    * INTEGRAL ONLY: StringType is deliberately excluded — JVM
    * String.compareTo orders by UTF-16 code units while Spark's
    * UTF8String `min` orders by UTF-8 bytes, and the two DISAGREE on
    * supplementary code points (U+10000 sorts below U+FFFF in UTF-16,
    * above it in UTF-8), so a string-keyed store could pick a
    * different keep than the distributed path or any SQL oracle.
    * String ids take the distributed fixpoint.
    */
  private def comparableIdType(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType => true
      case _ => false
    }

  /** Driver union-find over (id, band, h, …) rows: ids sharing a
    * bucket are connected; keep = component minimum under the natural
    * ordering (identical to SQL min for the integral id types
    * the fast path admits). Path-halving union-find; union roots by
    * minimum so the root IS the component keep. Returns id → keep for
    * every distinct id.
    */
  private def unionFindKeep(rows: Array[org.apache.spark.sql.Row])
      : Map[Any, Any] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x0: Any): Any = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val bucketRoot = scala.collection.mutable.HashMap.empty[(Any, Any), Any]
    for (r <- rows) {
      val id = r.get(0)
      if (!parent.contains(id)) parent(id) = id
      // a null band/h matches NOTHING in the distributed path (SQL
      // equi-join semantics) — skip the bucket, keep the node
      if (!r.isNullAt(1) && !r.isNullAt(2)) {
        val bk = (r.get(1), r.get(2))
        bucketRoot.get(bk) match {
          case None => bucketRoot(bk) = id
          case Some(other) =>
            val (ra, rb) = (find(id), find(other))
            if (ra != rb) {
              if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
            }
        }
      }
    }
    parent.keys.toArray.iterator.map(id => id -> find(id)).toMap
  }

  /** the admitted docs' band rows (append payload) */
  private def admittedBands(bb: DataFrame, res: DataFrame, idCol: String): DataFrame =
    bb.join(res.where(col("admitted")).select(idCol), Seq(idCol), "left_semi")

  /** The LAZY verdict plan behind [[committedIncrementalDedupBucketed]]
    * — exposed so plan-shape specs can assert the probe stays a
    * broadcast of the batch side (the entry returns a read of the
    * committed verdicts, whose plan hides the upstream joins).
    */
  private[graft] def incrementalVerdictPlan(bb: DataFrame, idCol: String,
                                            idx: DataFrame): DataFrame = {
    val bbKeys = bb.select(col("band"), col("h"), col(idCol).as("__bid"))
    val hitCorpus = idx.join(broadcast(bbKeys), Seq("band", "h"))
      .select(col("__bid").as(idCol)).distinct()
    val aSide = bb.select(col("band"), col("h"), col(idCol).as("__a"))
    val bSide = bb.select(col("band"), col("h"), col(idCol).as("__b"))
    val hitBatch = aSide.join(bSide, Seq("band", "h"))
      .where(col("__a") < col("__b"))
      .select(col("__b").as(idCol)).distinct()
    bb.select(idCol).distinct()
      .join(hitCorpus.withColumn("__dc", lit(true)), Seq(idCol), "left")
      .join(hitBatch.withColumn("__db", lit(true)), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__dc"), lit(false)).as("dup_of_corpus"),
        coalesce(col("__db"), lit(false)).as("dup_in_batch"))
      .withColumn("admitted", !col("dup_of_corpus") && !col("dup_in_batch"))
  }

  /** Distinct candidate pairs (ia < ib) sharing any band bucket.
    * One signature computation, one shuffle (the groupBy), pair
    * expansion per bucket via index-aware transform + slice.
    *
    * Buckets larger than `bucketCap` never reach the collect_list: a
    * degenerate bucket (boilerplate-heavy corpus) would otherwise
    * become one multi-GB array row whose quadratic expansion runs as a
    * single task AQE cannot split. Hot buckets are detected with a
    * count aggregate (one row per bucket — tiny) and routed through a
    * plain self equi-join on (band, h), which AQE's skew-join CAN
    * split; the hot-bucket key set is broadcast, so cold rows pay one
    * broadcast probe, no extra shuffle. Results are identical to the
    * uncapped path (both enumerate all within-bucket pairs ia < ib).
    */
  def candidatePairs(docs: DataFrame, idCol: String, wordsCol: Column,
                     k: Int = 4, rowsPerBand: Int = 1,
                     bucketCap: Int = 1000): DataFrame = {
    // cap=1000 bounds the COLLECT-path blowup, which is quadratic in
    // bucket size: a 1000-id bucket expands to ≤500k pair structs
    // (~8 MB) inside one task — fine; a 10k bucket would be 50M pairs
    // (~1 GB in one row) — measured to stall a 32-core box. Hot
    // buckets pay a shuffle instead, which AQE splits.
    // signatures are the dominant cost and feed every consumer (size
    // count, cold path, hot path) — persist; Spark's ContextCleaner
    // reclaims the blocks once the result plan is garbage-collected.
    val b = bands(docs, idCol, wordsCol, k, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hot-bucket detection is a BOUNDED driver action: a hot bucket
    // holds > bucketCap rows, so there exist at most rows/bucketCap of
    // them — the collected key set is O(N/cap) regardless of skew.
    // Materializing the persisted bands here also means the signature
    // UDF runs exactly once for the whole operator. With no hot
    // buckets (the overwhelmingly common shape) the result is the
    // plain single-pipeline plan reading from cache — the cap then
    // costs one in-memory count pass instead of two broadcast probes,
    // a union, and a wider distinct.
    val hotKeys = b.groupBy("band", "h").agg(count(lit(1)).as("__n"))
      .where(col("__n") > bucketCap).select("band", "h").collect()
    def expand(src: DataFrame): DataFrame = src
      .groupBy("band", "h")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
           transform(slice(ids, i + 2, size(ids)), y -> struct(x AS ia, y AS ib))))"""))
        .as("p"))
      .select(col("p.ia"), col("p.ib"))
    if (hotKeys.isEmpty) expand(b).distinct()
    else {
      val spark = docs.sparkSession
      val hot = spark.createDataFrame(
        java.util.Arrays.asList(hotKeys: _*), b.select("band", "h").schema)
      val cold = expand(b.join(broadcast(hot), Seq("band", "h"), "left_anti"))
      val hotRows = b.join(broadcast(hot), Seq("band", "h"), "left_semi")
      val hotPairs = hotRows.select(col("band"), col("h"), col(idCol).as("ia"))
        .join(hotRows.select(col("band"), col("h"), col(idCol).as("ib")),
          Seq("band", "h"))
        .where(col("ia") < col("ib"))
        .select(col("ia"), col("ib"))
      cold.union(hotPairs).distinct()
    }
  }
}
