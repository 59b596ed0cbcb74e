package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The 10× SCALING GATE promoted from advisory to enforced (VERDICT r7
  * directive 6): build an sf1-scale dir (sf0.1 documents/embeddings
  * replicated 10× with fresh ids and rotated/shifted content, see
  * [[replicateDocs]]), run the dedup/ANN/streaming tier
  * gates at sf0.1 AND sf1 through the REAL SparkEntry entry points, and
  * enforce the scaling_audit threshold per query: an sf1 time more than
  * 12× its sf0.1 time (with the same >0.35 s floor) flags. x35 is a
  * fixed-size stream fixture (cost = micro-batch overhead, by design
  * SF-independent) — included to pin exactly that. Results feed the
  * PERF.md sf1 table.
  *
  * ROUND-10 MEASUREMENT PROTOCOL — per-gate JVM ISOLATION, symmetric
  * (VERDICT r9 directive 1 + the advisor's retry-asymmetry finding).
  * The round-9 audit ran all 45 gates through one JVM: m14 read 11.0×
  * in-audit vs 4.7× clean purely from neighboring gates' heap/GC
  * pressure, so the flag condition tested audit ORDERING as much as
  * scaling — and the flagged-only re-measure could only ever REMOVE
  * flags (min over up to 3 runs for flagged gates, 2 for the rest).
  * Now the driver run spawns ONE FRESH CHILD JVM PER GATE (`one`
  * mode): every gate, flagged or not, gets the identical policy —
  * fresh heap, table-footer warmup, then the SAME number of timed
  * iterations at both dirs with the MEDIAN taken (median absorbs the
  * first-run codegen warmup that the old min-of-2 let through, and
  * unlike min it cannot be driven down by retry luck). The audit's
  * flag condition is scaling, full stop.
  */
object Sf1Probe {

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  val gates = Seq(
    "d2_minhash_lsh_pairs", "d6_dedup_keeplist", "d13_incremental_index_dedup",
    "s4_lsh_ann_topk", "s9_ivf_kmeans", "s13_ivf_index_served",
    "e18_stream_index_dedup", "x35_corpus_stream",
    // round-8 additions: the committed-protocol lifecycle gates and
    // the new dedup/ANN tiers
    "d15_index_compaction", "e19_stream_restart_dedup",
    "m14_image_keeplist", "s15_ivf_staleness",
    "d16_bucketed_index_dedup", "s16_stream_ivf_append",
    "e20_stream_bucketed_dedup", "e21_stream_cms", "e22_stream_histogram",
    // keep-list lifecycle tier (d17 solves the affected subgraph only,
    // d18/e23 add the persisted store + fold — their cost must track
    // the batch, never the corpus)
    "d17_incremental_keeplist", "d18_keeplist_lifecycle",
    "e23_stream_keeplist", "d19_bucketed_compaction", "d21_keeplist_delete",
    "d20_embedding_keeplist", "d22_index_delete", "s17_ivf_delete",
    "d23_keeplist_asof", "t26_bm25_topk",
    // round-8 late additions: keep-best composes the d6 fixpoint with
    // one more agg; the lottery/DSIR selectors are map-only + fixed
    // broadcast model; e26 is micro-batch fixed overhead like x35.
    // d24 is deliberately ABSENT: the replication scheme keeps replica
    // token SETS τ-similar, so its true-pair OUTPUT grows ~100× per
    // 10× docs — an output-bound op can't meet a 12× wall-clock bar on
    // a corpus whose answer is 100× larger; its scaling story is the
    // per-pair cost row in PERF.md (falls with scale).
    "d26_keep_best", "o14_weighted_lottery", "o15_dsir_select",
    "e26_stream_lottery",
    // closing additions: streaming faces (fixed micro-batch overhead +
    // additive partials), graph rounds (joins+aggs on keys), entropy /
    // reach / quotas / rank-limit (partial-aggregable), embedding
    // decontamination (broadcast eval, map-only corpus scan). d25 is
    // ABSENT like d24/d27: its gate pins k=4 cells, so within-cell
    // pairs grow quadratically at fixed k — production scales k with
    // the corpus (the pruning factor IS k), and the gate's job is
    // verdict correctness, not the k-scaling policy. (d24/d27 get
    // their own per-pair rows via the `pairs` mode below.)
    "e27_stream_late_data", "e28_stream_outer_join", "e29_stream_dsir",
    "r13_label_propagation", "t31_token_entropy",
    "w7_running_distinct_users", "d28_embedding_decontaminate",
    "j21_asof_forward",
    // round-9 additions: the replica now scales customer/supplier
    // (replicate-v3), so the quota/top-k gates join the enforced table
    // (VERDICT r8 directive 5) — o16 is quota-broadcast + one
    // hash-partitioned window, a25 is WindowGroupLimit-bounded; both
    // must track the scaled dimension linearly. Plus the round's new
    // gates: d29 (distributed keep-list fold burst), e30 (full-outer
    // stream-stream), e31 (DSIR drift — bucket-relation metric, flat),
    // e32 (streaming quarantine — micro-batch overhead + decode scan).
    "o16_quota_stratified", "a25_topk_per_group",
    "d29_keeplist_burst_fold", "e30_stream_full_outer_join",
    "e31_dsir_drift_refresh", "e32_stream_quarantine",
    // round-10 additions: the lifecycle-symmetry gates (as-of reads
    // for BM25 and the DSIR model — subset unions over generation
    // dirs, like d23/s18), the keep-list auto-fold burst, and the
    // incremental DSIR scorer (per-batch tokenize + merged partials).
    // d30 (Zipfian containment) is enforced too: unlike d24/d27 the
    // trigram vocabulary keeps replica sets from exploding the true-
    // pair output, so a wall-clock bar is meaningful.
    "d31_keeplist_auto_fold", "t32_bm25_index_asof",
    "o17_dsir_model_asof", "o18_dsir_incremental_score",
    "d30_containment_zipf",
    // streamed faces of the round-10 lifecycle gates: as-of over the
    // stream-committed BM25 gens, auto-fold inside foreachBatch
    "e33_stream_bm25_asof", "e34_stream_auto_fold",
    // round-11: d33 is the GATED remedy for d32's measured 17.6× —
    // scaled-k SemDeDup with every data pass (coarse fit, the fine
    // fit's Lloyd step, corpus assignment) routed through the
    // two-level argmin, n·O(√k) instead of n·k. d32 itself stays
    // ABSENT with the round-10 measured rationale: its job is pinning
    // verdict correctness of the brute path under the scaled-k
    // policy; d33 is the same policy built to scale, so the SemDeDup
    // family's enforced row is d33's.
    "d33_semantic_dedup_hier",
    // round-11: s20 is the cosine face of the same remedy in the IVF
    // tier — corpus-scaled nlist with the fit, the corpus assignment,
    // AND the probe all routed two-level (n·O(√nlist) per data pass,
    // O(√nlist) per query route); its enforced row pins that the IVF
    // tier's own scaled-nlist path clears the bar, not just SemDeDup's
    "s20_ivf_hier_scalednlist",
    // s21: s20's streamed face — frozen scaled-nlist codebooks, per-
    // micro-batch two-level assignment, exactly-once gen publishes,
    // partition-pruned two-level-probed serve; its enforced row pins
    // that the streamed maintenance cost tracks the batch, not the
    // corpus, at the scaled-nlist policy
    "s21_stream_ivf_hier",
    // s22: as-of serve on s21's streamed store — the snapshot read is
    // a second static partition prune on the same scan, so its cost
    // must track the snapshot's generations, not the corpus history
    "s22_ivf_hier_asof",
    // s23: takedown on the two-level store — rewrite cost tracks the
    // store, serve cost the probed cells, neither the corpus history
    "s23_ivf_hier_delete",
    // round-11: the user-facing dataset creators (the reference's
    // actual workloads — scrc/dataset_creation/*.py) join the
    // enforced table: the scaling guarantee should cover what a user
    // runs end-to-end, not just the operator tier. They run over the
    // deterministic fixture corpus (SF-invariant by construction,
    // like x35), so their enforced rows pin exactly that — creator
    // cost is fixture-bound join/agg work that no corpus growth may
    // leak into, the x35 discipline applied to the whole e2e tier.
    "x22_pipeline_e2e", "x25_judgment_dataset_e2e",
    "x26_criticality_e2e", "x27_doc2doc_e2e", "x28_lawarea_e2e",
    "x29_courtview_e2e", "x30_pretraining_e2e", "x31_fi_summary",
    "x32_fi_sample", "x33_citation_ner_e2e", "x34_regeste_e2e",
    // round-12: the centroids-as-DataFrame tier (VERDICT r11
    // directive 1) — d34/s24 re-run the d33/s20 policies with the
    // fine codebook distributed end to end (coarse route equi-join +
    // per-vector window instead of the broadcast fine argmin); their
    // rows pin that removing the driver state does not reintroduce a
    // data-scaling term
    "d34_semantic_dedup_dist", "s24_ivf_hier_dist",
    // s25: the dist tier's streamed face — per-micro-batch distributed
    // assignment (a join per batch); its row pins that the per-batch
    // join cost tracks the batch, never the corpus
    "s25_stream_ivf_hier_dist",
    // round-12: BM25 generation compaction (directive 5) — fold cost
    // must track the index, serve cost the probed buckets, neither
    // the generation count
    "t33_bm25_index_compact",
    // round-13: the bucketed-cell store layout (VERDICT r12 directive
    // 1) — s26 builds and serves the scaled-nlist IVF from a store
    // whose directory count is bounded by B (cell_bucket = cell % B
    // partitions, cell a cell-sorted data column); its row pins that
    // bounding the directory count costs no data-scaling term in
    // build or serve (the probe's cell filter becomes a bucket prune
    // + in-file row-group skip instead of a directory prune)
    "s26_ivf_bucketed_served",
    // s30: the bucketed layout's streamed face (lifecycle symmetry
    // with s16/s21/s25) — per-batch maintenance cost must track the
    // batch (one bucket shuffle of the landing), never the corpus
    "s30_stream_ivf_bucketed",
    // round-12: the creator tier's LOAD-BEARING scaling row
    // (directive 8) — x40 derives its decision corpus from the
    // documents table, so unlike the fixture-bound x25..x34 rows this
    // one must track the corpus linearly
    "x40_judgment_dataset_scaled",
    // round-13: the criticality creator at SF-scaling ruling
    // vocabulary (VERDICT r12 directive 5) — x26's pipeline with the
    // key-space cap removed (rulings ∝ n/8), so the citation-freq
    // aggregate, the distributed quartile ntile, and the label join
    // all scale with the corpus; its row pins that the creator's
    // heaviest label logic tracks the corpus linearly
    "x41_criticality_scaled",
    // round-14: the doc2doc-IR creator at SF-scaling ruling vocabulary
    // (VERDICT r13 directive 5) — nearest-page as-of resolution (one
    // union-sort shuffle), citation TF-IDF, top-k vocab + masking, all
    // over a ruling corpus ∝ n/8; its row pins that the creator's
    // heaviest join logic tracks the corpus linearly
    "x42_doc2doc_scaled")

  /** OUTPUT-BOUND gates measured per OUTPUT UNIT, not per wall-clock
    * (VERDICT r11 directive 3 — the class rule, applied by the
    * generator): the sf1 replica scheme keeps replica content
    * τ-similar, so a pair/edge-emitting gate's true answer grows
    * ~quadratically in replicas (measured: d2 pairs 98×, m14 edges
    * 103× at the 10× step) and a wall-clock bar tests the answer's
    * size, not the engine. d2/d24/d27 are priced in `pairs` mode
    * (their output IS the pairs); m14's output is the keep-list (rows
    * track docs) but its COST is the closure over the pair-graph
    * edges, so its enforced row measures edges explicitly and flags
    * on the per-EDGE cost ratio. Each entry counts the gate's edge
    * workload at one dir — once per sweep, outside the timed runs.
    */
  val edgeCounters: Map[String, (SparkSession, String) => Long] = Map(
    "m14_image_keeplist" -> { (s, dir) =>
      val h = graft.multimodal.MediaPipeline.imageAHashes(
        graft.multimodal.MediaPipeline.withImagePayload(
          graft.sources.Tables.documents(s, dir))).toDF()
        .where(col("ahash").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.operators.HammingLSH
        .nearDupPairs(h, "doc_id", "ahash", bits = 48, bands = 4).count()
      finally h.unpersist(true)
    })

  /** POLICY-PRICED gates (VERDICT r13 directive 3): the scaled-nlist /
    * scaled-k family trains at k = n/100 (the d32/d33 policy), so every
    * Lloyd/assignment pass costs ∝ n·√k and the 10× step carries a
    * 10·√10 ≈ 31.6× compute term BY POLICY, not by regression. These
    * gates pass the 12× wall bar only because the two-level plans
    * amortize that term — which means the wall bar alone could absorb
    * a genuine 2-3× regression inside the band. So, like d2's per-pair
    * and m14's per-edge rows, these gates ALSO price per n·√k unit:
    * units = n · √(max(4, n/100)) counted from the dir's embeddings
    * table (the stream gates train on 3/4 of n — a constant factor
    * that cancels in the ratio). The per-unit cost must not RISE at
    * the 10× step; [[nsqrtkBar]] = 1.5 is headroom for fixed-overhead
    * noise (sf0.1 per-unit cost is OVERpriced by session spin-up, so
    * healthy ratios sit well below 1), not for new data-scaling work.
    * Flag condition for these gates = wall > 12× OR per-unit > 1.5×.
    */
  val nsqrtkGates: Set[String] = Set(
    "s20_ivf_hier_scalednlist", "s21_stream_ivf_hier", "s22_ivf_hier_asof",
    "s23_ivf_hier_delete", "s24_ivf_hier_dist", "s25_stream_ivf_hier_dist",
    "s26_ivf_bucketed_served", "d33_semantic_dedup_hier",
    "d34_semantic_dedup_dist")

  val nsqrtkBar = 1.5

  def nsqrtkUnits(s: SparkSession, dir: String): Long = {
    val n = s.read.parquet(s"$dir/embeddings.parquet").count()
    val k = math.max(4L, n / 100)
    (n.toDouble * math.sqrt(k.toDouble)).toLong
  }

  /** The documents n×: fresh ids (doc_id·n + rep) and each replica's
    * word stream rotated, so shingles differ while the near-dup
    * structure stays realistic.
    */
  private def replicateDocs(spark: SparkSession, d: String, n: Int): DataFrame =
    Tables.documents(spark, d)
      .crossJoin(spark.range(n).toDF("rep"))
      .select(
        (col("doc_id") * n + col("rep")).as("doc_id"),
        concat_ws(" ", expr("slice(split(text, ' '), CAST(rep % 5 + 1 AS INT), 10000)"),
          col("rep").cast("string")).as("text"),
        col("lang"), col("source"))

  /** The embeddings n×: fresh ids (vec_id·n + rep), each replica's
    * vector shifted by a small per-component offset.
    */
  private def replicateVecs(spark: SparkSession, d: String, n: Int): DataFrame =
    Tables.embeddings(spark, d)
      .crossJoin(spark.range(n).toDF("rep"))
      .select(
        (col("vec_id") * n + col("rep")).as("vec_id"),
        expr("transform(embedding, (x, i) -> x + CAST(rep AS FLOAT) * 0.001 * CAST(i % 7 AS FLOAT))")
          .as("embedding"),
        col("label"))

  /** Replicate a raw parquet table n× with fresh surrogate keys
    * (key·n + rep) — the dimension-table face of the same
    * replication scheme, so gates over customer/supplier scale with
    * the corpus instead of being excluded as unscaled dims.
    */
  private def replicateKeyed(spark: SparkSession, src: String,
                             table: String, n: Int,
                             keyCols: Set[String]): DataFrame = {
    val df = spark.read.parquet(s"$src/$table.parquet")
    df.crossJoin(spark.range(n).toDF("rep"))
      .select(df.columns.map(c =>
        if (keyCols.contains(c)) (col(c) * n + col("rep")).as(c)
        else col(c)): _*)
  }

  def buildSf1(spark: SparkSession, src: String, dst: String): Unit = {
    val marker = java.nio.file.Paths.get(s"${dst}_src.txt")
    val tag = s"$src n=10 replicate-v3" // v3: + customer/supplier dims
    val fresh = new java.io.File(dst).exists() &&
      java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker) == tag
    if (fresh) return
    replicateDocs(spark, src, 10)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    replicateVecs(spark, src, 10)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    // dimension tables for the quota/top-k gates (o16/a25): fresh keys,
    // group columns (c_mktsegment / s_nationkey) untouched so group
    // cardinality stays fixed while group SIZE scales 10×
    replicateKeyed(spark, src, "customer", 10, Set("c_custkey"))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    replicateKeyed(spark, src, "supplier", 10, Set("s_suppkey"))
      .write.mode("overwrite").parquet(s"$dst/supplier.parquet")
    // events 10×: fresh event ids, 10× the user population, values
    // perturbed per replica — the raw-schema layout Tables.events reads
    spark.read.parquet(s"$src/events.parquet")
      .crossJoin(spark.range(10).toDF("rep"))
      .select((col("event_id") * 10 + col("rep")).as("event_id"),
        col("ts"),
        (col("user_id") * 10 + col("rep")).as("user_id"),
        col("event_type"),
        (col("value") + col("rep") * 0.001).as("value"),
        col("props"))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    java.nio.file.Files.writeString(marker, tag)
  }

  /** CHILD entry (`one <gate> <sf01> <sf1> [iters]`): fresh JVM, own
    * Spark session, footer warmup on both dirs, then `iters` timed
    * runs per dir with the MEDIAN reported on one parseable line.
    * This is the isolation unit — nothing from any other gate (pinned
    * caches, heap fragmentation, codegen churn) can reach it.
    */
  private def childMain(gate: String, sf01: String, sf1: String,
                        iters: Int): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.registerNative(spark)
    for (dir <- Seq(sf01, sf1); t <- graft.sources.Tables.names)
      try graft.sources.Tables(spark, dir, t).count()
      catch { case _: Throwable => () }
    def median(dir: String): Double = {
      val ts = (1 to iters).map { _ =>
        time(graft.SparkEntry.queries(gate)(spark, dir).count())._2
      }.sorted
      ts(ts.size / 2)
    }
    val t01 = median(sf01)
    val t1 = median(sf1)
    // edge-priced gates (the output-bound class rule) report their
    // edge workload too — counted once per dir, outside the timed runs
    val edges = edgeCounters.get(gate)
      .map(c => (c(spark, sf01), c(spark, sf1)))
    // policy-priced gates report their n·√k unit workload too —
    // counted once per dir from the embeddings table, off the clock
    val units =
      if (nsqrtkGates(gate))
        Some((nsqrtkUnits(spark, sf01), nsqrtkUnits(spark, sf1)))
      else None
    (edges, units) match {
      case (Some((e01, e1)), _) =>
        println(f"SF1ONE $gate t01=$t01%.4f t1=$t1%.4f e01=$e01%d e1=$e1%d")
      case (None, Some((u01, u1))) =>
        println(f"SF1ONE $gate t01=$t01%.4f t1=$t1%.4f u01=$u01%d u1=$u1%d")
      case _ =>
        println(f"SF1ONE $gate t01=$t01%.4f t1=$t1%.4f")
    }
    spark.stop()
  }

  /** Fork one isolated child per gate; returns (t01, t1) or None on
    * child failure/timeout (reported, counted as a flag — a gate that
    * cannot be measured must not silently pass the audit).
    */
  private def runIsolated(javaBin: String, cp: String, heap: String,
                          gate: String, sf01: String, sf1: String,
                          iters: Int, logDir: java.io.File)
      : Option[(Double, Double, Option[(Long, Long)], Option[(Long, Long)])] = {
    val pb = new ProcessBuilder(javaBin, s"-Xmx$heap", "-cp", cp,
      "--add-opens=java.base/java.lang=ALL-UNNAMED",
      "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
      "--add-opens=java.base/java.util=ALL-UNNAMED",
      "--add-opens=java.base/java.nio=ALL-UNNAMED",
      "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
      "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
      "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
      "--add-opens=java.base/java.io=ALL-UNNAMED",
      "--add-opens=java.base/java.net=ALL-UNNAMED",
      "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
      "graft.tools.Sf1Probe", "one", gate, sf01, sf1, iters.toString)
    pb.redirectError(new java.io.File(logDir, s"$gate.err"))
    val outFile = new java.io.File(logDir, s"$gate.out")
    pb.redirectOutput(outFile)
    val p = pb.start()
    val done = p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)
    if (!done) { p.destroyForcibly(); println(s"SF1 $gate TIMEOUT"); return None }
    val out = scala.io.Source.fromFile(outFile)
    val line: Option[String] =
      try out.getLines().find(_.startsWith("SF1ONE ")) finally out.close()
    val R =
      ("""SF1ONE \S+ t01=([0-9.]+) t1=([0-9.]+)""" +
        """(?: e01=([0-9]+) e1=([0-9]+))?(?: u01=([0-9]+) u1=([0-9]+))?""")
        .r.unanchored
    line match {
      case Some(R(t01, t1, e01, e1, u01, u1)) =>
        Some((t01.toDouble, t1.toDouble,
          Option(e01).map(e => (e.toLong, e1.toLong)),
          Option(u01).map(u => (u.toLong, u1.toLong))))
      case _ =>
        println(s"SF1 $gate CHILD-FAILED exit=${p.exitValue()} " +
          s"(see ${outFile.getPath} / .err)")
        None
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("one")) {
      childMain(args(1), args(2), args(3),
        args.lift(4).map(_.toInt).getOrElse(3))
      return
    }
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.registerNative(spark)
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = "/tmp/graft_sf1"
    buildSf1(spark, sf01, sf1)
    println(f"docs sf1=${spark.read.parquet(s"$sf1/documents.parquet").count()}%d " +
      f"vecs sf1=${spark.read.parquet(s"$sf1/embeddings.parquet").count()}%d")

    def run(name: String, dir: String): Double =
      (1 to 2).map { _ =>
        val (_, t) = time(graft.SparkEntry.queries(name)(spark, dir).count())
        t
      }.min

    // `pairs` mode: the OUTPUT-BOUND exact set joins (d24/d27) are
    // excluded from the 12× wall-clock bar — the replication scheme
    // keeps replica token sets τ-similar, so their true-pair OUTPUT
    // grows ~100× per 10× docs — but their scaling claim ("per-pair
    // cost falls with scale") must be PINNED at the 10× step, not
    // asserted from sf0.01→0.1 (VERDICT r8 directive 5). One timed
    // run per (gate, dir) reporting time, output pairs, and µs/pair.
    if (args.contains("pairs")) {
      // d2 rides along since round 11: its enforced-table ratio (the
      // table's highest in-band row) is largely OUTPUT growth — the
      // replica scheme makes replicated docs near-identical, so the
      // banded pair output grows ~quadratically in replicas (the m14
      // closure finding, same physics) — and the per-pair row prices
      // that honestly the way d24/d27's rows do.
      val pairGates = Seq("d24_setsim_join", "d27_containment_join",
        "d2_minhash_lsh_pairs")
      val pairOnly = args.filter(pairGates.contains)
      for (g <- (if (pairOnly.nonEmpty) pairOnly.toSeq else pairGates);
           dir <- Seq(sf01, sf1)) {
        var pairs = 0L
        val (_, t) = time {
          pairs = graft.SparkEntry.queries(g)(spark, dir).count()
        }
        println(f"SF1PAIRS $g%-24s dir=$dir%-22s t=$t%8.2fs " +
          f"pairs=$pairs%10d us_per_pair=${t * 1e6 / pairs}%8.3f")
      }
      spark.stop()
      return
    }

    // dev escape hatch: `inproc` keeps the old single-JVM sweep (min
    // of 2, no isolation) for quick A/B against the isolated numbers
    if (args.contains("inproc")) {
      var flags = 0
      for (g <- gates) {
        val t01 = run(g, sf01)
        val t1 = run(g, sf1)
        val flagged = t1 > 0.35 && t1 / t01 > 12.0
        if (flagged) flags += 1
        println(f"SF1 $g%-28s sf0.1=$t01%6.2fs sf1=$t1%7.2fs " +
          f"ratio=${t1 / t01}%5.2fx" + (if (flagged) "  FLAG" else ""))
      }
      println(s"SF1AUDIT flags=$flags of ${gates.length} (inproc)")
      spark.stop()
      return
    }

    // ISOLATED audit: release the box (one heavy Spark JVM at a time —
    // a parent session idling over 32 cores is exactly the neighbor
    // pressure the isolation exists to remove), then one child per gate
    spark.stop()
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val heap = sys.env.getOrElse("SPARK_GRAFT_SF1_HEAP", "48g")
    val iters = sys.env.getOrElse("SPARK_GRAFT_SF1_ITERS", "3").toInt
    val only = args.filter(gates.contains) // subset: probe single gates
    val logDir = new java.io.File("/tmp/sf1probe_logs")
    logDir.mkdirs()
    var flags = 0
    for (g <- if (only.nonEmpty) only.toSeq else gates) {
      runIsolated(javaBin, cp, heap, g, sf01, sf1, iters, logDir) match {
        case Some((t01, t1, Some((e01, e1)), _)) if e01 > 0 && e1 > 0 =>
          // the output-bound class rule (see edgeCounters): the bar is
          // the per-EDGE cost ratio — a wall ratio on a gate whose
          // edge workload grows ~100× per 10× step tests the answer's
          // size, not the engine
          val u01 = t01 * 1e6 / e01
          val u1 = t1 * 1e6 / e1
          val ratio = u1 / u01
          val flagged = t1 > 0.35 && ratio > 12.0
          if (flagged) flags += 1
          println(f"SF1 $g%-28s sf0.1=$t01%6.2fs sf1=$t1%7.2fs " +
            f"wall=${t1 / t01}%5.2fx edges=$e01%d->$e1%d " +
            f"us_per_edge=$u01%.2f->$u1%.2f ratio=$ratio%5.2fx " +
            "PER-EDGE" + (if (flagged) "  FLAG" else ""))
        case Some((t01, t1, Some((e01, e1)), _)) =>
          // a ZERO edge count would make per-edge cost Infinity (e01=0)
          // or 0/NaN (e1=0) — the latter silently never flags even when
          // wall exploded. Fall back to the wall-clock bar, loudly.
          val ratio = t1 / t01
          val flagged = t1 > 0.35 && ratio > 12.0
          if (flagged) flags += 1
          println(f"SF1 $g%-28s sf0.1=$t01%6.2fs sf1=$t1%7.2fs " +
            f"ratio=$ratio%5.2fx edges=$e01%d->$e1%d " +
            "ZERO-EDGES(wall-clock bar)" + (if (flagged) "  FLAG" else ""))
        case Some((t01, t1, None, Some((nu01, nu1)))) if nu01 > 0 && nu1 > 0 =>
          // the policy-priced class rule (see nsqrtkGates): BOTH bars —
          // the 12× wall bar AND the per-n·√k-unit bar, so a regression
          // the k = n/100 policy's 31.6× compute term would absorb
          // still flags
          val wall = t1 / t01
          val pu01 = t01 * 1e9 / nu01
          val pu1 = t1 * 1e9 / nu1
          val ratio = pu1 / pu01
          val flagged = t1 > 0.35 && (wall > 12.0 || ratio > nsqrtkBar)
          if (flagged) flags += 1
          println(f"SF1 $g%-28s sf0.1=$t01%6.2fs sf1=$t1%7.2fs " +
            f"wall=$wall%5.2fx nsqrtk=$nu01%d->$nu1%d " +
            f"ns_per_unit=$pu01%.2f->$pu1%.2f ratio=$ratio%5.2fx " +
            "PER-NSQRTK" + (if (flagged) "  FLAG" else ""))
        case Some((t01, t1, None, _)) =>
          val ratio = t1 / t01
          val flagged = t1 > 0.35 && ratio > 12.0
          if (flagged) flags += 1
          println(f"SF1 $g%-28s sf0.1=$t01%6.2fs sf1=$t1%7.2fs " +
            f"ratio=$ratio%5.2fx" + (if (flagged) "  FLAG" else ""))
        case None => flags += 1 // unmeasurable never passes silently
      }
    }
    println(s"SF1AUDIT flags=$flags of " +
      s"${if (only.nonEmpty) only.length else gates.length} " +
      s"(isolated, median of $iters per dir)")
  }
}
