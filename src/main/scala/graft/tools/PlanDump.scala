package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dump formatted physical plans for the headline queries → PLANS.md
  * (the .explain("formatted") evidence the scale review reads).
  *
  * COVERAGE IS ENFORCED (VERDICT r11 directive 2 — the regen ran
  * early two rounds straight): every gate on the ENFORCED sf1 surface
  * (Sf1Probe.gates) must either be in [[headline]] or carry an
  * explicit exclusion reason in [[excluded]]; the dump FAILS otherwise,
  * so adding an enforced gate without deciding its plan evidence
  * breaks the round-close regen instead of silently skipping it.
  * PlansCurrencySpec closes the other gap (regen-ran-early): it fails
  * `sbt test` whenever PLANS.md on disk lacks a section for any
  * headline entry.
  */
object PlanDump {

  /** enforced gates deliberately NOT dumped, with the standing reason
    * — streaming faces have per-micro-batch plans (machine checks live
    * in their specs / gate assertions); store-lifecycle gates are
    * write/compact/replay sequences whose probe shapes are shared with
    * a dumped batch face
    */
  val excluded: Map[String, String] = {
    val streaming = Seq("e18_stream_index_dedup", "e19_stream_restart_dedup",
      "e20_stream_bucketed_dedup", "e21_stream_cms", "e22_stream_histogram",
      "e23_stream_keeplist", "e26_stream_lottery", "e27_stream_late_data",
      "e28_stream_outer_join", "e29_stream_dsir",
      "e30_stream_full_outer_join", "e31_dsir_drift_refresh",
      "e32_stream_quarantine", "e33_stream_bm25_asof",
      "e34_stream_auto_fold", "x35_corpus_stream", "s16_stream_ivf_append",
      "s30_stream_ivf_bucketed")
      .map(_ -> "streaming face: plans are per-micro-batch; checks in specs")
    val lifecycle = Seq(
      "d15_index_compaction" -> "compaction lifecycle; probe shape pinned in IncrementalDedupSpec",
      "d16_bucketed_index_dedup" -> "store-build lifecycle; probe shape pinned in IncrementalDedupSpec",
      "d17_incremental_keeplist" -> "fixpoint lifecycle; loop plans pinned in MinHashLSHSpec",
      "d18_keeplist_lifecycle" -> "store lifecycle; fold/read shapes pinned in KeepListStoreSpec",
      "d19_bucketed_compaction" -> "compaction lifecycle; folded-read shape shared with d31's dumped plan",
      "d21_keeplist_delete" -> "store lifecycle; read shape shared with d31's dumped plan",
      "d22_index_delete" -> "store lifecycle; probe shape pinned in IncrementalDedupSpec",
      "d23_keeplist_asof" -> "store lifecycle; as-of prune shape shared with t32's dumped plan",
      "d29_keeplist_burst_fold" -> "fold-burst lifecycle; read shape shared with d31's dumped plan",
      "s17_ivf_delete" -> "store lifecycle; pruned-serve scan shape in the bucketed-cell serve scan section")
    (streaming ++ lifecycle).toMap
  }

  val headline = Seq(
      "a1_pricing_summary", "j1_snowflake_join", "j2_aggregate_join",
      "j10_asof_join", "w2_top25_parts_by_revenue", "d1_exact_dedup",
      "d2_minhash_lsh_pairs", "d5_embedding_neardup", "s1_cosine_topk",
      "e1_tumbling_window", "t4_term_frequency", "x1_section_split",
      // round-2 additions worth reading: distributed ntile (range
      // partitioning, no single-partition window), PQ scoring join,
      // native-signature band source
      "w3_ntile_quartiles", "s7_pq_ann_topk", "d6_dedup_keeplist",
      // round-4 additions: the 8-stage pipeline composition (joins
      // should all be broadcast/AQE-small on the fixture corpus) and
      // the spider-participation sweep (pure per-row map)
      "x22_pipeline_e2e", "x21_spider_participation",
      // round-5 additions: the creator/analysis e2e gates (x25 wide
      // assembly = broadcast dims + aggregate-joins; x26/x27 must keep
      // TakeOrderedAndProject / no pinned cache; x31 pushed contains
      // scan) and the CID font-cmap PDF tier (pure per-row map)
      "x25_judgment_dataset_e2e", "x26_criticality_e2e", "x27_doc2doc_e2e",
      "x31_fi_summary", "m6_pdf_cid_fontcmap",
      // round-6 additions: s5 must slice to 8 dims BEFORE the Generate
      // (no post-explode dim filter), j16 pushes its price filter into
      // the anti-join's right-side scan, u6 is the data-volume set
      // difference, m4 is the map-only crypto tier (all four encryption
      // modes, zero Exchange). The streaming gates e9/x35/e10 are
      // side-effecting (their interesting plans are per-micro-batch);
      // their machine checks live in the specs instead.
      "s5_label_centroids", "j16_anti_join_filtered", "u6_except_rows",
      "m4_pdf_secure",
      // round-7 additions: m1 real-imageio decode (repartition-by-cores
      // then pure map — parallelism tracks CPU, not file bytes), m8
      // audio tier (same shape), m9 pixel features (map-only), d11
      // bloom-prefiltered decontamination (stateless bloom probe scan
      // BEFORE the only explode; exact verify joins only candidates).
      // d6/d10's fixpoint loop is iterative (per-round plans constant
      // by construction, pinned in MinHashLSHSpec); not dumpable as one
      // plan.
      "m1_media_meta", "m8_audio_meta", "m9_image_features",
      "d11_bloom_decontaminate",
      // round-7 join/sketch additions: j17 salted join (salt explode on
      // the build side, one balanced shuffle), j18/j19 bucketized range
      // joins (hash equi-join on the manufactured bucket key + residual
      // — NO BroadcastNestedLoopJoin, j19 has no natural equi key at
      // all), k12 bucketed co-located join (ZERO Exchange — bucket
      // metadata satisfies the join distribution), a18 engine-neutral
      // HLL sketch (two-level partial-agg cascade: per-bucket max, then
      // per-group integer harmonic sum).
      "j17_salted_skew_join", "j18_range_join", "j19_window_lookup",
      "k12_bucketed_cojoin", "a18_hll_distinct",
      // round-7 closing additions: a19 CMS (two bounded aggregates —
      // 4096 cells regardless of corpus), a20 pivot (static column
      // set, single shuffle), r11 pagerank (2 unrolled iterations =
      // chained hash joins + partial aggs), e16 funnel (staged
      // conditional-min aggregates, no window), t23 fuzzy matching
      // (block equi-join before levenshtein, bounded per-query window)
      "a19_cms_heavy_hitters", "a20_pivot_lang_counts",
      "r11_pagerank_lite", "e16_funnel", "t23_fuzzy_citation",
      // round-7 continued: d13 incremental dedup (the gate returns its
      // committed verdicts, so the dump is their read; the probe's
      // broadcast of the batch side over the index scan — no corpus
      // shuffle — is pinned on incrementalVerdictPlan in
      // IncrementalDedupSpec),
      // s13 persisted-IVF serve (the gate returns its materialized
      // top-k, so the dump is that frame; the index scan's bucket
      // PartitionFilters are in the bucketed-cell serve scan section), t24
      // budget selection (every Window keyed on __pid — the prefix sum
      // never funnels data through one task), a24 mergeable-histogram
      // quantiles (partial-agg bin counters; windows only over the
      // ~1k-row sketch state), o10 temperature mix (tiny count agg
      // broadcast back, scan-level md5 filter).
      "d13_incremental_index_dedup", "s13_ivf_index_served",
      "t24_token_budget_select", "a24_histogram_quantiles",
      "o10_temperature_mix",
      // round-8 additions: m14 image keep-list (verified-pair edges =
      // banded equi-join + popcount filter BEFORE the distinct; the
      // closure itself is the iterative fixpoint, spec-pinned), s15
      // staleness probe (exact side one broadcast cross of 6 query
      // rows; IVF side a broadcast cell equi-join — no corpus×corpus
      // pair ever forms). d15/e18/k17/x39 are side-effecting lifecycle
      // gates (write/compact/replay); their plan-level checks live in
      // IncrementalDedupSpec / IncrementalDedupCrashSpec /
      // Scd2HorizonSpec (d15 and e18 run d13's dedup entry).
      "m14_image_keeplist", "s15_ivf_staleness",
      // round-8 retrieval/layout additions: t26 BM25 (query terms +
      // corpus stats broadcast, tf/df partial-agg, top-20 is
      // TakeOrderedAndProject)
      "t26_bm25_topk",
      // round-8 selection/dedup additions: d24 exact set-similarity
      // (interned-id prefix equi-join, length+positional filters below
      // the pair distinct, sorted-merge verify), d27 its asymmetric
      // containment mirror, d26 keep-best (partial-aggregable max_by,
      // no Window), d25 SemDeDup (broadcast codebook assign, within-
      // cell equi-join — never all-pairs), o14 lottery (map-only
      // tickets, zero Exchange, TakeOrderedAndProject), o15 DSIR
      // (4096-row broadcast LLR model, decimal-exact scoring), r13
      // label propagation (two unrolled join+agg rounds), t31 entropy
      // (two partial-agg groupBys), w7 cumulative reach (running sum
      // over the day spine, not a corpus window), j21 forward as-of
      // (one union-sort shuffle, flipped frame)
      "d24_setsim_join", "d27_containment_join", "d26_keep_best",
      "d25_semantic_dedup", "o14_weighted_lottery", "o15_dsir_select",
      "r13_label_propagation", "t31_token_entropy",
      "w7_running_distinct_users", "j21_asof_forward",
      // closing additions: a25's rank filter must lower to
      // WindowGroupLimit (bounded per-group heap), o16's quota table
      // is #strata rows broadcast back, d28's eval set broadcasts
      // against one map-only corpus scan
      "a25_topk_per_group", "o16_quota_stratified",
      "d28_embedding_decontaminate",
      // round-10 additions: d30 containment on the Zipfian trigram
      // vocabulary (the b-side bound's realistic case), o18's
      // incremental scorer (broadcast model join over only the
      // batch's tf), t32's as-of serve (gen + tb double partition
      // prune on the same scans)
      "d30_containment_zipf", "o18_dsir_incremental_score",
      "t32_bm25_index_asof",
      // round-11 additions: d32's scaled-k SemDeDup (brute argmin
      // broadcast assign — the measured n·k baseline) and d33 its
      // two-level remedy (same within-cell equi-join shape, the
      // assignment UDF routes coarse→in-cell). e33/e34 are
      // side-effecting streaming lifecycle gates (their plans are
      // per-micro-batch; machine checks live in the gates' own
      // assertions), but their BATCH faces t32/d31 are dumped — d31's
      // store read below shows the broadcast remap-closure join.
      "d32_semantic_dedup_scaledk", "d33_semantic_dedup_hier",
      "d31_keeplist_auto_fold", "o17_dsir_model_asof",
      // s20: scaled-nlist IVF through two-level cosine routing — the
      // plan must show the broadcast cell equi-join serve (s9's shape)
      // with the assignment/probe UDFs folded into the projections.
      // s21: its streamed persisted-store face — the store is the
      // BUCKETED default since round 14, so the serve scan must carry
      // PartitionFilters on cell_bucket (bounded by B) with the probed
      // cells pushed as In(cell, ...) and the gen level pruned
      // through, the TWO-LEVEL probe feeding the broadcast side
      "s20_ivf_hier_scalednlist", "s21_stream_ivf_hier",
      // round-12: the two-level lifecycle closers the round-11 regen
      // missed (s22's as-of reads from the materialized snapshot —
      // the interesting prune ran pre-materialization and matches
      // s21's; s23's takedown serve returns its materialized top-k,
      // its scan shape is the bucketed-cell serve scan section's)
      "s22_ivf_hier_asof", "s23_ivf_hier_delete",
      // round-12: the centroids-as-DataFrame tier — d34/s24 must show
      // the coarse-route equi-join + per-vector window argmin with NO
      // broadcast of the fine codebook (the whole point), and s24's
      // serve stays s20's broadcast cell equi-join; s25 is its
      // streamed face — bucketed store since round 14, so like s21
      // the serve scan must carry cell_bucket PartitionFilters with
      // the pushed In(cell) filter and the gen level pruned through
      "d34_semantic_dedup_dist", "s24_ivf_hier_dist",
      "s25_stream_ivf_hier_dist",
      // round-12: t33's post-compaction serve must carry the same
      // static tb PartitionFilters as t27/t32 over the single folded
      // generation; x40 is the creator assembly at corpus scale —
      // broadcast dims, aggregate-joins, vocab window over |labels|
      "t33_bm25_index_compact", "x40_judgment_dataset_scaled",
      // round-13: x41's scaled criticality creator — the plan must
      // show the citation-freq hash aggregate (partial + final) and a
      // PLAIN label join (the labeled frame scales ∝ n/8, deliberately
      // not hint-broadcast). The quartile ntile goes through
      // GlobalRank's SIZE DISPATCH: at dump/gate scale the freq frame
      // is a genuine small (≤ n/8 rows), so the plan shows the
      // limit+window small path — only the k-row aggregate ranks in
      // one task, never the corpus; the range-exchange large path is
      // pinned by GlobalRankSpec, not by this dump
      "x41_criticality_scaled",
      // round-14: x42's scaled doc2doc creator — the plan must show
      // the as-of resolution as ONE union-sort shuffle on the volume
      // key (no pairwise page join), the vocab as
      // TakeOrderedAndProject broadcast back (left-semi), and the
      // freq/resolved joins as plain shuffles (both sides ∝ n — no
      // forced broadcast of a scaling frame)
      "x42_doc2doc_scaled",
      // round-13: s26's bucketed-cell store — the gate's returned
      // frame is the materialized lifecycle result (like s13), so the
      // scale-relevant scan gets its own custom section below (look
      // for PartitionFilters on cell_bucket with In(cell, ...) in
      // PushedFilters); BucketedIvfSpec machine-checks both from the
      // executed plan, plus the cell-sort write contract
      "s26_ivf_bucketed_served",
      // enforced-surface members previously missing plan evidence:
      // s4 bucketed ANN (bucket equi-join, no all-pairs), s9 trained
      // IVF serve (broadcast cell equi-join), d20 embedding keep-list
      // (banded pairs + fixpoint tail), and the remaining e2e creators
      "s4_lsh_ann_topk", "s9_ivf_kmeans", "d20_embedding_keeplist",
      "x28_lawarea_e2e", "x29_courtview_e2e", "x30_pretraining_e2e",
      "x32_fi_sample", "x33_citation_ner_e2e", "x34_regeste_e2e")

  /** Content fingerprint of every main-source .scala file (path +
    * bytes, SHA-256). PLANS.md embeds it so PlansCurrencySpec can
    * detect a dump that predates the last source change — the round-13
    * dump missed the final serve-typing fix because the currency spec
    * gated section PRESENCE only (VERDICT r13 directive 4).
    * Content-based, not mtime-based, so a fresh checkout (where every
    * file's mtime is checkout time) cannot false-flag.
    */
  def sourceFingerprint(): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val stream = java.nio.file.Files.walk(root)
    val files =
      try stream.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
      finally stream.close()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (f <- files) {
      md.update(f.toString.getBytes(StandardCharsets.UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** One plan's text with its run-dependent tokens made stable, so a
    * regenerated PLANS.md differs only where a plan did: expression ids
    * (`#10696L`), `plan_id`s and RDD ids (`MapPartitionsRDD[1192]`) are
    * renumbered in first-seen order, scratch-dir random suffixes
    * (`/tmp/graft_x22_landing_<n>`) become `<n>`, lambda class names
    * lose their JVM-assigned numbers and hash, and the runtime
    * statistics AQE prints on query stages
    * (`Statistics(sizeInBytes=…, rowCount=…)`) become `<n>`: they are
    * measured per run, not part of the plan's shape.
    */
  def normalize(plan: String): String = {
    // group 1 of `re` is the id; `fmt` rebuilds the match around its
    // first-seen rank
    def renumber(text: String, re: scala.util.matching.Regex,
                 fmt: (Int, scala.util.matching.Regex.Match) => String): String = {
      val ids = scala.collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
        fmt(ids.getOrElseUpdate(m.group(1), ids.size + 1), m)))
    }
    val steps: Seq[String => String] = Seq(
      renumber(_, """#(\d+)(L?)""".r, (i, m) => s"#$i${m.group(2)}"),
      renumber(_, """plan_id=(\d+)""".r, (i, _) => s"plan_id=$i"),
      renumber(_, """RDD\[(\d+)\]""".r, (i, _) => s"RDD[$i]"),
      _.replaceAll("""(/[\w.-]*_)\d{6,}""", "$1<n>"),
      _.replaceAll("""\$\$Lambda[$\w/]*(@[0-9a-f]+)?""", """\$\$Lambda"""),
      _.replaceAll("""(Statistics\(sizeInBytes=)[^,)]+""", "$1<n>")
        .replaceAll("""(Statistics\(sizeInBytes=<n>, rowCount=)[^)]+""", "$1<n>"))
    steps.foldLeft(plan)((s, f) => f(s))
  }

  def main(args: Array[String]): Unit = {
    // COVERAGE GATE first — fail before any dumping if an enforced
    // gate has neither plan evidence nor an exclusion reason
    val undecided = Sf1Probe.gates
      .filterNot(g => headline.contains(g) || excluded.contains(g))
    require(undecided.isEmpty,
      s"enforced gates with no plan-evidence decision: " +
        s"${undecided.mkString(", ")} — add each to PlanDump.headline " +
        "or to PlanDump.excluded with a reason")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries (sf0.001)\n\n")
    sb.append("Generated by `graft.tools.PlanDump`. What to look for per plan is\n")
    sb.append("noted inline; the machine-checked versions of these assertions live\n")
    sb.append("in `PlanShapeSpec`/`ScaleSpec`.\n\n")
    sb.append(s"Source fingerprint: ${sourceFingerprint()}\n")
    for (name <- headline) {
      val df = graft.SparkEntry.queries(name)(spark, d)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
      sb.append("```\n")
    }
    // the d34/s24 gates dump their MATERIALIZED results (the lifecycle
    // pattern), so the scale-relevant plan — the centroids-as-DataFrame
    // assignment itself — gets its own section: look for the equi-join
    // keyed on the routed coarse cell, the per-vector window
    // hash-partitioned on the id (no funnel), and NO broadcast of the
    // fine codebook as closure state (it is a scan-side relation).
    // PlanShapeSpec machine-checks the same properties.
    {
      import org.apache.spark.sql.functions._
      graft.GraftExtensions.registerNative(spark)
      val e = graft.operators.VectorOps
        .vecs(graft.sources.Tables.embeddings(spark, d))
        .select("vec_id", "v", "nn")
      val fineCb = graft.operators.KMeansLite.fit(e, "vec_id", "v", 8, 1)
      val coarseCb = graft.operators.KMeansLite.fit(e, "vec_id", "v", 3, 1)
      def norms(cb: Seq[(Int, Array[Double])]) = cb.map { case (c, v) =>
        (c.toLong, v, v.map(x => x * x).sum) }
      val fineDf = spark.createDataFrame(
        java.util.Arrays.asList(norms(fineCb).map { case (c, v, n) =>
          org.apache.spark.sql.Row(c, v.toSeq, n) }: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cv",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)),
          org.apache.spark.sql.types.StructField("cn",
            org.apache.spark.sql.types.DoubleType))))
      val asg = graft.operators.VectorOps
        .ivfAssignHierDist(e, "vec_id", norms(coarseCb), fineDf)
      sb.append("\n## ivfAssignHierDist (inner plan of the d34/s24 tier)\n\n```\n")
      sb.append(normalize(asg.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
      sb.append("```\n")
    }
    // the cell store's serve scan (every IVF store, s13–s30): the partition
    // prune must be on cell_bucket (bounded by B regardless of cell
    // count) with the probed-cell list PUSHED into the parquet scan
    // as In(cell, ...) — the row-group skip over the cell-sorted
    // files. The gate returns a materialized frame, so the scan is
    // dumped from a serve-shaped read of a synthetic bucketed store.
    {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val dir = graft.queries.Scratch.dir("plandump_bivf_")
        .resolve("ivf").toString
      val df = (0 until 600)
        .map(i => (i.toLong, (i % 200).toLong)).toDF("vec_id", "cell")
      graft.operators.VectorOps.committedBucketedCellAppend(df, dir, -1L, 8)
      val served = spark.read.parquet(dir)
        .where(col("cell_bucket").isin(3))
        .where(col("cell").isin(3L, 11L))
      sb.append("\n## bucketed-cell serve scan (s13–s30 store layout)\n\n```\n")
      sb.append(normalize(served.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
      sb.append("```\n")
    }
    Files.write(Paths.get("PLANS.md"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    println("wrote PLANS.md")
    spark.stop()
  }
}
