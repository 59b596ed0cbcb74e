package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GENERATION-AXIS economics for the persisted retrieval stores
  * (VERDICT r13 directive 6): PERF.md round 13 measured listing/serve
  * cost against CELL count and justified the bucketed-cell layout with
  * a curve; the other unbounded store axis is GENERATION count —
  * partitions PER generation are bounded by the PERF.md ceiling table,
  * but the number of standing generations is bounded only by
  * fold/compaction POLICY (`graft.keeplist.autoFoldBytes`, the BM25
  * compaction horizon). This probe measures the curves those policies
  * rest on, for the two stores whose serve reads span all generations:
  *
  *  - the GENERATIONAL BM25 INDEX (t27/t28/t32 layout: gen + tb
  *    partition levels): cold listing and the term-pruned serve
  *    (graft.queries.TextQueries.bm25Serve — the REAL path) vs
  *    generation count, then the same after compactBm25 folds to one
  *    generation.
  *  - the KEEP-LIST BAND STORE (KeepListStore): read() (assemble +
  *    remap closure over the standing state deltas) vs delta count,
  *    then after fold().
  *
  * Batches are FIXED-SIZE synthetics, so generation count is the ONLY
  * variable; appends are cumulative so each rung reuses the previous
  * one's store. Every ladder gets a warmup rung, and a rung that blows
  * the time budget skips the larger rungs LOUDLY (a probe that
  * silently measured only the cheap rungs would understate the curve).
  *
  * Each BM25 serve also prints `listing_jobs=`: the Spark jobs it
  * started for distributed file listing (Spark lists a directory level
  * with more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * = 32 children as a job of its own).
  *
  * Run: `sbt "runMain graft.tools.GenLayoutProbe [maxGens]"`.
  */
object GenLayoutProbe {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` and count the Spark jobs it started whose properties pass
    * `counted`, in any job group and from any thread. A marker job
    * submitted after `f` drains the listener queue, since the bus
    * delivers job starts in submission order.
    */
  def countJobs[T](spark: SparkSession)(counted: java.util.Properties => Boolean)(
      f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"job-count-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        if (p.getProperty("spark.job.description") == marker) drained.countDown()
        else if (counted(p)) n.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.setJobDescription(marker)
      sc.parallelize(Seq(0), 1).count()
      require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener queue did not drain within 60 s")
      (r, n.get)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  /** Run `f` under a fresh job group and count the jobs it started
    * there that are Spark's distributed file listing (job description
    * "Listing leaf files and directories ...").
    */
  def countListingJobs[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"listing-count-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try countJobs(spark) { p =>
      p.getProperty("spark.jobGroup.id") == group &&
        Option(p.getProperty("spark.job.description")).exists(_.startsWith("Listing leaf files"))
    }(f)
    finally sc.clearJobGroup()
  }

  /** fixed-size synthetic batch for generation g: 40 docs, 8 tokens
    * each from a 400-token vocabulary (overlapping so df partials are
    * non-trivial); doc ids fresh per generation
    */
  private def bm25Batch(s: SparkSession, g: Long): DataFrame =
    s.range(g * 40, g * 40 + 40).toDF("doc_id")
      .withColumn("text", expr(
        """concat_ws(' ', transform(sequence(0, 7),
           i -> concat('tok', cast((doc_id * 7 + i * 13) % 400 as string))))"""))

  /** one generation landed in the t32 layout (gen + tb partition
    * levels on postings/df; gen on dl/stats)
    */
  private def landBm25(s: SparkSession, idx: String, g: Long): Unit = {
    val words = bm25Batch(s, g)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = words.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    tf.withColumn("tb", pmod(hash(col("token")), lit(64)))
      .withColumn("gen", lit(g))
      .write.mode("append").partitionBy("gen", "tb").parquet(s"$idx/postings")
    tf.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("tb", pmod(hash(col("token")), lit(64)))
      .withColumn("gen", lit(g))
      .write.mode("append").partitionBy("gen", "tb").parquet(s"$idx/df")
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    dl.withColumn("gen", lit(g))
      .write.mode("append").partitionBy("gen").parquet(s"$idx/dl")
    dl.agg(sum("dl").as("sum_dl"), count(lit(1)).as("n"))
      .withColumn("gen", lit(g))
      .write.mode("append").partitionBy("gen").parquet(s"$idx/stats")
  }

  /** cold listing: a FRESH reader's file-index construction over the
    * store root (no shared FileIndex cache key reuse — each read
    * relists), the metadata cost a 1000-executor driver pays per query
    */
  private def coldList(s: SparkSession, path: String): (Int, Double) = {
    val (files, t) = time(s.read.parquet(path).inputFiles.length)
    (files, t)
  }

  /** the timed 3-term BM25 serve every rung measures, with its
    * listing-job count
    */
  private def serve(s: SparkSession, idx: String): ((Long, Double), Int) =
    countListingJobs(s)(time {
      graft.queries.TextQueries
        .bm25Serve(s, idx, Seq("tok1", "tok7", "tok39"), 10).count()
    })

  /** fixed-size keep-list batch: 30 fresh docs for generation g, each
    * band-linked to ONE prior doc so the remap closure stays live
    * (every batch merges into standing groups) without growing
    * per-batch work
    */
  private def klBatch(s: SparkSession, g: Long): DataFrame =
    s.range(g * 30, g * 30 + 30).toDF("doc_id")
      .select((col("doc_id") + 10000000L).as("doc_id"), lit(0).as("band"),
        (col("doc_id") % 500).as("h"))

  def main(args: Array[String]): Unit = {
    val maxGens = args.headOption.map(_.toInt).getOrElse(128)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_GENPROBE_BUDGET", "600").toDouble
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wall0 = System.nanoTime()
    def overBudget: Boolean = (System.nanoTime() - wall0) / 1e9 > budgetSec
    val rungs = Seq(8, 32, 128, 512).filter(_ <= maxGens)

    // ---------------- BM25 generational index ----------------
    {
      val idx = graft.queries.Scratch.dir("genprobe_bm25_").toString
      // warmup rung: one tiny throwaway store spins up codegen/writers
      val warm = graft.queries.Scratch.dir("genprobe_bm25_warm_").toString
      landBm25(spark, warm, 0L)
      graft.queries.TextQueries.bm25Serve(spark, warm, Seq("tok1", "tok7"), 5)
        .count()
      var landed = 0
      var skipped = false
      for (g <- rungs if !skipped) {
        val (_, tAppend) = time {
          (landed until g).foreach(i => landBm25(spark, idx, i.toLong))
        }
        val perGen = tAppend / math.max(1, g - landed)
        landed = g
        val (files, tList) = coldList(spark, s"$idx/postings")
        val ((_, tServe), lists) = serve(spark, idx)
        println(f"GENPROBE bm25 gens=$g%4d append=$perGen%6.3fs/gen " +
          f"postings_files=$files%5d cold_list=$tList%6.3fs serve=$tServe%6.3fs " +
          f"listing_jobs=$lists%d")
        if (overBudget) {
          println(s"GENPROBE bm25 BUDGET EXCEEDED at gens=$g — larger " +
            "rungs SKIPPED (curve rises; do not read absence as flat)")
          skipped = true
        }
      }
      // fold to one generation; the same serve after
      val (_, tFold) = time(graft.queries.TextQueries.compactBm25(spark, idx))
      val (files, tList) = coldList(spark, s"$idx/postings")
      val ((_, tServe), lists) = serve(spark, idx)
      println(f"GENPROBE bm25 POST-FOLD from=$landed%4d fold=$tFold%6.3fs " +
        f"postings_files=$files%5d cold_list=$tList%6.3fs serve=$tServe%6.3fs " +
        f"listing_jobs=$lists%d")
    }

    // ---------------- keep-list band store ----------------
    {
      import graft.operators.KeepListStore
      val dir = graft.queries.Scratch.dir("genprobe_kl_").resolve("kl").toString
      // base corpus: 500 docs in simple chains (the d18 band shape)
      val base = spark.range(0, 500).toDF("doc_id")
        .select(col("doc_id"), lit(0).as("band"), (col("doc_id") % 250).as("h"))
      KeepListStore.backfill(base, "doc_id", dir)
      KeepListStore.read(spark, dir, "doc_id").count() // warmup rung
      var landed = 0
      var skipped = false
      for (g <- rungs if !skipped) {
        val (_, tAppend) = time {
          (landed until g).foreach(i =>
            KeepListStore.appendBatch(klBatch(spark, i.toLong), "doc_id",
              dir, i.toLong).count())
        }
        val perGen = tAppend / math.max(1, g - landed)
        landed = g
        val (n, tRead) = time(KeepListStore.read(spark, dir, "doc_id").count())
        println(f"GENPROBE keeplist deltas=$g%4d append=$perGen%6.3fs/gen " +
          f"rows=$n%7d read=$tRead%6.3fs")
        if (overBudget) {
          println(s"GENPROBE keeplist BUDGET EXCEEDED at deltas=$g — larger " +
            "rungs SKIPPED (curve rises; do not read absence as flat)")
          skipped = true
        }
      }
      val (_, tFold) = time(KeepListStore.fold(spark, dir, "doc_id"))
      val (n, tRead) = time(KeepListStore.read(spark, dir, "doc_id").count())
      println(f"GENPROBE keeplist POST-FOLD from=$landed%4d fold=$tFold%6.3fs " +
        f"rows=$n%7d read=$tRead%6.3fs")
    }
    spark.stop()
  }
}
