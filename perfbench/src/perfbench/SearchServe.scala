package perfbench

import java.io.File
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{KMeansLite, VectorOps}
import graft.queries.BenchAccess

/** search_serve: read-only serving over generational stores. A seeded
  * mix of BM25 requests (`TextQueries.bm25Serve`) and ANN top-k
  * requests (IVF probe via `VectorOps.ivfProbeUdf`, then
  * `VectorOps.prunedCellScanFromFrame` over a bucketed cell store
  * built with `KMeansLite` + `VectorOps.committedCellAppendAuto`).
  *
  * Two phases: an open loop at the nominal rate (latency timed from
  * when each request was due), then a closed loop with one client per
  * core that measures the sustained request rate.
  */
object SearchServe {

  final case class Stores(bm25: String, ivf: String, cents: Seq[(Long, Array[Double], Double)])

  /** `at`: arrival time in units of the mean gap between arrivals */
  sealed trait Req { def id: Int; def at: Double }
  final case class Bm25Req(id: Int, at: Double, terms: Seq[String]) extends Req
  final case class AnnReq(id: Int, at: Double, vec: Array[Double]) extends Req

  /** one served request; `hits` are (id, score) in rank order */
  final case class Done(req: Req, phase: String, dueNs: Long, dispatchNs: Long, startNs: Long,
                        endNs: Long, hits: Seq[(Long, Double)], cells: Int, files: Long,
                        error: String) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
    def serviceS: Double = (endNs - startNs) / 1e9
  }

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    val spark = ctx.spark
    val cfg = ctx.cfg
    val topK = cfg.get("top_k").asInt()
    val nlist = cfg.get("nlist").asInt()
    val nprobe = cfg.get("nprobe").asInt()
    val reqs: IndexedSeq[Req] = {
      val arr = new ObjectMapper().readTree(new File(ctx.input("requests.json")))
      arr.elements().asScala.zipWithIndex.map { case (r, i) =>
        val at = r.get("at").asDouble()
        if (r.get("kind").asText() == "bm25")
          Bm25Req(i, at, r.get("terms").elements().asScala.map(_.asText()).toSeq)
        else AnnReq(i, at, r.get("vec").elements().asScala.map(_.asDouble()).toArray)
      }.toIndexedSeq
    }

    // ---- set-up: BM25 generations, k-means codebook, IVF cell store
    val (stores, buildS) = ctx.setupReps(3) { r =>
      val d = ctx.work(s"stores_$r")
      val docs = spark.read.parquet(ctx.input("documents.parquet")).select("doc_id", "text")
      val gens = cfg.get("bm25_generations").asInt()
      for (g <- 0 until gens) ctx.trace.span("queries.bm25_build") {
        BenchAccess.landBm25Tables(spark,
          BenchAccess.tfOf(docs.where(pmod(col("doc_id"), lit(gens)) === g)),
          s"$d/bm25", "append", Some(g.toLong))
      }
      val vecs = spark.read.parquet(ctx.input("vectors.parquet"))
        .withColumn("nn", expr("aggregate(v, cast(0 as double), (a, x) -> a + x * x)"))
      val cb = ctx.trace.span("operators.kmeans_train") {
        KMeansLite.fit(vecs, "vec_id", "v", nlist, cfg.get("kmeans_iters").asInt())
      }
      val cents = cb.map { case (cid, cv) => (cid.toLong, cv, cv.map(x => x * x).sum) }
      val ivfGens = cfg.get("ivf_generations").asInt()
      val assign = VectorOps.ivfAssignUdf(cents)
      for (g <- 0 until ivfGens) ctx.trace.span("operators.ivf_build") {
        VectorOps.committedCellAppendAuto(
          vecs.where(pmod(col("vec_id"), lit(ivfGens)) === g)
            .withColumn("cell", assign(col("v"), col("nn"))),
          s"$d/ivf", g.toLong, nlist.toLong)
      }
      Stores(s"$d/bm25", s"$d/ivf", cents)
    }
    val st = stores.last
    // warm-up: requests from the end of the schedule, one client per
    // core as in the closed loop
    val nWarm = cfg.get("warmup_requests").asInt()
    val warmS = ctx.warmup {
      closedLoop(ctx, st, reqs.takeRight(nWarm), Double.PositiveInfinity, topK, nprobe)
        .find(_.error != null).foreach(d => throw new IllegalStateException(s"warm-up: ${d.error}"))
    }

    // ---- measured phase
    val nominal = cfg.get("nominal_qps").asDouble()
    val limitMs = cfg.get("p95_limit_ms").asDouble()
    val openS = ctx.args.seconds * cfg.get("open_share").asDouble()
    val closedS = ctx.args.seconds - openS
    val work = reqs.dropRight(nWarm)
    def pass(traced: Boolean): Seq[Done] = {
      Main.collectGarbage()
      val open = openLoop(ctx, st, work, nominal, openS, topK, nprobe)
      val rest = work.drop(open.size)
      Main.collectGarbage()
      open ++ closedLoop(ctx, st, rest, closedS, topK, nprobe)
    }
    val done = ctx.measure(pass)(_.map(_.serviceS).sum, res)

    // ---- correctness: every BM25 answer against a brute-force BM25,
    // every ANN answer against exact cosines and the exact IVF answer
    val docs = spark.read.parquet(ctx.input("documents.parquet")).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val vectors = spark.read.parquet(ctx.input("vectors.parquet")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val bm25 = new Checks.Bm25Oracle(docs)
    val ann = new Checks.CosineOracle(vectors)
    val ivf = new Checks.IvfOracle(vectors, st.cents, nprobe)
    val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val failed = done.map { d =>
      val why: Option[String] =
        if (d.error != null) Some(d.error)
        else d.req match {
          case Bm25Req(_, _, terms) => bm25.mismatch(terms, topK, d.hits)
          case AnnReq(_, _, v) =>
            val (bad, recall) = ann.check(v, topK, d.hits)
            recalls += recall
            bad.orElse(ivf.mismatch(v, topK, d.hits))
        }
      why.foreach(w => res.fail(s"request ${d.req.id}", w))
      d -> why.isDefined
    }
    res.attempted = done.size.toLong

    // a failed request counts as missing the latency limit
    val open = failed.filter(_._1.phase == "open")
    val lat = open.map { case (d, bad) => if (bad) math.max(d.latencyMs, limitMs) else d.latencyMs }
    // closed loop: throughput = clients / mean response time (Little's
    // law), which a short window estimates more steadily than a count;
    // the mean weights each kind by its share of the schedule, so where
    // the window happens to cut the mix does not move it
    val closed = done.filter(_.phase == "closed")
    val bm25Share = 1.0 / cfg.get("inputs").get("bm25_every").asInt()
    def meanS(ds: Seq[Done]) = if (ds.isEmpty) Double.NaN else ds.map(_.serviceS).sum / ds.size
    val (cb, ca) = closed.partition(_.req.isInstanceOf[Bm25Req])
    val closedMeanS = bm25Share * meanS(cb) + (1 - bm25Share) * meanS(ca)
    val maxQps = if (closedMeanS.isNaN || closedMeanS <= 0) 0.0 else ctx.cores / closedMeanS
    val closedP95 = Stats.quantile(closed.map(d => (d.endNs - d.dispatchNs) / 1e6), 0.95)
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    res.endToEnd("setup_s") = ctx.sessionReadyS + buildS + warmS
    res.endToEnd("op_p50_ms") = Stats.median(lat)
    res.endToEnd("throughput_per_s") = maxQps
    res.detail("search_p50_ms") = Stats.median(lat)
    res.detail("search_p95_ms") = Stats.quantile(lat, 0.95)
    res.detail("search_max_qps") = maxQps
    res.detail("search_closed_loop_p95_ms") = closedP95
    res.detail("search_closed_loop_within_limit") = closedP95 <= limitMs
    res.detail("search_ann_recall10") = recall
    res.detail("search_nominal_qps") = nominal
    res.detail("search_utilisation") = if (maxQps > 0) nominal / maxQps else Double.NaN
    res.detail("search_open_requests") = open.size
    res.detail("search_open_latency_ms") = open.map { case (d, _) =>
      s"${if (d.req.isInstanceOf[Bm25Req]) "bm25" else "ann"}:${math.round(d.latencyMs)}" }
    res.detail("search_closed_requests") = closed.size
    res.detail("search_bm25_checked") = done.count(_.req.isInstanceOf[Bm25Req])
    res.detail("setup_session_s") = ctx.sessionReadyS
    res.detail("setup_store_build_median_s") = buildS
    res.detail("setup_warmup_s") = warmS

    if (ctx.trace.enabled) {
      val t = ctx.trace
      val reps = stores.size
      def perReqMs(name: String) = {
        val n = t.count(name)
        if (n == 0) 0.0 else t.seconds(name) * 1000 / n
      }
      res.layers("operators.ann_probe_ms") = perReqMs("operators.ann_probe")
      res.layers("operators.cell_scan_ms") = perReqMs("operators.cell_scan")
      val annDone = done.filter(_.req.isInstanceOf[AnnReq])
      res.layers("operators.cells_probed_per_query") =
        if (annDone.isEmpty) 0.0 else annDone.map(_.cells).sum.toDouble / annDone.size
      res.layers("operators.kmeans_train_s") = t.seconds("operators.kmeans_train", "setup") / reps
      res.layers("operators.ivf_build_s") = t.seconds("operators.ivf_build", "setup") / reps
      res.layers("queries.bm25_build_s") = t.seconds("queries.bm25_build", "setup") / reps
      res.layers("queries.bm25_serve_ms") = perReqMs("queries.bm25_serve")
      res.layers("queries.bm25_index_gens") = new File(st.bm25, "postings").list()
        .count(_.startsWith("gen=")).toDouble
      res.layers("search.queue_wait_ms") =
        if (open.isEmpty) 0.0 else open.map(d => (d._1.startNs - d._1.dispatchNs) / 1e6).sum / open.size
      res.layers("search.generator_lag_ms") =
        if (open.isEmpty) 0.0 else open.map(d => (d._1.dispatchNs - d._1.dueNs) / 1e6).sum / open.size
      val tagged = ctx.engine.jobsByReq.values().asScala.map(_.sum()).sum
      res.layers("spark.jobs_per_query") = if (done.isEmpty) 0.0 else tagged.toDouble / done.size
      res.layers("spark.files_read_per_query") =
        if (done.isEmpty) 0.0 else done.map(_.files).sum.toDouble / done.size
      res.layers("search.ann_recall10") = recall
    }
  }

  /** files the scans of an executed plan read (AQE stages included) */
  def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case o => (o.children ++ o.subqueries).map(filesRead).sum
  }

  /** serve one request; returns (hits, probed cells, files read) */
  def serve(ctx: Main.Ctx, st: Stores, req: Req, topK: Int, nprobe: Int)
      : (Seq[(Long, Double)], Int, Long) = {
    val spark = ctx.spark
    spark.sparkContext.setLocalProperty("perfbench.req", req.id.toString)
    try req match {
      case Bm25Req(id, _, terms) =>
        ctx.trace.span("queries.bm25_serve", id.toString) {
          val df = BenchAccess.bm25Serve(spark, st.bm25, terms, topK)
          val rows = df.collect()
          (rows.map(r => r.getAs[Any]("doc_id").toString.toLong -> r.getAs[Double]("bm25")).toSeq,
            0, filesRead(df.queryExecution.executedPlan))
        }
      case AnnReq(id, _, v) =>
        val qn = v.map(x => x * x).sum
        val cells = ctx.trace.span("operators.ann_probe", id.toString) {
          val q = spark.createDataFrame(java.util.Arrays.asList(Row(v.toSeq, qn)),
            StructType(Seq(StructField("qv", ArrayType(DoubleType)), StructField("qn", DoubleType))))
          q.select(explode(VectorOps.ivfProbeUdf(st.cents, nprobe)(col("qv"), col("qn"))).as("cell"))
            .collect().map(_.getLong(0))
        }
        ctx.trace.span("operators.cell_scan", id.toString) {
          val probe = spark.createDataFrame(
            java.util.Arrays.asList(cells.map(c => Row(c)): _*),
            StructType(Seq(StructField("cell", LongType))))
          val df = VectorOps.prunedCellScanFromFrame(spark, st.ivf, probe)
            .select(col("vec_id"),
              call_function("cosine_sim", col("v"), typedLit(v.toSeq), col("nn"), lit(qn)).as("cos"))
            .orderBy(col("cos").desc, col("vec_id"))
            .limit(topK)
          val rows = df.collect()
          (rows.map(r => r.getLong(0) -> r.getDouble(1)).toSeq, cells.distinct.length,
            filesRead(df.queryExecution.executedPlan))
        }
    } finally spark.sparkContext.setLocalProperty("perfbench.req", null)
  }

  private def timed(ctx: Main.Ctx, st: Stores, req: Req, phase: String, dueNs: Long,
                    dispatchNs: Long, topK: Int, nprobe: Int, parent: Long): Done = {
    val start = System.nanoTime()
    try {
      val (hits, cells, files) = ctx.trace.span(s"op.${phase}_request", req.id.toString, parent) {
        serve(ctx, st, req, topK, nprobe)
      }
      Done(req, phase, dueNs, dispatchNs, start, System.nanoTime(), hits, cells, files, null)
    } catch {
      case e: Exception =>
        Done(req, phase, dueNs, dispatchNs, start, System.nanoTime(), Nil, 0, 0L,
          s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** open loop: request i falls due at `at / rate` (a Poisson
    * process at `rate`), whatever the backlog; one worker per core
    * serves them
    */
  def openLoop(ctx: Main.Ctx, st: Stores, reqs: IndexedSeq[Req], rate: Double,
               seconds: Double, topK: Int, nprobe: Int): Seq[Done] = {
    val pool = Executors.newFixedThreadPool(ctx.cores)
    val parent = ctx.trace.current
    val t0 = System.nanoTime()
    val futures = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[Done]]
    var i = 0
    while (i < reqs.size && reqs(i).at / rate < seconds) {
      val dueNs = t0 + (reqs(i).at / rate * 1e9).toLong
      val wait = dueNs - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      val dispatch = System.nanoTime()
      val req = reqs(i)
      futures += pool.submit(() => timed(ctx, st, req, "open", dueNs, dispatch, topK, nprobe, parent))
      i += 1
    }
    pool.shutdown()
    futures.map(_.get()).toSeq
  }

  /** closed loop: one client per core, each issuing its next request
    * as soon as the previous one returns
    */
  def closedLoop(ctx: Main.Ctx, st: Stores, reqs: IndexedSeq[Req], seconds: Double,
                 topK: Int, nprobe: Int): Seq[Done] = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val parent = ctx.trace.current
    val t0 = System.nanoTime()
    val clients = (0 until ctx.cores).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size && (System.nanoTime() - t0) / 1e9 < seconds) {
          val now = System.nanoTime()
          out.add(timed(ctx, st, reqs(i), "closed", now, now, topK, nprobe, parent))
          i = next.getAndIncrement()
        }
      })
      th.start()
      th
    }
    clients.foreach(_.join())
    out.asScala.toSeq.sortBy(_.dispatchNs)
  }
}
