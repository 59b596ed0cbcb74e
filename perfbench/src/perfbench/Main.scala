package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload per JVM.
  *
  *   perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *                  --trace 0|1 --config workloads.json --out result.json
  *
  * `inputs` holds what gen.py wrote; `work` is this run's scratch dir
  * (stores, Spark local dirs). The result JSON carries the correctness
  * verdict, op counts, end-to-end metrics and, when traced, the
  * per-layer metrics; spans and the per-layer table go next to it.
  */
object Main {

  final case class Args(workload: String, inputs: Path, work: Path, seconds: Double,
                        trace: Boolean, config: JsonNode, out: Path)

  /** what a workload reports back */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def fail(op: String, why: String): Unit = {
      failed += 1
      if (problems.size < 50) problems += s"$op: $why"
    }
  }

  final case class Ctx(args: Args, spark: SparkSession, trace: Trace,
                       engine: EngineListener, cores: Int, sessionReadyS: Double) {
    def cfg: JsonNode = args.config.get(args.workload)
    def work(name: String): String = args.work.resolve(name).toString
    def input(name: String): String = args.inputs.resolve(name).toString

    /** run the set-up `reps` times, each into fresh dirs; returns
      * every rep's state and the median rep time
      */
    def setupReps[T](reps: Int)(build: Int => T): (Seq[T], Double) = {
      val done = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        val st = build(r)
        (st, (System.nanoTime() - t0) / 1e9)
      }
      (done.map(_._1), Stats.median(done.map(_._2)))
    }

    /** off-the-clock warm-up (part of set-up time); returns its seconds */
    def warmup(body: => Unit): Double = {
      val t0 = System.nanoTime()
      trace.span("bench.warmup")(body)
      (System.nanoTime() - t0) / 1e9
    }

    /** the measured phase. A traced run measures it twice, untraced
      * then traced, on the same fixed op list; the end-to-end numbers
      * of a traced run are not reported, only the tracing cost.
      */
    def measure[T](pass: Boolean => T)(opSeconds: T => Double, res: Result): T = {
      mark("setup")
      trace.phase = "measure"
      try measureInner(pass)(opSeconds, res) finally mark("measured")
    }

    private def measureInner[T](pass: Boolean => T)(opSeconds: T => Double, res: Result): T = {
      if (!trace.enabled) pass(false)
      else {
        trace.enabled = false
        val plain = pass(false)
        trace.enabled = true
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        engine.measuring = true
        val t0 = System.nanoTime()
        val traced = trace.span("workload")(pass(true))
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        engine.measuring = false
        engineLayers(this, res, (System.nanoTime() - t0) / 1e9)
        val (u, t) = (opSeconds(plain), opSeconds(traced))
        res.layers("trace_overhead_share") = if (u <= 0) 0.0 else (t - u) / u
        traced
      }
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(m("config"))))
    Args(m("workload"), Paths.get(m("inputs")), Paths.get(m("work")), m("seconds").toDouble,
      m("trace") == "1", cfg, Paths.get(m("out")))
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val timeline = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** seconds since JVM start at which a run phase ended */
  def mark(phase: String): Unit =
    timeline(phase) = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val sparkCfg = args.config.get("spark")
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(sparkCfg.get("master").asText().replace("nproc", cores.toString))
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", sparkCfg.get("shuffle_partitions").asText())
      .config("spark.local.dir", args.work.resolve(sparkCfg.get("local_dirs").asText()).toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
    sparkCfg.get("conf").properties().forEach(e => b.config(e.getKey, e.getValue.asText()))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.registerNative(spark)
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    mark("session")

    val trace = new Trace(args.trace)
    val engine = new EngineListener(cores)
    spark.sparkContext.addSparkListener(engine)
    trace.hooks(
      s => spark.sparkContext.setLocalProperty("perfbench.span", s.id.toString),
      s => spark.sparkContext.setLocalProperty("perfbench.span",
        if (s.parent == 0L) null else s.parent.toString))
    val ctx = Ctx(args, spark, trace, engine, cores, sessionReadyS)

    val res = new Result
    try {
      args.workload match {
        case "corpus_ingest" => CorpusIngest.run(ctx, res)
        case "search_serve" => SearchServe.run(ctx, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        res.fail("workload", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    mark("checked")
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    res.endToEnd("peak_rss_mb") = peakRssMb()
    res.detail("timeline_s") = timeline.toMap
    if (args.trace) writeTrace(ctx, res)
    Files.write(args.out, Json.render(Map(
      "correct" -> (res.failed == 0 && res.problems.isEmpty && res.attempted > 0),
      "attempted" -> res.attempted, "failed" -> res.failed,
      "problems" -> res.problems.toSeq,
      "end_to_end" -> res.endToEnd.toMap, "per_layer" -> res.layers.toMap,
      "detail" -> res.detail.toMap)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** a full collection between timed ops, off the clock, so one op's
    * garbage is not collected on the next op's time
    */
  def collectGarbage(): Unit = System.gc()

  /** VmHWM: this process's peak resident set */
  private def peakRssMb(): Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    val hwm = lines.toArray(new Array[String](0)).find(_.startsWith("VmHWM:"))
    hwm.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** spans (one JSON object per line) and the per-layer table */
  private def writeTrace(ctx: Ctx, res: Result): Unit = {
    val self = ctx.trace.selfTimes
    val lines = ctx.trace.all.map { s =>
      val c = Option(ctx.engine.bySpan.get(s.id))
      Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> Option(s.req).getOrElse(""), "phase" -> s.phase,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "self_ms" -> self(s.id) / 1e6,
        "jobs" -> c.map(_.jobs.sum()).getOrElse(0L),
        "tasks" -> c.map(_.tasks.sum()).getOrElse(0L)))
    }
    Files.write(ctx.args.out.resolveSibling("spans.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // self time per span name: what each layer costs by itself
    val bySelf = ctx.trace.all.groupBy(s => (s.phase, s.name)).toSeq.map { case ((p, n), ss) =>
      (p, n, ss.size, ss.map(s => (s.endNs - s.startNs) / 1e9).sum, ss.map(s => self(s.id) / 1e9).sum)
    }.sortBy(r => (r._1, -r._5))
    val table = new StringBuilder
    table ++= f"${"phase"}%-8s ${"span"}%-32s ${"n"}%6s ${"total_s"}%10s ${"self_s"}%10s\n"
    for ((p, n, k, tot, sf) <- bySelf) table ++= f"$p%-8s $n%-32s $k%6d $tot%10.3f $sf%10.3f\n"
    table ++= "\nper-layer metrics\n"
    for ((k, v) <- res.layers) table ++= f"$k%-40s $v%.6f\n"
    Files.write(ctx.args.out.resolveSibling("layers.txt"),
      table.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** the engine counters every workload reports when traced */
  def engineLayers(ctx: Ctx, res: Result, wallS: Double): Unit = {
    val t = ctx.engine.total
    res.layers("spark.jobs") = t.jobs.sum().toDouble
    res.layers("spark.tasks") = t.tasks.sum().toDouble
    res.layers("spark.shuffle_write_bytes") = t.shuffleWrite.sum().toDouble
    res.layers("spark.input_bytes") = t.input.sum().toDouble
    res.layers("spark.spill_bytes") = t.spill.sum().toDouble
    res.layers("spark.gc_s") = t.gcMs.sum() / 1000.0
    res.layers("spark.executor_busy_share") = ctx.engine.busyShare(wallS)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear-interpolated quantile (q in [0, 1]) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** minimal JSON writer for the harness's own output */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
