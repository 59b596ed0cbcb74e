package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-gate profiler (optimization round 15): runs named gates from
  * SparkEntry.queries under a listener that records every job's wall
  * span and every stage's summed task time, then prints a breakdown of
  * where the gate's wall-clock went — inside Spark jobs (executor-bound
  * work) vs between them (driver-side planning / filesystem / collect
  * gaps). The gap share is the diagnostic that decides whether a gate
  * needs fewer actions (driver-bound) or cheaper stages (executor-
  * bound) — guide §1 "decide whether the time is going to shuffle read
  * ... or scheduler delay" adapted to a no-UI box.
  *
  * Usage: runMain graft.tools.GateProfile <gate> [gate...]
  *   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  */
object GateProfile {
  private case class JobSpan(id: Int, start: Long, var end: Long = -1L,
                             var desc: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.names.foreach { t =>
      try graft.sources.Tables(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }

    val jobs = new ConcurrentLinkedQueue[JobSpan]()
    case class StageAgg(id: Int, n: Int, wallMs: Long, name: String,
                        var sumMs: Long = 0L, var maxMs: Long = 0L)
    val stages = new ConcurrentLinkedQueue[StageAgg]()
    val stageTask = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    // LongAdder, not @volatile var: onTaskEnd/onStageCompleted fire from
    // the listener bus concurrently with reads; read-modify-write on a
    // volatile drops updates (ADVICE r15)
    val taskTimeMs = new java.util.concurrent.atomic.LongAdder
    val nStages = new java.util.concurrent.atomic.LongAdder
    val nTasks = new java.util.concurrent.atomic.LongAdder
    val open = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = JobSpan(e.jobId, e.time)
        s.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.headOption.map(si =>
            s"${si.name.take(50)} [${e.stageInfos.map(_.numTasks).sum}t/${e.stageInfos.size}st]"))
          .getOrElse("")
        open.put(e.jobId, s); jobs.add(s)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = open.remove(e.jobId); if (s != null) s.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        nStages.increment()
        nTasks.add(e.stageInfo.numTasks)
        val info = e.stageInfo
        val wall = (for (a <- info.completionTime; b <- info.submissionTime)
          yield a - b).getOrElse(0L)
        val (sum, max) = Option(stageTask.remove(info.stageId)).getOrElse((0L, 0L))
        stages.add(StageAgg(info.stageId, info.numTasks, wall,
          info.name.take(60), sum, max))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskTimeMs.add(m.executorRunTime)
          stageTask.merge(e.stageId, (m.executorRunTime, m.executorRunTime),
            (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val queries = graft.SparkEntry.queries
    for (name <- args) {
      queries.get(name) match {
        case None => println(s"PROFILE $name: NOT FOUND")
        case Some(fn) =>
          // `open` too: a JobEnd the bus dropped for an earlier gate must
          // not make every later gate's drain wait out its deadline
          jobs.clear(); stages.clear(); open.clear()
          taskTimeMs.reset(); nStages.reset(); nTasks.reset()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val n = df.count()
          val wallMs = (System.nanoTime() - t0) / 1e6
          if (sys.env.contains("GATE_PLAN"))
            println(df.queryExecution.executedPlan.toString.take(12000))
          // drain the async listener bus: poll until every started job
          // has its end event (open set empty) under a deadline — a
          // fixed sleep dropped late events on a loaded bus (ADVICE
          // r15); trailing stage/task events get one short settle after
          val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
          while (!open.isEmpty && System.nanoTime() < deadline)
            Thread.sleep(20)
          Thread.sleep(100)
          val spans = {
            import scala.jdk.CollectionConverters._
            jobs.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
          }
          // merged in-job wall time (jobs can overlap)
          var merged = 0L
          var curS = -1L; var curE = -1L
          for (s <- spans.sortBy(_.start)) {
            if (s.start > curE) { merged += curE - curS max 0; curS = s.start; curE = s.end }
            else curE = math.max(curE, s.end)
          }
          merged += (curE - curS).max(0)
          val jobMs = spans.map(s => s.end - s.start)
          println(f"PROFILE $name rows=$n wall=${wallMs / 1000}%.2fs " +
            f"jobs=${spans.size} inJob=${merged / 1000.0}%.2fs " +
            f"gap=${(wallMs - merged) / 1000}%.2fs " +
            f"stages=${nStages.sum()} tasks=${nTasks.sum()} " +
            f"taskTime=${taskTimeMs.sum() / 1000.0}%.2fs")
          val top = spans.sortBy(s => -(s.end - s.start)).take(8)
          for (s <- top)
            println(f"  job ${s.id}%4d ${(s.end - s.start) / 1000.0}%6.2fs  ${s.desc.take(90)}")
          val topStages = {
            import scala.jdk.CollectionConverters._
            stages.asScala.toSeq.sortBy(-_.sumMs).take(10)
          }
          for (st <- topStages)
            println(f"  stage ${st.id}%4d tasks=${st.n}%4d wall=${st.wallMs / 1000.0}%6.2fs " +
              f"taskSum=${st.sumMs / 1000.0}%6.2fs taskMax=${st.maxMs / 1000.0}%6.2fs  ${st.name}")
          graft.queries.Scratch.sweep() // reclaim the gate's scratch stores
      }
    }
    graft.queries.Scratch.sweepAll() // reclaim pinned fixtures too
    spark.stop()
  }
}
