package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler._

/** In-memory span recorder. A span is (name, start, end, parent,
  * request id, phase); spans are kept in memory and written out once,
  * when the run ends. When tracing is off, `span` only runs its body.
  */
final class Trace(@volatile var enabled: Boolean) {
  import Trace.Span

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile var phase: String = "setup"
  @volatile private var onEnter: Span => Unit = _ => ()
  @volatile private var onExit: Span => Unit = _ => ()

  /** hooks the engine listener uses to tag jobs with the open span */
  def hooks(enter: Span => Unit, exit: Span => Unit): Unit = {
    onEnter = enter; onExit = exit
  }

  def current: Long = stack.get.headOption.getOrElse(0L)

  /** `parent` = -1: the span open on this thread */
  def span[T](name: String, req: String = null, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val p = if (parent >= 0) parent else current
      val s = Span(ids.incrementAndGet(), name, p, req, phase, System.nanoTime(), 0L)
      stack.set(s.id :: stack.get)
      onEnter(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(s)
        onExit(s)
      }
    }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.startNs)
  }

  /** self time = duration minus the union of the children's intervals */
  def selfTimes: Map[Long, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** summed duration (seconds) of the spans with this name in `phase` */
  def seconds(name: String, inPhase: String = "measure"): Double =
    all.filter(s => s.name == name && s.phase == inPhase)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def count(name: String, inPhase: String = "measure"): Int =
    all.count(s => s.name == name && s.phase == inPhase)
}

object Trace {
  final case class Span(id: Long, name: String, parent: Long, req: String,
                        phase: String, startNs: Long, var endNs: Long)
}

/** Engine counters from a SparkListener registered on the benchmark's
  * session. Each job is attributed to the span that was open on the
  * submitting thread (carried as a job-local property), and each task
  * to its job; `perfbench.req` tags the jobs of one search request.
  */
final class EngineListener(cores: Int) extends SparkListener {
  final class Counters {
    val jobs, tasks, shuffleWrite, input, spill, gcMs, runMs = new LongAdder
  }
  val total = new Counters
  val bySpan = new ConcurrentHashMap[Long, Counters]()
  val jobsByReq = new ConcurrentHashMap[String, LongAdder]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  @volatile var measuring = false

  private def of(span: Long) = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (measuring) {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageSpan.put(_, span))
    total.jobs.increment()
    of(span).jobs.increment()
    props.flatMap(p => Option(p.getProperty("perfbench.req"))).foreach { r =>
      jobsByReq.computeIfAbsent(r, _ => new LongAdder).increment()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (measuring) {
    val m = e.taskMetrics
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    for (c <- Seq(total, of(span))) {
      c.tasks.increment()
      if (m != null) {
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.input.add(m.inputMetrics.bytesRead)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.gcMs.add(m.jvmGCTime)
        c.runMs.add(m.executorRunTime)
      }
    }
  }

  def busyShare(wallS: Double): Double =
    if (wallS <= 0) 0.0 else total.runMs.sum() / 1000.0 / (wallS * cores)
}
