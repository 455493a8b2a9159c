package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a named interval around a call into one layer of the engine.
  * `parent` is the span that was open when this one opened. Extra counters
  * (rows, pairs, ...) are recorded by the caller at the same boundary.
  */
final class Span(val name: String, val parent: Option[Span], val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans and Spark listener counters of one traced run, kept in memory.
  *
  * Listener counters go to the span that was open when each Spark job
  * STARTED — the innermost span whose interval holds the job's submission
  * time — never to the thread or call site that submitted the job: adaptive
  * query execution submits shuffle stages from pool threads, which carry no
  * frame of the caller. Task metrics reach their span through
  * task -> stage -> job. Every lookup is null-guarded, so events of jobs
  * that started before the listener was added are ignored.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private final case class Job(id: Int, startMs: Long, var endMs: Long = -1L,
      var cpuNs: Long = 0L, var shuffleWriteBytes: Long = 0L)

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.Map[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for {
        jobId <- stageToJob.get(e.stageId)
        job <- jobs.get(jobId)
        m <- Option(e.taskMetrics)
      } {
        job.cpuNs += m.executorCpuTime
        job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
  sc.addSparkListener(listener)

  def begin(name: String): Span = synchronized {
    val s = new Span(name, open.headOption, System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    s
  }

  def end(s: Span): Unit = synchronized {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    open = open.filterNot(_ eq s)
  }

  /** Forget a span that never covered a complete op. */
  def discard(s: Span): Unit = synchronized {
    spans -= s
    open = open.filterNot(_ eq s)
  }

  /** Run `body` inside a span. The body must force its work (an action or a
    * write): a span around a lazy Dataset call would time plan construction.
    */
  def span[T](name: String)(body: Span => T): T = {
    val s = begin(name)
    try body(s) finally end(s)
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def stop(): Unit = { drain(); sc.removeSparkListener(listener) }

  def closedSpans: Seq[Span] = synchronized(spans.filter(_.endNs >= 0).toSeq)

  /** Listener totals of one span: every job that started inside the span's
    * interval, so the totals include its descendants' jobs.
    */
  final case class Totals(jobs: Int, cpuS: Double, shuffleWriteMb: Double,
      driverGapS: Double, firstJobStartMs: Option[Long])

  def totals(s: Span): Totals = synchronized {
    val inside = jobs.values.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs).toSeq
    // driver gap: the part of the span's interval covered by no running job
    val covered = Tracer.coveredMs(
      jobs.values.toSeq.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)),
      s.startMs, s.endMs)
    val wallMs = (s.endNs - s.startNs) / 1e6
    Totals(
      jobs = inside.size,
      cpuS = inside.map(_.cpuNs).sum / 1e9,
      shuffleWriteMb = inside.map(_.shuffleWriteBytes).sum / 1e6,
      driverGapS = math.max(0.0, wallMs - covered) / 1e3,
      firstJobStartMs = if (inside.isEmpty) None else Some(inside.map(_.startMs).min))
  }
}

object Tracer {
  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
