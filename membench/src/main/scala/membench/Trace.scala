package membench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span tracing around the engine's layer calls.
  *
  * A span sets the Spark local property [[Trace.SpanKey]] on the calling
  * thread for the duration of one layer call. Spark copies local properties
  * into every job, stage and task event it posts (including jobs run on
  * streaming and broadcast threads, which inherit or capture them), so
  * [[SpanListener]] attributes work to spans by that property alone —
  * never by time overlap.
  */
object Trace {
  val SpanKey = "membench.span"

  /** One finished span: `op` is the `<layer>.<op>` name, times are wall
    * clock milliseconds (the clock Spark stamps its events with) plus a
    * nanosecond duration for the latency itself.
    */
  final case class Span(id: String, op: String, startMs: Long, endMs: Long,
      wallNs: Long) {
    def wallMs: Double = wallNs / 1e6
  }

  /** What one span's Spark work came to. */
  final case class SpanWork(jobs: Int, tasks: Int, taskRunMs: Double,
      taskCpuMs: Double, schedDelayMs: Double, driverMs: Double,
      shuffleBytes: Long)

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def coveredMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  /** The critical path through a set of intervals: start from the one that
    * ends last, then repeatedly step to the latest-ending interval that
    * finished before the current one started. The chosen intervals are
    * disjoint, so any per-interval quantity bounded by the interval's own
    * length sums to at most the span's wall time. Returns the chosen
    * indices.
    */
  def criticalChain(ivs: IndexedSeq[(Long, Long)]): Seq[Int] = {
    val out = mutable.ArrayBuffer.empty[Int]
    var bound = Long.MaxValue
    var cands: Seq[Int] = ivs.indices
    while (cands.nonEmpty) {
      val i = cands.maxBy(i => (ivs(i)._2, -ivs(i)._1))
      out += i
      bound = ivs(i)._1
      cands = cands.filter(j => j != i && ivs(j)._2 <= bound)
    }
    out.toSeq
  }
}

/** Records, per span id, the jobs, stages and tasks Spark ran for it.
  * Events arrive on the listener-bus thread; read results only after
  * [[org.apache.spark.MembenchBusDrain.drain]].
  */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[(Int, Int), StageRec]

  private def spanOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(s => jobs(e.jobId) = JobRec(s, e.time, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      spanOf(e.properties).foreach { s =>
        val si = e.stageInfo
        val t = si.submissionTime.getOrElse(System.currentTimeMillis())
        stages((si.stageId, si.attemptNumber())) = StageRec(s, t, t)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stages.get((si.stageId, si.attemptNumber())).foreach { r =>
        r.complete = si.completionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      val ti = e.taskInfo
      val m = e.taskMetrics
      val (run, cpuNs, deser, ser, shuffle) =
        if (m == null) (0L, 0L, 0L, 0L, 0L)
        else (m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
          m.resultSerializationTime,
          m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead)
      val duration = ti.finishTime - ti.launchTime
      val overhead = math.max(0L, duration - run - deser - ser -
        ti.gettingResultTime)
      r.tasks += TaskRec(ti.launchTime, ti.finishTime, run, cpuNs, overhead,
        shuffle)
    }
  }

  /** Attributed work of span `id`, given the span's own wall-clock bounds. */
  def work(id: String, startMs: Long, endMs: Long): Trace.SpanWork =
    synchronized {
      val js = jobs.valuesIterator.filter(_.span == id).toSeq
      val ss = stages.valuesIterator.filter(_.span == id).toIndexedSeq
      val ts = ss.flatMap(_.tasks)
      // Scheduler delay on the critical path: along a chain of disjoint
      // stages, each stage contributes its last-finishing task's wait from
      // stage submission to launch plus that task's own scheduling
      // overhead — bounded by the stage's length, so by the span's.
      val chain = Trace.criticalChain(ss.map(s => (s.submit, s.complete)))
      val sched = chain.map { i =>
        val s = ss(i)
        if (s.tasks.isEmpty) 0L
        else {
          val t = s.tasks.maxBy(_.finish)
          math.max(0L, t.launch - s.submit) + t.overheadMs
        }
      }.sum
      val driver = (endMs - startMs) -
        Trace.coveredMs(js.map(j => (j.start, j.end)), startMs, endMs)
      Trace.SpanWork(js.size, ts.size, ts.map(_.runMs).sum.toDouble,
        ts.map(_.cpuNs).sum / 1e6, sched.toDouble, driver.toDouble,
        ts.map(_.shuffleBytes).sum)
    }
}

object SpanListener {
  private final case class JobRec(span: String, start: Long, var end: Long)
  private final case class TaskRec(launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, overheadMs: Long, shuffleBytes: Long)
  private final case class StageRec(span: String, submit: Long,
      var complete: Long) {
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
  }
}

/** Times layer calls; when tracing, also wraps each call in a span. */
final class Tracer(sc: SparkContext, val tracing: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Trace.Span]
  private var nextId = 0L
  private var enabled = true
  val listener: Option[SpanListener] =
    if (tracing) { val l = new SpanListener; sc.addSparkListener(l); Some(l) }
    else None

  /** Runs `body` as one call of layer op `op`; returns its result and its
    * wall time in milliseconds.
    */
  def timed[T](op: String)(body: => T): (T, Double) = {
    val on = tracing && enabled
    val id = if (on) { nextId += 1; s"$nextId" } else null
    if (on) sc.setLocalProperty(Trace.SpanKey, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val ns = System.nanoTime() - t0
      if (on) spans += Trace.Span(id, op, startMs, System.currentTimeMillis(), ns)
      (r, ns / 1e6)
    } finally if (on) sc.setLocalProperty(Trace.SpanKey, null)
  }

  def span[T](op: String)(body: => T): T = timed(op)(body)._1

  /** Runs `body` without opening spans (the untimed warm phase). */
  def untraced[T](body: => T): T = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }

  /** Every finished span with its attributed work (drains the bus first). */
  def finished(): Seq[(Trace.Span, Trace.SpanWork)] = listener match {
    case None => Nil
    case Some(l) =>
      org.apache.spark.MembenchBusDrain.drain(sc)
      spans.toSeq.map(s => (s, l.work(s.id, s.startMs, s.endMs)))
  }

  def detach(): Unit = listener.foreach(sc.removeSparkListener)

  /** Tracing overhead in percent: `reps` alternating pairs of `op` (which
    * opens its own spans), once with tracing off and the listener detached,
    * once traced; compares the median wall times. The spans opened here are
    * discarded. Zero in an untraced run.
    */
  def overheadPct(reps: Int)(op: => Unit): Double = listener match {
    case None => 0.0
    case Some(l) =>
      val keep = spans.size
      def wall(): Double = { val t0 = System.nanoTime(); op; (System.nanoTime() - t0) / 1e6 }
      val pairs = (1 to reps).map { _ =>
        sc.removeSparkListener(l); enabled = false
        val off = wall()
        sc.addSparkListener(l); enabled = true
        (off, wall())
      }
      spans.remove(keep, spans.size - keep)
      100.0 * (Stats.median(pairs.map(_._2)) / Stats.median(pairs.map(_._1)) - 1.0)
  }
}
