package graftbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Summary statistics shared by every workload. */
object Stats {

  /** NaN for no samples, so a run whose every op failed still reports. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = if (xs.isEmpty) Double.NaN else {
    require(p >= 1 && p <= 100, s"percentile p=$p")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** The highest whole percentile that still leaves at least `beyond`
    * samples above its nearest rank (p95 at n = 208). With too few
    * samples for any percentile to qualify, the tail is the maximum.
    */
  def tailLevel(n: Int, beyond: Int = 10): Int =
    (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond).getOrElse(100)

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** `iv` clipped to [lo, hi]. */
  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
}

/** One timed call into a layer. Times are epoch milliseconds, the clock
  * Spark stamps its job events with.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Records spans around calls made from the one client thread and tags
  * every Spark job started inside a span with that span's id, through the
  * local property [[Tracer.SpanProperty]]. When disabled, `span` only runs
  * the call, so untraced runs pay nothing for it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private val stack = mutable.Stack.empty[Int]
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def tag(id: Option[Int]): Unit =
    sc.setLocalProperty(Tracer.SpanProperty, id.map(_.toString).orNull)

  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      tag(Some(id))
      val start = nowMs
      try f
      finally {
        done += Span(id, parent, name, layer, start, nowMs)
        stack.pop()
        tag(stack.headOption)
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** A span's duration minus the part of it its direct children cover,
    * counting overlapping children once, in seconds.
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.end - s.start - Stats.unionLength(Stats.clip(kids, s.start, s.end))) / 1000.0
    }.toMap
  }
}

/** Spark work attributed to one span: its jobs, their wall intervals, and
  * the sum of their tasks' metrics.
  */
final class SpanWork {
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  var taskSeconds = 0.0
  var gcSeconds = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  var failedTasks = 0
}

/** SparkListener that attributes every job, and every task of its stages,
  * to the span whose id the job's local properties carry (span 0 when it
  * carries none).
  */
final class JobLedger extends SparkListener {
  private val work = mutable.Map.empty[Int, SpanWork]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def of(span: Int): SpanWork = work.getOrElseUpdate(span, new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarted(e.jobId, e.time.toDouble, e.stageIds,
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
        .map(_.toInt).getOrElse(0))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnded(e.jobId, e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) taskEnded(e.stageId, e.reason != Success, 0.0, 0.0, 0L, 0L)
    else taskEnded(e.stageId, e.reason != Success, m.executorRunTime / 1000.0,
      m.jvmGCTime / 1000.0, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.outputMetrics.recordsWritten)
  }

  def jobStarted(jobId: Int, timeMs: Double, stageIds: Seq[Int], span: Int): Unit = synchronized {
    jobSpan(jobId) = span
    jobStart(jobId) = timeMs
    stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
  }

  def jobEnded(jobId: Int, timeMs: Double): Unit = synchronized {
    for (span <- jobSpan.get(jobId); start <- jobStart.remove(jobId))
      of(span).jobIntervals += ((start, timeMs))
  }

  def taskEnded(stageId: Int, failed: Boolean, runSeconds: Double, gcSeconds: Double,
      shuffleWriteBytes: Long, spillBytes: Long, recordsWritten: Long = 0L): Unit = synchronized {
    val w = of(stageSpan.getOrElse(stageId, 0))
    if (failed) w.failedTasks += 1
    w.recordsWritten += recordsWritten
    w.taskSeconds += runSeconds
    w.gcSeconds += gcSeconds
    w.shuffleWriteBytes += shuffleWriteBytes
    w.spillBytes += spillBytes
  }

  def snapshot: Map[Int, SpanWork] = synchronized(work.toMap)
}

/** Per-layer counters from spans and the ledger. `nproc` task slots. */
object LayerCounters {
  val names: Seq[String] = Seq("jobs", "task_s", "gc_s", "shuffle_write_mb",
    "spill_mb", "failed_tasks", "driver_s", "idle_slot_s")

  /** For every layer: summed counters over the spans of that layer, where
    * `driver_s` is the span's self time with no attributed job running and
    * `idle_slot_s` is attributed job wall time × nproc minus task time.
    */
  def apply(spans: Seq[Span], work: Map[Int, SpanWork], nproc: Int)
      : Map[String, Map[String, Double]] = {
    val self = Tracer.selfSeconds(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val acc = mutable.Map(names.map(_ -> 0.0): _*)
      ss.foreach { s =>
        val w = work.getOrElse(s.id, new SpanWork)
        val busy = Stats.unionLength(w.jobIntervals.toSeq) / 1000.0
        acc("jobs") += w.jobs
        acc("task_s") += w.taskSeconds
        acc("gc_s") += w.gcSeconds
        acc("shuffle_write_mb") += w.shuffleWriteBytes / 1e6
        acc("spill_mb") += w.spillBytes / 1e6
        acc("failed_tasks") += w.failedTasks
        acc("driver_s") += math.max(0.0, self(s.id) - busy)
        acc("idle_slot_s") += busy * nproc - w.taskSeconds
      }
      layer -> acc.toMap
    }
  }
}

/** Drains Spark's listener bus so the ledger has seen every event of the
  * jobs run so far. The bus is internal to Spark; its accessor is public
  * in bytecode.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}
