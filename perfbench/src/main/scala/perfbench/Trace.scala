package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans recorded around the benchmark's own calls into each
  * engine module. Nothing inside the engine is instrumented: a span's
  * name is `<module>.<call>` and it covers exactly one public call.
  * Spans are kept in memory and written out once, when the run ends.
  */
final class Trace(val runId: String) {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  /** Time `body`; when tracing is on, also record it as a span whose
    * parent is the innermost open span on this thread.
    */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, t0, System.nanoTime()))
      stack.set(parents)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def byName(name: String): Seq[Span] = all.filter(_.name == name)

  /** Mean duration in ms of the spans called `name`; 0 when none ran. */
  def meanMs(name: String): Double = {
    val s = byName(name)
    if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
  }

  /** Self time per span: its duration minus the union of the intervals
    * its direct children cover.
    */
  def selfMs: Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Trace.unionLength(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }

  /** Spans as JSON lines, with their self time. */
  def toJsonLines: Iterator[String] = {
    val self = selfMs
    all.iterator.map { s =>
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${self(s.id)}%.3f}"""
    }
  }

  def write(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try toJsonLines.foreach(w.println) finally w.close()
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }
}

/** Counts from Spark's own scheduler events: jobs, tasks, GC, shuffle
  * and output bytes, and each job's wall interval, so driver time
  * outside every job can be derived for a window.
  */
final class SparkTally extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val outputBytes = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => intervals.add((s.longValue(), e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Job intervals (epoch ms) that started inside [fromMs, toMs]. */
  def jobIntervals(fromMs: Long, toMs: Long): Seq[(Long, Long)] =
    intervals.asScala.toSeq.filter { case (s, _) => s >= fromMs && s <= toMs }
}

/** Per-trigger progress reports of every streaming query, exactly as
  * Structured Streaming publishes them.
  */
final class StreamTally extends StreamingQueryListener {
  final case class Progress(rows: Long, durations: Map[String, Long])
  val progress = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    progress.add(Progress(p.numInputRows, d))
  }

  /** Progress reports of triggers that read at least one row. */
  def batches: Seq[Progress] = progress.asScala.toSeq.filter(_.rows > 0)

  def meanDuration(key: String): Double = {
    val b = batches
    if (b.isEmpty) 0.0 else b.map(_.durations.getOrElse(key, 0L)).sum.toDouble / b.size
  }
  def clear(): Unit = progress.clear()
}

/** Order statistics used by every workload. */
object Stats {
  /** Nearest-rank percentile (p in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
