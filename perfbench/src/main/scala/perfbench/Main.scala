package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--scale <x>]
  * }}}
  *
  * The last stdout line is the result object; progress and the env
  * fingerprint go to stderr. `--scale` multiplies every input size
  * (1.0 is the configured benchmark; the smoke check runs far below).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: File, scale: Double) {
    /** Spark's `local[N]`: one core per task slot, at most four. */
    val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      new File(req("work")), m.get("scale").map(_.toDouble).getOrElse(1.0))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads.all.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${a.workload}; known: ${Workloads.all.keys.toSeq.sorted.mkString(", ")}"))
    a.work.mkdirs()
    val calib = Env.calibrate(300) // before any Spark work: idle-machine yardstick
    val t0 = System.nanoTime()
    val spark = Env.session(a.cores, a.work, Workloads.catalogWarehouse(a.work))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, a)
    val result =
      try {
        workload(run)
        run.log("workload done")
        run.result()
      } finally {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      }
    val env = Seq(
      "cpu" -> Json.str(Env.cpuModel),
      "cores" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_master" -> Json.str(s"local[${a.cores}]"),
      "calib_xorshift_kiters_ms" -> calib.toString,
      "session_start_s" -> Json.num(sessionS),
      "seed" -> a.seed.toString,
      "scale" -> Json.num(a.scale),
      "inputs" -> Json.obj(run.inputs.toSeq.map { case (k, v) => k -> v.toString }))
    System.err.println("env " + Json.obj(env))
    if (a.traced) {
      run.trace.write(new File(a.work, s"trace-${a.workload}-${a.seed}.jsonl"))
    }
    run.log("result")
    println(result)
  }
}

/** One benchmark run: the session, the arguments, and everything the
  * workload measures, checks and counts.
  */
final class Run(val spark: SparkSession, val args: Main.Args) {
  val trace = new Trace(s"${args.workload}-${args.seed}")
  trace.enabled = args.traced
  val sparkTally = new SparkTally
  val streamTally = new StreamTally
  spark.streams.addListener(streamTally)
  if (args.traced) spark.sparkContext.addSparkListener(sparkTally)

  /** Input sizes, stamped into the env fingerprint. */
  val inputs = mutable.LinkedHashMap.empty[String, Long]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val setupS = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  private val gateFailures = mutable.ArrayBuffer.empty[String]

  private val bornNs = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - bornNs) / 1e9}%6.1f s] $msg")

  /** Start and end (nanoTime) of the measured window. */
  var windowNs: (Long, Long) = (0L, 0L)

  /** Mean duration of the spans called `name` that began in the window. */
  def windowMeanMs(name: String): Double =
    Stats.mean(trace.byName(name).filter(s => s.startNs >= windowNs._1 && s.startNs <= windowNs._2)
      .map(_.ms))

  def work(name: String): File = { val f = new File(args.work, name); f.mkdirs(); f }
  def seconds: Double = args.seconds

  /** Time one repetition of the workload's set-up. */
  def setup[A](body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    setupS += (System.nanoTime() - t0) / 1e9
    log(f"set-up ${setupS.size} took ${setupS.last}%.2f s")
    r
  }

  /** Record `n` operations, `bad` of which produced a wrong result. */
  def ops(n: Long, bad: Long): Unit = { attempted += n; failed += bad }

  /** A correctness gate: on failure the run is marked incorrect. */
  def gate(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      gateFailures += what
      System.err.println(s"CHECK FAILED: $what")
    }
    ok
  }

  def flushListeners(): Unit = org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)

  /** Spark scheduler counts over a window [fromMs, toMs] of wall time. */
  final case class SparkMark(jobs: Long, tasks: Long, gcMs: Long, shuffle: Long, out: Long, ms: Long)
  def sparkMark(): SparkMark = {
    flushListeners()
    SparkMark(sparkTally.jobs.get, sparkTally.tasks.get, sparkTally.gcMs.get,
      sparkTally.shuffleWriteBytes.get, sparkTally.outputBytes.get, System.currentTimeMillis())
  }

  def recordSpark(from: SparkMark): Unit = {
    val to = sparkMark()
    val iv = sparkTally.jobIntervals(from.ms, to.ms)
    layer("spark.jobs") = ((to.jobs - from.jobs).toDouble, "count")
    layer("spark.job_sum_ms") = (iv.map { case (s, e) => (e - s).toDouble }.sum, "ms")
    layer("spark.driver_gap_ms") = ((to.ms - from.ms - Trace.unionLength(iv)).toDouble, "ms")
    layer("spark.tasks") = ((to.tasks - from.tasks).toDouble, "count")
    layer("spark.gc_ms") = ((to.gcMs - from.gcMs).toDouble, "ms")
    layer("spark.shuffle_write_bytes") = ((to.shuffle - from.shuffle).toDouble, "bytes")
    layer("spark.output_bytes") = ((to.out - from.out).toDouble, "bytes")
  }

  /** Cost of one span, measured on a scratch trace, times the spans
    * this run recorded, as a share of the run's traced time.
    */
  def recordTraceOverhead(): Unit = {
    val probe = new Trace("calibration")
    probe.enabled = true
    val n = 100000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { probe.span("x")(i); i += 1 }
    val perSpanMs = (System.nanoTime() - t0) / 1e6 / n
    val spans = trace.all.size
    val tracedMs = (System.nanoTime() - bornNs) / 1e6
    layer("trace.spans") = (spans.toDouble, "count")
    layer("trace.overhead_pct") = (100.0 * spans * perSpanMs / tracedMs, "%")
  }

  def result(): String = {
    val correct = gateFailures.isEmpty && failed == 0 && attempted > 0
    if (!correct && failed == 0) failed = math.max(1L, attempted)
    e2e("setup_s") = (Stats.median(setupS.toSeq), "s")
    val metrics =
      if (args.traced) Workloads.perLayer.map { case (k, u) => k -> layer.getOrElse(k, (0.0, u)) }
      else Workloads.endToEnd.map { case (k, u) => k -> e2e.getOrElse(k, (0.0, u)) }
    val m = metrics.map { case (k, (v, u)) => k -> s"""{"value":${Json.num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":${math.max(1L, attempted)},"failed":$failed,""" +
      s""""metrics":${Json.obj(m)}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
