package perfbench

import org.apache.spark.sql.SparkSession

/** Run environment: the Spark session every workload shares, and the
  * fingerprint stamped into every result so that a swing between runs
  * of identical code can be traced to the machine from the file alone.
  */
object Env {

  /** The engine's session settings, as its own test fixture and bench
    * use them; `work` keeps every file Spark writes inside the run's
    * work directory.
    */
  def session(cores: Int, work: java.io.File, catalogWarehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "graft.util.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.util.NioLocalFs")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "spark-warehouse").getPath)
      .config("spark.sql.catalog.bench", "graft.sql.IceliteCatalog")
      .config("spark.sql.catalog.bench.warehouse", catalogWarehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpuModel: String =
    try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try src.getLines()
        .collectFirst { case l if l.startsWith("model name") => l.split(":", 2)(1).trim }
        .getOrElse("unknown")
      finally src.close()
    } catch { case _: Exception => "unknown" }

  /** Fixed single-thread xorshift work for `ms` milliseconds, reported
    * as thousands of iterations per ms: a machine-speed yardstick taken
    * before any Spark work.
    */
  def calibrate(ms: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var iters = 0L
    val end = System.nanoTime() + ms * 1000000L
    while (System.nanoTime() < end) {
      var i = 0
      while (i < 100000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      iters += 100000
    }
    if ((x & 0xFFFFF) == 0x12345) iters += 1 // keep the loop observable
    iters / (ms * 1000)
  }
}
