package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Seeded input generator. It knows nothing of the engine: it writes
  * plain files (a JSONL collection, a change log, a read schedule, the
  * expected end state) and the program under test only ever sees those
  * files. The same seed and sizes always give byte-identical files.
  *
  * Keys are TPC-H order keys 1..n; `_id` is a 24-hex ObjectId rendered
  * from the key so that `_id` order equals key order.
  */
object Gen {

  /** splitmix64 finalizer: turns (seed, stream, index) into independent
    * well-mixed draws without sharing a sequential generator.
    */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = mix(seed)
    def next(): Long = { s = mix(s); s }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def unit(): Double = (next() >>> 11) * (1.0 / (1L << 53))
  }

  def oid(key: Long): String = f"$key%024x"

  private val Statuses = Array("O", "F", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val DayMs = 86400000L
  private val EpochStart = 694224000000L // 1992-01-01
  private val LogEpochMs = 1600000000000L

  private def isoDate(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  /** One order's mutable image. Prices are kept in integer cents so the
    * checksum is exact; they are rendered as doubles with two decimals.
    */
  final case class Order(
      key: Long, custkey: Long, status: String, priceCents: Long,
      dateMs: Long, priority: String, items: Array[Item]) {

    def json: String = {
      val sb = new StringBuilder(256 + items.length * 220)
      sb.append("{\"_id\":{\"$oid\":\"").append(oid(key)).append("\"}")
      sb.append(",\"o_orderkey\":{\"$numberLong\":\"").append(key).append("\"}")
      sb.append(",\"o_custkey\":{\"$numberLong\":\"").append(custkey).append("\"}")
      sb.append(",\"o_orderstatus\":\"").append(status).append('"')
      sb.append(",\"o_totalprice\":").append(cents(priceCents))
      sb.append(",\"o_orderdate\":{\"$date\":\"").append(isoDate(dateMs)).append("\"}")
      sb.append(",\"o_orderpriority\":\"").append(priority).append('"')
      sb.append(",\"items\":[")
      var i = 0
      while (i < items.length) {
        if (i > 0) sb.append(',')
        items(i).appendJson(sb)
        i += 1
      }
      sb.append("]}")
      sb.toString
    }

    def itemQtySum: Long = items.iterator.map(_.quantity.toLong).sum
  }

  final case class Item(
      line: Int, partkey: Long, suppkey: Long, quantity: Int,
      priceCents: Long, discountPct: Int, taxPct: Int,
      returnflag: String, linestatus: String, shipMs: Long) {
    def appendJson(sb: StringBuilder): Unit = {
      sb.append("{\"l_linenumber\":").append(line)
      sb.append(",\"l_partkey\":{\"$numberLong\":\"").append(partkey).append("\"}")
      sb.append(",\"l_suppkey\":{\"$numberLong\":\"").append(suppkey).append("\"}")
      sb.append(",\"l_quantity\":").append(quantity).append(".0")
      sb.append(",\"l_extendedprice\":").append(cents(priceCents))
      sb.append(",\"l_discount\":").append(f"${discountPct / 100.0}%.2f")
      sb.append(",\"l_tax\":").append(f"${taxPct / 100.0}%.2f")
      sb.append(",\"l_returnflag\":\"").append(returnflag).append('"')
      sb.append(",\"l_linestatus\":\"").append(linestatus).append('"')
      sb.append(",\"l_shipdate\":{\"$date\":\"").append(isoDate(shipMs)).append("\"}}")
    }
  }

  def cents(c: Long): String = {
    val sign = if (c < 0) "-" else ""
    val a = math.abs(c)
    f"$sign${a / 100}.${a % 100}%02d"
  }

  /** The order with key `key` as generated for the initial collection. */
  def order(seed: Long, key: Long): Order = {
    val r = new Rng(seed * 31 + key)
    val nItems = 1 + r.below(7)
    val date = EpochStart + r.below(2400) * DayMs
    val items = Array.tabulate(nItems) { i =>
      val qty = 1 + r.below(50)
      val part = 1 + r.below(20000).toLong
      Item(i + 1, part, 1 + r.below(1000).toLong, qty,
        qty.toLong * (90000 + (part % 20001)) / 10,
        r.below(11), r.below(9),
        if (r.below(4) == 0) "R" else if (r.below(2) == 0) "A" else "N",
        if (r.below(2) == 0) "O" else "F",
        date + (1 + r.below(120)) * DayMs)
    }
    val price = items.iterator.map(it => it.priceCents * (100 - it.discountPct) / 100).sum
    Order(key, 1 + r.below(15000).toLong, Statuses(r.below(3)), price, date,
      Priorities(r.below(5)), items)
  }

  /** The order-insensitive content digest both sides compute: a sum
    * over rows of a per-row mix of integer fields, plus field sums.
    * The table side evaluates the same arithmetic in SQL.
    */
  final case class Digest(rows: Long, keySum: Long, priceCents: Long, items: Long,
      qty: Long, mixSum: Long) {
    def +(o: Order): Digest = Digest(rows + 1, keySum + o.key, priceCents + o.priceCents,
      items + o.items.length, qty + o.itemQtySum, mixSum + rowMix(o.key, o.priceCents, o.items.length))
  }
  object Digest { val Empty: Digest = Digest(0, 0, 0, 0, 0, 0) }

  /** Per-row mix, kept below 2^31 so SQL can sum it without overflow. */
  def rowMix(key: Long, priceCents: Long, nItems: Int): Long =
    (key * 1000003L + priceCents * 7L + nItems) % 2147483647L

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
  }

  /** Write the collection as `parts` JSONL files under `dir` and return
    * its digest.
    */
  def writeCollection(seed: Long, n: Long, dir: File, parts: Int): Digest = {
    var d = Digest.Empty
    val per = (n + parts - 1) / parts
    for (p <- 0 until parts) {
      val w = writer(new File(dir, f"part-$p%05d.jsonl"))
      try {
        var k = 1 + p * per
        val end = math.min(n, (p + 1) * per)
        while (k <= end) {
          val o = order(seed, k)
          w.write(o.json); w.write('\n')
          d += o
          k += 1
        }
      } finally w.close()
    }
    d
  }

  /** One change event as written to the log. */
  final case class Event(seq: Long, op: String, key: Long, image: Option[Order])

  /** Change-log shape: `files` files of `perFile` events; the stream
    * reads `perBatch` files per micro-batch.
    */
  final case class LogSpec(files: Int, perFile: Int, perBatch: Int)

  /** Event mix. Keys follow YCSB's scrambled Zipfian request
    * distribution (constant 0.99; Cooper et al., "Benchmarking Cloud
    * Serving Systems with YCSB", SoCC 2010), so hot keys repeat inside
    * a micro-batch and last-writer-wins dedup has work to do. A drawn
    * live key is deleted with the share the engine's own change-batch
    * fixture has (`SyncQueries.syncPipeline`: keys = 0 mod 101 deleted,
    * keys = 0 mod 97 updated, so 49% of its events are deletes) and
    * updated otherwise; a drawn key that is not live is re-inserted.
    */
  private val ZipfS = 0.99
  private val DeleteShare = (1.0 / 101) / (1.0 / 101 + 1.0 / 97 - 1.0 / (97 * 101))

  /** The log replayed in seq order: the last-writer-wins state per key,
    * and counts of what the log holds.
    */
  final class Replay {
    val live = mutable.HashMap.empty[Long, Order]
    var seq: Long = 0L
    var maxSeq: Long = 0L
    /** status → (live rows, price cents), for the aggregate read check */
    val byStatus = mutable.HashMap.empty[String, (Long, Long)]
    /** events per op */
    val ops = mutable.LinkedHashMap("insert" -> 0L, "update" -> 0L, "delete" -> 0L)
    /** events whose key an earlier event of the same micro-batch touched */
    var repeatedInBatch: Long = 0L

    def load(o: Order): Unit = { live(o.key) = o; bump(o, 1) }
    private def bump(o: Order, sign: Int): Unit = {
      val (c, p) = byStatus.getOrElse(o.status, (0L, 0L))
      byStatus(o.status) = (c + sign, p + sign * o.priceCents)
    }
    def remove(key: Long): Unit = live.remove(key).foreach(bump(_, -1))
    def put(o: Order): Unit = { remove(o.key); live(o.key) = o; bump(o, 1) }
  }

  def zipfTable(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); cdf(i) = acc; i += 1 }
    i = 0
    while (i < n) { cdf(i) /= acc; i += 1 }
    cdf
  }

  def sampleCdf(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else math.min(cdf.length - 1, -i - 1)
  }

  /** Mutated post-image of an existing order: a status change, a price
    * change and sometimes one item more or less.
    */
  def mutate(o: Order, r: Rng, seq: Long): Order = {
    val items =
      if (r.below(4) == 0 && o.items.length > 1) o.items.dropRight(1)
      else if (r.below(4) == 0 && o.items.length < 7) {
        val base = o.items.last
        o.items :+ base.copy(line = o.items.length + 1, quantity = 1 + r.below(50))
      } else o.items
    o.copy(status = Statuses(r.below(3)),
      priceCents = o.priceCents + (r.below(20001) - 10000), items = items,
      priority = Priorities((seq % 5).toInt))
  }

  def eventJson(e: Event): String = {
    val sb = new StringBuilder(512)
    sb.append("{\"seq\":").append(e.seq).append(",\"op\":\"").append(e.op)
      .append("\",\"_id\":\"").append(oid(e.key)).append('"')
    e.image.foreach(o => sb.append(",\"fullDocument\":").append(quote(o.json)))
    sb.append(",\"clusterTime\":\"").append(isoDate(EpochStart + e.seq * 1000L)).append("\"}")
    sb.toString
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder(s.length + 64)
    sb.append('"')
    s.foreach { c =>
      if (c == '"' || c == '\\') sb.append('\\')
      sb.append(c)
    }
    sb.append('"').toString
  }

  /** Generate the change log into `dir` (file names sort in seq order)
    * against a replay seeded with the initial collection. Returns the
    * replay after the last file. `afterFile(i, replay)` runs after
    * file i is written, so callers can snapshot expectations.
    */
  def writeChangeLog(seed: Long, n: Long, spec: LogSpec, dir: File,
      afterFile: (Int, Replay) => Unit = (_, _) => ()): Replay = {
    val rep = new Replay
    var k = 1L
    while (k <= n) { rep.load(order(seed, k)); k += 1 }
    val cdf = zipfTable(math.min(n, 1L << 20).toInt, ZipfS)
    // rank → key permutation so hot keys are spread over the key space
    val r = new Rng(seed * 7919 + 17)
    dir.mkdirs()
    val batchKeys = mutable.HashSet.empty[Long]
    for (f <- 0 until spec.files) {
      if (f % spec.perBatch == 0) batchKeys.clear()
      val file = new File(dir, f"events-$f%06d.json")
      val w = writer(file)
      try {
        var i = 0
        while (i < spec.perFile) {
          rep.seq += 1
          val rank = sampleCdf(cdf, r.unit())
          val key = 1 + (mix(seed + rank) & Long.MaxValue) % n
          val ev = rep.live.get(key) match {
            case None =>
              val o = order(seed ^ 0x5bd1e995L, key)
              rep.put(o)
              Event(rep.seq, "insert", key, Some(o))
            case Some(_) if r.unit() < DeleteShare =>
              rep.remove(key)
              Event(rep.seq, "delete", key, None)
            case Some(o) =>
              val m = mutate(o, r, rep.seq)
              rep.put(m)
              Event(rep.seq, "update", key, Some(m))
          }
          rep.ops(ev.op) += 1
          if (!batchKeys.add(key)) rep.repeatedInBatch += 1
          w.write(eventJson(ev)); w.write('\n')
          rep.maxSeq = rep.seq
          i += 1
        }
      } finally w.close()
      // files arrive in seq order: the file source orders a backlog by
      // modification time, and a fast writer would leave ties (see the
      // README's open issue on tied modification times)
      require(file.setLastModified(LogEpochMs + f * 1000L), s"cannot stamp $file")
      afterFile(f, rep)
    }
    rep
  }

  /** The LWW end state `live` of keys 1..n, one JSON line per key. */
  def writeExpectedState(live: collection.Map[Long, Order], n: Long, f: File): Unit = {
    val w = writer(f)
    try {
      var k = 1L
      while (k <= n) {
        live.get(k) match {
          case Some(o) =>
            w.write(s"""{"_id":"${oid(k)}","live":true,"price_cents":${o.priceCents},"status":"${o.status}","n_items":${o.items.length}}""")
          case None =>
            w.write(s"""{"_id":"${oid(k)}","live":false}""")
        }
        w.write('\n')
        k += 1
      }
    } finally w.close()
  }

  // ---------------------------------------------------------------- corpus

  private val Words = Array("the", "a", "data", "table", "query", "join", "merge", "sort",
    "hash", "scan", "filter", "group", "window", "stream", "batch", "spark", "order",
    "customer", "part", "line", "key", "value", "row", "column", "vector", "agg",
    "small", "big", "fast", "slow", "dup", "index", "shard", "commit", "snapshot",
    "delete", "update", "insert", "schema", "partition", "cluster", "sketch")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Text corpus with planted near-duplicates (every 10th doc copies an
    * earlier one with a few words changed), so the dedup indexes have
    * matches to find.
    */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val docs = new Array[Doc](n)
    for (i <- 0 until n) {
      val r = new Rng(seed * 131 + i)
      val text =
        if (i >= 10 && i % 10 == 0) {
          val src = docs(r.below(i)).text.split(' ')
          val k = r.below(src.length)
          src.updated(k, Words(r.below(Words.length))).mkString(" ")
        } else {
          val len = 20 + r.below(100)
          Array.fill(len)(Words(r.below(Words.length))).mkString(" ")
        }
      docs(i) = Doc(i.toLong, text, Langs(r.below(Langs.length)), s"src${r.below(20)}")
    }
    docs.toIndexedSeq
  }

  /** 64-dim embeddings in ten labelled clusters. */
  def embeddings(seed: Long, n: Int): IndexedSeq[(Long, Array[Float], Int)] = {
    val centers = Array.tabulate(10) { c =>
      val r = new Rng(seed * 977 + c)
      Array.fill(64)((r.unit() * 2 - 1).toFloat)
    }
    (0 until n).map { i =>
      val r = new Rng(seed * 1009 + i)
      val label = r.below(10)
      (i.toLong, Array.tabulate(64)(d => centers(label)(d) + ((r.unit() - 0.5) * 0.3).toFloat), label)
    }
  }
}
