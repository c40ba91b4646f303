package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{CollectionSyncConfig, SourceConfig, TargetConfig}
import graft.schema.DocumentSource
import graft.sync.{ChangeStreamSync, CheckpointStore, InitialSync, SyncMetrics}
import graft.table.IceliteTable

/** The workloads. Each drives the engine's public API in the order
  * `SyncOrchestrator.syncCollection` does, from one client thread with
  * a closed loop (the next call starts when the previous one returned),
  * for `--seconds` of measured time, and checks every result.
  *
  * Per-layer numbers come from spans the benchmark opens around its own
  * calls (`run.trace.span`), from `SyncMetrics` and `IceliteTable.meta`,
  * and from Spark's scheduler and streaming listeners.
  */
object Workloads {

  val all: Map[String, Run => Unit] = Map(
    "cdc_drain" -> cdcDrain,
    "index_ingest" -> indexIngest)

  /** Every end-to-end metric, with its unit. Each workload defines the
    * work it counts and the request it times:
    *  - cdc_drain: change events drained per second of drain time; one
    *    micro-batch trigger;
    *  - index_ingest: corpus documents indexed per second of the whole
    *    ingest step; one index build.
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_ms_p50" -> "ms")

  /** Every per-layer metric, with its unit. A workload that does not
    * exercise a layer reports zero work for it.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "schema.read_jsonl_ms" -> "ms", "schema.docs_converted" -> "count",
    "sync.ensure_table_ms" -> "ms", "sync.initial_run_ms" -> "ms", "sync.initial_chunks" -> "count",
    "sync.process_batch_ms" -> "ms", "sync.checkpoint_read_ms" -> "ms",
    "sync.commit_ms_mean" -> "ms", "sync.commit_ms_max" -> "ms", "sync.commits" -> "count",
    "sync.errors" -> "count", "sync.quarantined" -> "count", "sync.events_applied_ratio" -> "ratio",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "count", "stream.trigger_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms",
    "table.refresh_ms" -> "ms", "table.snapshots" -> "count", "table.live_data_files" -> "count",
    "table.live_delete_files" -> "count", "table.bytes_on_disk" -> "bytes",
    "table.bytes_written_per_event" -> "bytes", "table.compact_cold_ms" -> "ms",
    "table.expire_ms" -> "ms", "table.maintenance_bytes_rewritten" -> "bytes",
    "sql.plan_ms" -> "ms", "sql.exec_ms" -> "ms") ++
    Indexes.map(i => s"operators.${i}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.job_sum_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.tasks" -> "count", "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "initial_docs_per_s" -> "1/s", "change_events_per_s" -> "1/s",
    "batch_ms_p50" -> "ms", "batch_ms_p90" -> "ms", "read_ms_p50" -> "ms", "read_ms_p90" -> "ms",
    "read_point_ms_p50" -> "ms", "read_range_ms_p50" -> "ms", "read_agg_ms_p50" -> "ms",
    "space_amp" -> "ratio", "ingest_s" -> "s",
    "trace.latency_ms_p50" -> "ms", "trace.spans" -> "count", "trace.overhead_pct" -> "%")

  /** The serving indexes the ingest step builds, in Bench's order. The
    * curation-state fold is left out: its fixed cost alone (about 45 s
    * at any corpus size on a 4-core machine) exceeds one run's share of
    * the benchmark's time budget.
    */
  lazy val Indexes: Seq[String] = Seq("shingle_index", "cluster_index", "lm_index",
    "phash_index", "sketch_index", "line_index", "wgram_index", "edge_index")

  /** The SQL catalog `bench` points at the warehouse the sync writes. */
  def catalogWarehouse(work: File): String = new File(work, "wh-current").getPath

  private val Database = "shop"
  private val Cfg = CollectionSyncConfig(SourceConfig("orders"), TargetConfig("analytics", "orders"))
  private val SyncId = Cfg.target.qualifiedName

  private def sizeOf(n: Double, scale: Double): Long = math.max(1L, math.round(n * scale))

  // ------------------------------------------------------------ helpers

  private def deleteTree(f: File): Unit =
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))

  /** Every regular file under `dir` with its size. */
  private def filesUnder(dir: String): Map[Path, Long] = {
    val p = new File(dir).toPath
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(f => f -> Files.size(f)).toMap
  }

  private def bytesUnder(dir: String): Long = filesUnder(dir).values.sum

  /** The initial-sync path of `syncCollection`: read the source, apply
    * the mapping, create the table, run the chunked copy.
    */
  private def load(run: Run, wh: String, source: String, metrics: SyncMetrics)
      : (IceliteTable, CheckpointStore, Long) = {
    val t = run.trace
    val df = t.span("schema.read_jsonl")(DocumentSource.readJsonl(run.spark, source))
    val table = t.span("sync.ensure_table")(InitialSync.ensureTable(run.spark, wh, Cfg, df))
    val ckpts = new CheckpointStore(run.spark, wh)
    val docs = t.span("sync.initial_run") {
      new InitialSync(run.spark, Cfg, table, ckpts, Database, metrics)
        .run(DocumentSource.applyMapping(df, Cfg.mapping))
    }
    (table, ckpts, docs)
  }

  /** The generator's digest, evaluated over the table in SQL. */
  private def tableDigest(df: DataFrame): Gen.Digest = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val r = df.agg(
      count(lit(1)), sum(col("o_orderkey")), sum(cents), sum(size(col("items"))),
      sum(aggregate(col("items"), lit(0L), (a, x) => a + x("l_quantity").cast("long"))),
      sum((col("o_orderkey") * 1000003L + cents * 7L + size(col("items"))) % 2147483647L))
      .collect().head
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Gen.Digest(l(0), l(1), l(2), l(3), l(4), l(5))
  }

  private def recordSync(run: Run, m: SyncMetrics): Unit = {
    val s = m.of(SyncId)
    val commits = s.commits.sum()
    run.layer("sync.commits") = (commits.toDouble, "count")
    run.layer("sync.commit_ms_mean") =
      (if (commits > 0) s.commitLatencyMsSum.sum().toDouble / commits else 0.0, "ms")
    run.layer("sync.commit_ms_max") = (s.commitLatencyMsMax.get().toDouble, "ms")
    run.layer("sync.errors") = (s.errors.sum().toDouble, "count")
    run.layer("sync.quarantined") = (s.quarantined.sum().toDouble, "count")
  }

  private def recordTable(run: Run, table: IceliteTable): Unit = {
    val t0 = System.nanoTime()
    val m = table.refresh()
    run.layer("table.refresh_ms") = ((System.nanoTime() - t0) / 1e6, "ms")
    run.layer("table.snapshots") = (m.snapshots.size.toDouble, "count")
    run.layer("table.live_data_files") = (m.liveDataFiles.size.toDouble, "count")
    run.layer("table.live_delete_files") = (m.liveDeleteFiles.size.toDouble, "count")
    run.layer("table.bytes_on_disk") = (bytesUnder(table.location).toDouble, "bytes")
  }

  /** Runs `body` as the measured window; a traced run also takes Spark's
    * counts around it.
    */
  private def window(run: Run)(body: => Unit): Unit = {
    run.log("measuring")
    val mark = run.sparkMark()
    val t0 = System.nanoTime()
    body
    run.windowNs = (t0, System.nanoTime())
    val ms = (run.windowNs._2 - t0) / 1e6
    run.log(f"measured ${ms / 1000}%.1f s; checking")
    if (run.args.traced) {
      run.recordSpark(mark)
      run.recordTraceOverhead()
    }
  }

  private def report(run: Run, throughput: Double, p50: Double): Unit = {
    run.e2e("throughput_per_s") = (throughput, "1/s")
    run.e2e("latency_ms_p50") = (p50, "ms")
    run.layer("trace.latency_ms_p50") = (p50, "ms")
  }

  // ------------------------------------------------------------ cdc_drain

  /** Collection size: TPC-H sf0.01 `orders` (1.5M x 0.01), the smaller
    * of the two scales the engine's tests run at.
    */
  private val DrainDocs = 15000.0

  /** Events per micro-batch as a share of the collection: the engine's
    * own change-batch fixture (`SyncQueries.syncPipeline`) touches the
    * keys = 0 mod 97 or mod 101, about 2% of the orders, in one batch.
    */
  private val BatchShare = 1.0 / 97 + 1.0 / 101 - 1.0 / (97 * 101)

  /** Files per micro-batch: `ChangeStreamSync.start` caps the file
    * source at maxFilesPerTrigger = 10.
    */
  private val FilesPerBatch = 10

  /** The backlog one catch-up drains, in micro-batches; the untimed
    * warm-up catch-up drains a shorter one.
    */
  private val BatchesPerCatchUp = 5
  private val WarmBatches = 2

  /** Catch-ups measured at the least, time or not, so every run covers
    * the same table states (one maintenance cycle included); and the
    * most the generated log holds.
    */
  private val MinCatchUps = 2
  private val MaxCatchUps = 8

  /** Cold compaction and snapshot expiry run after every second
    * catch-up, as `superviseSteadyState` runs them on its interval.
    */
  private val MaintainEvery = 2

  /** Read classes, each timed on its own. */
  private val ReadClasses = Seq("point", "range", "agg")

  /** Set-up of the drain, repeated three times: a fresh initial sync
    * into the catalog's warehouse (`DocumentSource.readJsonl` ->
    * `applyMapping` -> `InitialSync.ensureTable` -> `InitialSync.run`).
    * The last repetition's table stays and is checked against the
    * generator's digest, untimed. `warm` then runs one catch-up,
    * untimed, so the measured ones start from a warm JIT.
    */
  private def preload(run: Run, n: Long)(warm: (IceliteTable, CheckpointStore) => Unit)
      : (IceliteTable, CheckpointStore, Long) = {
    val coll = new File(run.work("mongo/shop"), "orders.jsonl")
    val digest = Gen.writeCollection(run.args.seed, n, coll, parts = 4)
    run.inputs("collection_docs") = n
    val wh = new File(catalogWarehouse(run.args.work))
    val metrics = new SyncMetrics
    var last: (IceliteTable, CheckpointStore, Long) = null
    for (_ <- 0 until 3) {
      deleteTree(wh)
      last = run.setup(load(run, wh.getPath, coll.getPath, metrics))
    }
    recordInitial(run, n, metrics.of(SyncId).commits.sum() / 3.0)
    val got = tableDigest(last._1.read())
    val ok = run.gate(got == digest && last._3 == n, s"initial sync: digest $got, expected $digest")
    run.ops(1, if (ok) 0 else 1)
    run.log("initial sync checked")
    val freshBytes = bytesUnder(last._1.location)
    warm(last._1, last._2)
    run.log("warmed up")
    (last._1, last._2, freshBytes)
  }

  /** Per-layer numbers of the initial-sync path, from its spans. */
  private def recordInitial(run: Run, docsPerLoad: Long, chunksPerLoad: Double): Unit = {
    val loads = run.trace.byName("sync.initial_run")
    run.layer("schema.read_jsonl_ms") = (run.trace.meanMs("schema.read_jsonl"), "ms")
    run.layer("schema.docs_converted") = (docsPerLoad.toDouble * loads.size, "count")
    run.layer("sync.ensure_table_ms") = (run.trace.meanMs("sync.ensure_table"), "ms")
    run.layer("sync.initial_run_ms") = (run.trace.meanMs("sync.initial_run"), "ms")
    run.layer("sync.initial_chunks") = (chunksPerLoad, "count")
    if (loads.nonEmpty)
      run.layer("initial_docs_per_s") = (docsPerLoad / (Stats.median(loads.map(_.ms)) / 1000), "1/s")
  }

  /** The final table against the generator's LWW state, key by key. */
  private def sameAsReplay(run: Run, table: IceliteTable, live: collection.Map[Long, Gen.Order],
      n: Long): Boolean = {
    val f = new File(run.work("expected"), "state.jsonl")
    Gen.writeExpectedState(live, n, f)
    val schema = StructType(Seq(StructField("_id", StringType), StructField("live", BooleanType),
      StructField("price_cents", LongType), StructField("status", StringType),
      StructField("n_items", IntegerType)))
    val exp = run.spark.read.schema(schema).json(f.getPath)
    val got = table.read().select(col("_id"),
      round(col("o_totalprice") * 100).cast("long").as("g_price"),
      col("o_orderstatus").as("g_status"), size(col("items")).as("g_items"))
    val bad = exp.join(got, Seq("_id"), "full_outer").filter(
      (coalesce(col("live"), lit(false)) && (col("g_price").isNull ||
        col("g_price") =!= col("price_cents") || col("g_status") =!= col("status") ||
        col("g_items") =!= col("n_items"))) ||
      (!coalesce(col("live"), lit(false)) && col("g_price").isNotNull)).count()
    run.gate(bad == 0, s"$bad keys differ from the LWW replay")
  }

  /** Catch-up after a restart, with one analyst. The table is preloaded
    * by a fresh initial sync in set-up. Each catch-up, a backlog of
    * `BatchesPerCatchUp` full micro-batches of change-log files arrives
    * (updates, deletes and re-inserts over Zipf-skewed keys, see `Gen`)
    * and a restarted `ChangeStreamSync.start(..., availableNow = true)`
    * drains it, as `SyncOrchestrator.syncCollection` does after the
    * initial sync. The committed checkpoint is read back, then the
    * client reads through the `bench` SQL catalog: two point lookups by
    * `_id` (a hot key and a cold one), a key-range count and a group-by
    * aggregate. After every `MaintainEvery` catch-ups the daemon's cold
    * compaction and snapshot expiry run.
    *
    * End to end: change events drained per second of drain time, and
    * the median micro-batch trigger duration (the commit latency).
    */
  def cdcDrain(run: Run): Unit = {
    val n = sizeOf(DrainDocs, run.args.scale)
    val perFile = math.max(1L, math.round(n * BatchShare / FilesPerBatch)).toInt
    // catch-up i drains the files [ends(i - 1), ends(i)); catch-up 0 is the warm-up
    val ends = (0 to MaxCatchUps).map(i => FilesPerBatch * (WarmBatches + i * BatchesPerCatchUp))
    val spec = Gen.LogSpec(files = ends.last, perFile, FilesPerBatch)
    val staged = run.work("changes-staged")
    val readsFile = new File(run.work("expected"), "reads.jsonl")
    val (log, states) = writeReadSchedule(run.args.seed, n, spec, ends, staged, readsFile)
    run.inputs("log_files") = spec.files.toLong
    run.inputs("events_per_file") = spec.perFile.toLong
    for ((op, c) <- log.ops) run.inputs(s"${op}_events") = c
    // the measured share of events whose key an earlier event of the same micro-batch touched
    run.inputs("key_repeat_permille") = 1000 * log.repeatedInBatch / log.seq
    val schedule = readSchedule(readsFile)
    val logDir = run.work("mongo/shop/orders.changes")
    val ckptDir = new File(run.args.work, "stream-checkpoint").getPath
    val drainMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val readMs = ReadClasses.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var bad = 0L
    var maintBytes = 0L

    /** One closed-loop catch-up: the backlog arrives and is drained, the
      * committed checkpoint is read back, then the reads.
      */
    def catchUp(i: Int, table: IceliteTable, stream: ChangeStreamSync, timed: Boolean): Unit = {
      for (f <- (if (i == 0) 0 else ends(i - 1)) until ends(i)) {
        val name = f"events-$f%06d.json"
        Files.move(new File(staged, name).toPath, new File(logDir, name).toPath)
      }
      val t0 = System.nanoTime()
      run.trace.span("sync.stream_drain") {
        stream.start(logDir.getPath, ckptDir, availableNow = true).awaitTermination()
      }
      if (timed) drainMs += (System.nanoTime() - t0) / 1e6
      val r = schedule(i)
      // a restarted daemon resumes from the committed checkpoint row
      val token = run.trace.span("sync.checkpoint_read") {
        new CheckpointStore(run.spark, catalogWarehouse(run.args.work)).read(SyncId)
          .flatMap(_.resumeToken)
      }
      if (!run.gate(token.contains(r.maxSeq), s"catch-up $i: resume token $token, expected ${r.maxSeq}"))
        bad += 1
      for ((cls, sql, check) <- r.reads) {
        val t1 = System.nanoTime()
        val rows = run.trace.span("sql.read") {
          val df = run.trace.span("sql.plan") {
            val d = run.spark.sql(sql); d.queryExecution.executedPlan; d
          }
          run.trace.span("sql.exec")(df.collect().toSeq)
        }
        if (timed) readMs(cls) += (System.nanoTime() - t1) / 1e6
        if (!run.gate(check(rows), s"catch-up $i: wrong result for $sql: ${rows.mkString(";")}"))
          bad += 1
      }
      if (i % MaintainEvery == MaintainEvery - 1) {
        val before = filesUnder(table.location)
        run.trace.span("table.compact_cold")(table.compactCold())
        run.trace.span("table.expire")(table.expireSnapshots())
        if (timed) maintBytes += filesUnder(table.location).filter(f => !before.contains(f._1)).values.sum
      }
    }

    val (table, ckpts, freshBytes) = preload(run, n) { (t, c) =>
      catchUp(0, t, new ChangeStreamSync(run.spark, Cfg, t, c, Database), timed = false)
    }
    val metrics = new SyncMetrics
    val stream = new ChangeStreamSync(run.spark, Cfg, table, ckpts, Database, metrics)
    run.flushListeners()
    run.streamTally.clear()
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    var i = 1
    window(run) {
      while (i <= MaxCatchUps && (i <= MinCatchUps || System.nanoTime() < deadline)) {
        catchUp(i, table, stream, timed = true)
        i += 1
      }
    }
    run.flushListeners()
    val batches = run.streamTally.batches
    val events = (ends(i - 1) - ends(0)).toLong * spec.perFile
    val perS = events / (drainMs.sum / 1000)
    val trigger = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val batchP50 = if (trigger.isEmpty) 0.0 else Stats.median(trigger)
    report(run, perS, batchP50)
    // the end state must equal the replay of exactly the arrived prefix
    val reads = readMs.values.map(_.size).sum
    val stateOk = sameAsReplay(run, table, states(i - 1), n)
    run.log("end state checked")
    run.ops(batches.size + reads, if (stateOk) bad else batches.size + reads)

    if (trigger.nonEmpty) {
      run.layer("batch_ms_p50") = (batchP50, "ms")
      run.layer("batch_ms_p90") = (Stats.pct(trigger, 90), "ms")
    }
    val allReads = readMs.values.flatten.toSeq
    run.layer("read_ms_p50") = (Stats.median(allReads), "ms")
    run.layer("read_ms_p90") = (Stats.pct(allReads, 90), "ms")
    for (cls <- ReadClasses) run.layer(s"read_${cls}_ms_p50") = (Stats.median(readMs(cls).toSeq), "ms")
    run.layer("stream.batches") = (batches.size.toDouble, "count")
    // logged events per batch: the listener's numInputRows counts every
    // pass processBatch makes over its batch, so it overstates the rows
    run.layer("stream.rows_per_batch") = (if (batches.isEmpty) 0.0 else events.toDouble / batches.size, "count")
    for ((k, m) <- Seq("triggerExecution" -> "stream.trigger_ms", "addBatch" -> "stream.add_batch_ms",
        "latestOffset" -> "stream.latest_offset_ms", "queryPlanning" -> "stream.query_planning_ms",
        "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms"))
      run.layer(m) = (run.streamTally.meanDuration(k), "ms")
    // processBatch runs inside foreachBatch, so its time is the trigger's addBatch
    run.layer("sync.process_batch_ms") = (run.streamTally.meanDuration("addBatch"), "ms")
    run.layer("sync.checkpoint_read_ms") = (run.windowMeanMs("sync.checkpoint_read"), "ms")
    run.layer("sql.plan_ms") = (run.windowMeanMs("sql.plan"), "ms")
    run.layer("sql.exec_ms") = (run.windowMeanMs("sql.exec"), "ms")
    run.layer("table.compact_cold_ms") = (run.windowMeanMs("table.compact_cold"), "ms")
    run.layer("table.expire_ms") = (run.windowMeanMs("table.expire"), "ms")
    run.layer("table.maintenance_bytes_rewritten") = (maintBytes.toDouble, "bytes")
    run.layer("change_events_per_s") = (perS, "1/s")
    val applied = metrics.of(SyncId).changeEvents.sum()
    run.layer("sync.events_applied_ratio") = (applied.toDouble / events, "ratio")
    recordSync(run, metrics)
    recordTable(run, table)
    val bytes = bytesUnder(table.location)
    run.layer("table.bytes_written_per_event") = ((bytes - freshBytes).toDouble / events, "bytes")
    run.layer("space_amp") = (bytes.toDouble / freshBytes, "ratio")
  }

  /** One catch-up's reads: class, SQL text and the check its rows must
    * pass.
    */
  final case class Step(maxSeq: Long, reads: Seq[(String, String, Seq[Row] => Boolean)])

  private val Table = "bench.analytics.orders"

  /** Generator side of the drain: the change log and, per catch-up
    * ending before file `ends(i)`, the reads with the answers the replay
    * gives once that catch-up's files are applied. Returns the replay of
    * the whole log and the LWW state after each catch-up.
    */
  private def writeReadSchedule(seed: Long, n: Long, spec: Gen.LogSpec, ends: IndexedSeq[Int],
      logDir: File, out: File): (Gen.Replay, IndexedSeq[collection.Map[Long, Gen.Order]]) = {
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    def image(rep: Gen.Replay, key: Long): String = rep.live.get(key) match {
      case Some(o) => s"""{"id":"${Gen.oid(key)}","live":true,"price_cents":${o.priceCents},"status":"${o.status}","n_items":${o.items.length}}"""
      case None => s"""{"id":"${Gen.oid(key)}","live":false}"""
    }
    val states = scala.collection.mutable.ArrayBuffer.empty[collection.Map[Long, Gen.Order]]
    val log = try {
      Gen.writeChangeLog(seed, n, spec, logDir, afterFile = (f, rep) => if (ends.contains(f + 1)) {
        val i = states.size
        states += rep.live.clone()
        val r = new Gen.Rng(seed * 104729 + i)
        // one lookup hits a hot key the log keeps rewriting, one any key
        val hot = 1 + (Gen.mix(seed + r.below(8)) & Long.MaxValue) % n
        val any = 1 + r.below(n.toInt).toLong
        val lo = 1 + r.below(math.max(1, n.toInt - 500)).toLong
        val hi = lo + 499
        val inRange = (lo to hi).count(rep.live.contains)
        val agg = rep.byStatus.toSeq.sortBy(_._1).filter(_._2._1 > 0)
          .map { case (s, (c, p)) => s""""$s":[$c,$p]""" }.mkString("{", ",", "}")
        w.println(s"""{"catch_up":$i,"max_seq":${rep.maxSeq},"points":[${image(rep, hot)},${image(rep, any)}],""" +
          s""""lo":"${Gen.oid(lo)}","hi":"${Gen.oid(hi)}","range_count":$inRange,"agg":$agg}""")
      })
    } finally w.close()
    (log, states.toIndexedSeq)
  }

  private def readSchedule(f: File): IndexedSeq[Step] = {
    val mapper = new ObjectMapper()
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map { line =>
      val j = mapper.readTree(line)
      val points = j.get("points").elements().asScala.map { p =>
        val check: Seq[Row] => Boolean =
          if (p.get("live").asBoolean()) rows => rows.size == 1 &&
            math.round(rows.head.getDouble(0) * 100) == p.get("price_cents").asLong() &&
            rows.head.getString(1) == p.get("status").asText() &&
            rows.head.getInt(2) == p.get("n_items").asInt()
          else rows => rows.isEmpty
        ("point", s"SELECT o_totalprice, o_orderstatus, size(items) FROM $Table WHERE _id = '${p.get("id").asText()}'",
          check)
      }.toSeq
      val rangeCount = j.get("range_count").asLong()
      val agg = j.get("agg").properties().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
      }.toMap
      Step(j.get("max_seq").asLong(), points ++ Seq(
        ("range", s"SELECT count(*) FROM $Table WHERE _id BETWEEN '${j.get("lo").asText()}' AND '${j.get("hi").asText()}'",
          (rows: Seq[Row]) => rows.head.getLong(0) == rangeCount),
        ("agg", s"SELECT o_orderstatus, count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)) FROM $Table GROUP BY o_orderstatus",
          (rows: Seq[Row]) => rows.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap == agg)))
    }.toIndexedSeq
    finally src.close()
  }

  // ------------------------------------------------------- index_ingest

  /** The ingest step Bench runs before its queries: a fresh session
    * builds each serving index through its `ensureBuilt` over a seeded
    * corpus (documents, embeddings, line items).
    *
    * Set-up, repeated three times: land a copy of the corpus, then build
    * the cheapest index (`PhashIndex`) over a small warm-up corpus, so
    * set-up carries the fixed cost every build shares. End to end:
    * corpus documents per second of the whole ingest step, and the
    * median build time of one index.
    */
  def indexIngest(run: Run): Unit = {
    import run.spark.implicits._
    val nDocs = sizeOf(500, run.args.scale).toInt.max(50)
    val warmDocs = 50
    val docs = Gen.documents(run.args.seed, nDocs)
    val emb = Gen.embeddings(run.args.seed, nDocs)
    val items = (1L to nDocs * 3L).iterator.flatMap { k =>
      Gen.order(run.args.seed, k).items.iterator.map(it => (k, it))
    }.toSeq
    run.inputs("documents") = nDocs.toLong
    run.inputs("lineitems") = items.size.toLong
    /** The corpus's first `n` documents and embeddings, and the line items of 3n orders. */
    def writeCorpus(dir: File, n: Int): Unit = {
      docs.take(n).map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(new File(dir, "documents.parquet").getPath)
      emb.take(n).map { case (id, v, l) => (id, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(new File(dir, "embeddings.parquet").getPath)
      items.filter(_._1 <= n * 3L).map { case (k, it) => (k, it.partkey, it.suppkey, it.line,
          it.quantity.toDouble, it.priceCents / 100.0, it.discountPct / 100.0, it.taxPct / 100.0,
          it.returnflag, it.linestatus, new java.sql.Timestamp(it.shipMs)) }
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
        .coalesce(1).write.parquet(new File(dir, "lineitem.parquet").getPath)
    }
    var dir: File = null
    for (i <- 0 until 3) run.setup {
      dir = new File(run.args.work, s"corpus-$i")
      writeCorpus(dir, nDocs)
      val warm = new File(run.args.work, s"warm-$i")
      writeCorpus(warm, warmDocs)
      graft.operators.PhashIndex.ensureBuilt(run.spark, warm.getPath)
    }
    val scratch = new File(System.getProperty("java.io.tmpdir"))
    val builds: Seq[(String, String => Unit)] = Seq(
      "shingle_index" -> (d => graft.operators.ShingleIndex.ensureBuilt(run.spark, d)),
      "cluster_index" -> (d => graft.operators.ClusterIndex.ensureBuilt(run.spark, d)),
      "lm_index" -> (d => graft.operators.LmIndex.ensureBuilt(run.spark, d)),
      "phash_index" -> (d => graft.operators.PhashIndex.ensureBuilt(run.spark, d)),
      "sketch_index" -> (d => graft.operators.SketchIndex.ensureBuilt(run.spark, d)),
      "line_index" -> (d => graft.operators.LineIndex.ensureBuilt(run.spark, d)),
      "wgram_index" -> (d => graft.operators.WgramIndex.ensureBuilt(run.spark, d)),
      "edge_index" -> (d => graft.operators.EdgeIndex.ensureBuilt(run.spark, d)))
    val buildMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var bad = 0L
    window(run) {
      for ((name, build) <- builds) {
        val before = icebergTables(scratch).toSet
        val t0 = System.nanoTime()
        val ok = try { run.trace.span(s"operators.$name")(build(dir.getPath)); true }
          catch { case e: Exception => run.gate(false, s"$name failed: $e") }
        buildMs += (System.nanoTime() - t0) / 1e6
        run.layer(s"operators.${name}_s") = (buildMs.last / 1000, "s")
        val made = icebergTables(scratch).filterNot(before)
        val rows = made.map(t => IceliteTable.load(run.spark, t._1, t._2, t._3).read().count())
        if (!(ok && run.gate(made.nonEmpty && rows.forall(_ > 0),
            s"$name left ${made.size} tables, row counts ${rows.mkString(",")}"))) bad += 1
      }
    }
    run.ops(builds.size, bad)
    val total = buildMs.sum / 1000
    report(run, nDocs / total, Stats.median(buildMs.toSeq))
    run.layer("ingest_s") = (total, "s")
  }

  /** Icelite tables under `root`: (warehouse, namespace, table) of
    * every directory holding a `metadata/v*.json`.
    */
  private def icebergTables(root: File): Seq[(String, String, String)] =
    if (!root.exists()) Nil
    else Files.walk(root.toPath).iterator().asScala
      .filter(p => p.getFileName.toString == "metadata" && Files.isDirectory(p))
      .filter(p => Files.list(p).iterator().asScala.exists(_.getFileName.toString.matches("v\\d+\\.json")))
      .map { md =>
        val t = md.getParent
        (t.getParent.getParent.toString, t.getParent.getFileName.toString, t.getFileName.toString)
      }.toSeq
}
