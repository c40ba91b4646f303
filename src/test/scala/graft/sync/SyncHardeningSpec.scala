package graft.sync

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.config._
import graft.table.IceliteTable

/** Round-3 hardening surface (reference decision table + plan hardening
  * items): resume-token expiration fallback, malformed-document
  * quarantine, concurrent multi-collection sync, retry-forever backoff
  * wiring, and the supervised ProcessingTime daemon path.
  */
class SyncHardeningSpec extends AnyFunSuite with SparkFixture {

  /** Spark jobs one clean micro-batch runs: four for the resolve pass
    * (the key aggregate's shuffle, the cache build, and the statistics
    * aggregate's two stages), then the data and delete-key writes of
    * its commit.
    */
  private val MaxJobsPerBatch = 6

  private def oid(i: Int): String = f"65f1a2b3c4d5e6f7a8b9c$i%03x"

  private def writeFixture(root: Path, db: String, coll: String, docs: Seq[String]): Unit = {
    val dir = root.resolve(db)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"$coll.jsonl"), docs.mkString("", "\n", "\n"))
  }

  private def writeChanges(root: Path, db: String, coll: String, batch: String, events: Seq[String]): Unit = {
    val dir = root.resolve(db).resolve(s"$coll.changes")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"$batch.json"), events.mkString("", "\n", "\n"))
  }

  private def doc(i: Int, total: String, tier: String): String = {
    val day = f"${(i % 27) + 1}%02d"
    s"""{"_id":{"$$oid":"${oid(i)}"},"total":{"$$numberDecimal":"$total"},"customer":{"name":"c$i","tier":"$tier"},"orderDate":{"$$date":"2024-01-${day}T00:00:00Z"}}"""
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def upd(seq: Int, i: Int, total: String, tier: String): String =
    s"""{"seq":$seq,"op":"update","_id":"${oid(i)}","fullDocument":${jstr(doc(i, total, tier))},"clusterTime":"2024-02-01T00:00:0$seq.000Z"}"""

  private def config(root: Path, wh: String, colls: Seq[String] = Seq("orders")): SyncConfig = SyncConfig(
    MongoConfig(root.toString, "shop"),
    IcebergConfig(CatalogConfig("local", warehouse = Some(wh))),
    SyncSection(colls.map(c => CollectionSyncConfig(
      SourceConfig(c),
      TargetConfig("analytics", c),
      batch = BatchConfig(maxRecords = 8, maxBytes = 1 << 20, flushIntervalSeconds = 1)))))

  private def tierOf(t: IceliteTable, i: Int): String =
    t.read().filter(col("_id") === oid(i)).select("customer.tier").collect().head.getString(0)

  test("expired resume token (truncated change-log head) falls back to full rebuild") {
    val root = Files.createTempDirectory("sync-exp")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 10).map(i => doc(i, s"$i.00", "gold")))
    writeChanges(root, "shop", "orders", "b0", Seq(
      upd(1, 1, "1.11", "plat"),
      upd(2, 2, "2.22", "plat")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val t1 = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    assert(tierOf(t1, 1) == "plat")
    assert(orch.checkpoints.read("analytics.orders").get.resumeToken.contains(2L))

    // the oplog window moves on: events 3..9 are LOST (head truncated),
    // the source snapshot reflects them (doc2 updated again), and only
    // seq >= 10 is retained
    Files.delete(root.resolve("shop").resolve("orders.changes").resolve("b0.json"))
    writeFixture(root, "shop", "orders", (1 to 10).map { i =>
      if (i == 2) doc(2, "99.99", "diamond") else doc(i, s"$i.00", "gold")
    })
    writeChanges(root, "shop", "orders", "b1", Seq(upd(10, 3, "3.33", "silver")))

    val orch2 = new SyncOrchestrator(spark, cfg, wh)
    val t2 = orch2.syncCollection(c, Files.createTempDirectory("ck").toString)
    // rebuild happened: a truncate snapshot exists and the lost-window
    // update arrived via the fresh snapshot, not the (gone) events
    assert(t2.meta.snapshots.exists(_.operation == "truncate") ||
      t2.meta.snapshots.map(_.operation) == Seq("rewrite"))
    assert(tierOf(t2, 2) == "diamond")
    assert(tierOf(t2, 3) == "silver") // retained tail still applied
    assert(t2.read().count() == 10)
    val cp = orch2.checkpoints.read("analytics.orders").get
    assert(cp.state == SyncState.SteadyState && cp.resumeToken.contains(10L))
  }

  test("unexpired token does NOT trigger a rebuild (no false positives)") {
    assert(!SyncStateMachine.tokenExpired(Some(5L), Some(6L))) // next event retained
    assert(!SyncStateMachine.tokenExpired(Some(5L), Some(3L))) // log head behind token
    assert(!SyncStateMachine.tokenExpired(None, Some(9L)))     // no token yet
    assert(!SyncStateMachine.tokenExpired(Some(5L), None))     // empty/unknown log
    assert(SyncStateMachine.tokenExpired(Some(5L), Some(7L)))  // seq 6 lost
  }

  test("malformed post-image is quarantined: batch commits good rows, metric counts, old image survives") {
    val root = Files.createTempDirectory("sync-q")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 5).map(i => doc(i, s"$i.00", "gold")))
    writeChanges(root, "shop", "orders", "b0", Seq(
      upd(1, 1, "1.11", "plat"),
      s"""{"seq":2,"op":"update","_id":"${oid(2)}","fullDocument":${jstr("{definitely not json")},"clusterTime":"2024-02-01T00:00:02.000Z"}""",
      s"""{"seq":3,"op":"delete","_id":"${oid(4)}","fullDocument":null,"clusterTime":"2024-02-01T00:00:03.000Z"}"""))
    val metrics = new SyncMetrics
    val orch = new SyncOrchestrator(spark, cfg, wh, metrics, retrySleep = _ => (), retryMaxAttempts = 3)
    val t = orch.syncCollection(c, Files.createTempDirectory("ck").toString)

    assert(tierOf(t, 1) == "plat")              // good row applied
    assert(tierOf(t, 2) == "gold")              // quarantined: previous image intact
    assert(t.read().count() == 4)               // delete applied; nothing else lost
    assert(metrics.of("analytics.orders").quarantined.sum() == 1)
    // token advanced PAST the poison event — no retry-forever loop
    assert(orch.checkpoints.read("analytics.orders").get.resumeToken.contains(3L))
    // dead letter carries the raw payload
    val dead = spark.read.json(s"${t.location}/_quarantine")
    assert(dead.count() == 1)
    assert(dead.select("payload").collect().head.getString(0).startsWith("{definitely"))
    assert(metrics.asDataFrame(spark)
      .filter(col("sync_id") === "analytics.orders")
      .select("documents_quarantined").collect().head.getLong(0) == 1)
  }

  test("schema-evolution probe: a no-new-key batch parses zero documents on the driver") {
    val root = Files.createTempDirectory("sync-evp")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 5).map(i => doc(i, s"$i.00", "gold")))
    writeChanges(root, "shop", "orders", "b0", Seq(upd(1, 1, "1.11", "plat")))
    val before = ChangeStreamSync.driverInfers.get()
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val t1 = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    assert(tierOf(t1, 1) == "plat")
    assert(ChangeStreamSync.driverInfers.get() == before,
      "a batch with only known keys hit the driver-side sample+infer path")

    // a post-image carrying a NOVEL top-level key falls through the
    // probe exactly once: column added, value applied
    val novelDoc = s"""{"_id":{"$$oid":"${oid(2)}"},"total":{"$$numberDecimal":"2.22"},""" +
      s""""customer":{"name":"c2","tier":"plat"},"orderDate":{"$$date":"2024-01-02T00:00:00Z"},""" +
      s""""loyalty_points":{"$$numberLong":"42"}}"""
    writeChanges(root, "shop", "orders", "b1", Seq(
      s"""{"seq":2,"op":"update","_id":"${oid(2)}","fullDocument":${jstr(novelDoc)},"clusterTime":"2024-02-01T00:00:02.000Z"}"""))
    val orch2 = new SyncOrchestrator(spark, cfg, wh)
    val t2 = orch2.syncCollection(c, Files.createTempDirectory("ck").toString)
    assert(ChangeStreamSync.driverInfers.get() == before + 1,
      "a novel-key batch must trigger exactly one driver-side infer")
    assert(t2.schema.fieldNames.contains("loyalty_points"))
    assert(t2.read().filter(col("_id") === oid(2))
      .select("loyalty_points").collect().head.getLong(0) == 42L)
  }

  /** N change events over 1..6 with repeated keys, a delete and a
    * re-insert, split over three change files; no novel key.
    */
  private def singlePassFixture(root: Path): Int = {
    def ins(seq: Int, i: Int, tier: String): String =
      s"""{"seq":$seq,"op":"insert","_id":"${oid(i)}","fullDocument":${jstr(doc(i, s"$seq.00", tier))},"clusterTime":"2024-02-01T00:00:00.000Z"}"""
    def del(seq: Int, i: Int): String =
      s"""{"seq":$seq,"op":"delete","_id":"${oid(i)}","fullDocument":null,"clusterTime":"2024-02-01T00:00:00.000Z"}"""
    val files = Seq(
      Seq(upd(1, 1, "1.11", "plat"), upd(2, 2, "2.22", "plat"), del(3, 3)),
      Seq(upd(4, 1, "1.44", "silver"), ins(5, 3, "bronze"), upd(6, 4, "4.66", "plat")),
      Seq(del(7, 5), upd(8, 1, "1.88", "diamond"), ins(9, 7, "gold")))
    files.zipWithIndex.foreach { case (ev, i) => writeChanges(root, "shop", "orders", s"b$i", ev) }
    files.map(_.size).sum
  }

  test("single pass: an availableNow drain scans each change event once") {
    val root = Files.createTempDirectory("sync-1p")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 6).map(i => doc(i, s"$i.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    val n = singlePassFixture(root)
    val q = new ChangeStreamSync(spark, c, table, orch.checkpoints, "shop").start(
      root.resolve("shop").resolve("orders.changes").toString,
      Files.createTempDirectory("ck").toString, availableNow = true)
    q.awaitTermination()
    val rows = q.recentProgress.map(_.numInputRows).sum
    info(s"numInputRows over the drain: $rows for $n events")
    assert(rows == n, s"the drain read $rows rows for $n logged events")
    assert(tierOf(table, 1) == "diamond" && tierOf(table, 3) == "bronze" && tierOf(table, 7) == "gold")
    assert(table.read().count() == 6) // 1..6 + 7 - 5
    assert(orch.checkpoints.read("analytics.orders").get.resumeToken.contains(9L))
  }

  test("single pass: one processBatch call runs a bounded number of Spark jobs") {
    val root = Files.createTempDirectory("sync-jobs")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 6).map(i => doc(i, s"$i.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    singlePassFixture(root)
    val batch = spark.read.schema(ChangeStreamSync.EventSchema)
      .json(root.resolve("shop").resolve("orders.changes").toString)
    val cs = new ChangeStreamSync(spark, c, table, orch.checkpoints, "shop")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      cs.processBatch(batch, batchId = 0)
      org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"Spark jobs in one processBatch: ${jobs.get}")
    assert(jobs.get <= MaxJobsPerBatch, s"${jobs.get} jobs for one micro-batch")
    assert(tierOf(table, 1) == "diamond" && table.read().count() == 6)
  }

  test("concurrent syncAll: collections sync in parallel with independent checkpoints") {
    val root = Files.createTempDirectory("sync-par")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh, Seq("orders", "customers"))
    writeFixture(root, "shop", "orders", (1 to 20).map(i => doc(i, s"$i.00", "gold")))
    writeFixture(root, "shop", "customers", (1 to 12).map(i => doc(i, s"$i.50", "silver")))
    writeChanges(root, "shop", "orders", "b0", Seq(upd(1, 1, "1.11", "plat")))
    writeChanges(root, "shop", "customers", "b0", Seq(
      s"""{"seq":1,"op":"delete","_id":"${oid(12)}","fullDocument":null,"clusterTime":"2024-02-01T00:00:01.000Z"}"""))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val tables = orch.syncAll(Files.createTempDirectory("ck").toString, parallelism = 2)
    assert(tables.keySet == Set("analytics.orders", "analytics.customers"))
    assert(tables("analytics.orders").read().count() == 20)
    assert(tierOf(tables("analytics.orders"), 1) == "plat")
    assert(tables("analytics.customers").read().count() == 11)
    val cpO = orch.checkpoints.read("analytics.orders").get
    val cpC = orch.checkpoints.read("analytics.customers").get
    assert(cpO.state == SyncState.SteadyState && cpO.resumeToken.contains(1L))
    assert(cpC.state == SyncState.SteadyState && cpC.resumeToken.contains(1L))
    assert(cpO.documentsProcessed >= 20 && cpC.documentsProcessed >= 12)
  }

  test("transient stream failure retries with backoff and resumes from the same checkpoint") {
    val root = Files.createTempDirectory("sync-retry")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 6).map(i => doc(i, s"$i.00", "gold")))
    writeChanges(root, "shop", "orders", "b0", Seq(
      upd(1, 1, "1.11", "plat"),
      upd(2, 2, "2.22", "plat")))
    val sleeps = ArrayBuffer.empty[Long]
    val metrics = new SyncMetrics
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val orch = new SyncOrchestrator(spark, cfg, wh, metrics,
        retrySleep = ms => sleeps += ms, retryMaxAttempts = 5) {
      override protected def newChangeStream(cc: CollectionSyncConfig, table: IceliteTable): ChangeStreamSync = {
        val cs = super.newChangeStream(cc, table)
        cs.beforeBatch = _ =>
          if (armed.getAndSet(false)) throw new RuntimeException("injected transient failure")
        cs
      }
    }
    val t = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    assert(tierOf(t, 1) == "plat" && tierOf(t, 2) == "plat") // converged after restart
    assert(sleeps.nonEmpty && sleeps.head == 1000L)          // reference backoff curve
    assert(metrics.of("analytics.orders").errors.sum() >= 1)
    assert(orch.checkpoints.read("analytics.orders").get.resumeToken.contains(2L))
  }

  test("supervised ProcessingTime daemon: survives a mid-stream failure, resumes, stops cleanly") {
    val root = Files.createTempDirectory("sync-daemon")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 4).map(i => doc(i, s"$i.00", "gold")))
    // no change log yet: first pass is pure initial sync
    val orch0 = new SyncOrchestrator(spark, cfg, wh)
    val table = orch0.syncCollection(c, Files.createTempDirectory("ck").toString)
    assert(table.read().count() == 4)

    writeChanges(root, "shop", "orders", "b0", Seq(
      upd(1, 1, "1.11", "plat"),
      upd(2, 3, "3.33", "plat")))
    val sleeps = ArrayBuffer.empty[Long]
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val orch = new SyncOrchestrator(spark, cfg, wh, new SyncMetrics,
        retrySleep = ms => sleeps += ms, retryMaxAttempts = 10) {
      override protected def newChangeStream(cc: CollectionSyncConfig, tbl: IceliteTable): ChangeStreamSync = {
        val cs = super.newChangeStream(cc, tbl)
        cs.beforeBatch = _ =>
          if (armed.getAndSet(false)) throw new RuntimeException("injected daemon failure")
        cs
      }
    }
    val deadline = System.currentTimeMillis() + 120000
    orch.superviseSteadyState(c, table, Files.createTempDirectory("ck").toString,
      stopWhen = () => System.currentTimeMillis() > deadline ||
        orch.checkpoints.read("analytics.orders").flatMap(_.resumeToken).contains(2L),
      pollMs = 100)
    assert(System.currentTimeMillis() < deadline, "daemon did not converge before deadline")
    assert(orch.checkpoints.read("analytics.orders").get.resumeToken.contains(2L))
    assert(tierOf(table, 1) == "plat" && tierOf(table, 3) == "plat")
    assert(sleeps.nonEmpty) // the injected failure went through backoff
  }

  test("daemon scheduled maintenance: cold compaction runs under a live stream, state intact") {
    val root = Files.createTempDirectory("sync-maint")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 4).map(i => doc(i, s"$i.00", "gold")))
    val orch0 = new SyncOrchestrator(spark, cfg, wh)
    val table = orch0.syncCollection(c, Files.createTempDirectory("ck").toString)

    // the daemon applies two batches in SEPARATE micro-batches (the
    // second file appears only after the first is checkpointed), so
    // with the initial-sync commit a cold prefix forms behind the
    // default 2-commit hot tail while the stream is still live
    writeChanges(root, "shop", "orders", "b1", Seq(upd(1, 1, "1.11", "plat")))
    val wrote2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val orch = new SyncOrchestrator(spark, cfg, wh, new SyncMetrics, retrySleep = _ => ())
    val deadline = System.currentTimeMillis() + 120000
    orch.superviseSteadyState(c, table, Files.createTempDirectory("ck").toString,
      stopWhen = () => {
        val tok = orch.checkpoints.read("analytics.orders").flatMap(_.resumeToken)
        if (tok.contains(1L) && wrote2.compareAndSet(false, true))
          writeChanges(root, "shop", "orders", "b2", Seq(upd(2, 2, "2.22", "plat")))
        System.currentTimeMillis() > deadline ||
          (tok.contains(2L) && table.meta.snapshots.exists(_.operation == "rewrite-cold"))
      },
      pollMs = 50, maintenanceIntervalMs = 1)
    assert(System.currentTimeMillis() < deadline, "daemon did not converge before deadline")
    assert(table.meta.snapshots.exists(_.operation == "rewrite-cold"))
    assert(tierOf(table, 1) == "plat" && tierOf(table, 2) == "plat")
    assert(table.read().count() == 4)
    // reload from disk: the maintained metadata is the published truth
    assert(IceliteTable.load(spark, wh, c.target.namespace, c.target.table)
      .read().count() == 4)
  }

  test("isTransient classifies through wrapper cause chains (streaming exceptions)") {
    import SyncStateMachine.isTransient
    assert(isTransient(new RuntimeException("io blip")))
    assert(!isTransient(new IllegalArgumentException("bad config")))
    // a fatal root cause wrapped the way Structured Streaming wraps
    // foreachBatch failures must classify FATAL, not retry forever
    assert(!isTransient(new RuntimeException("stream failed",
      new RuntimeException("task failed", new IllegalArgumentException("fatal root")))))
    assert(isTransient(new RuntimeException("stream failed",
      new RuntimeException("executor lost"))))
  }

  test("daemon rebuilds inline on a control event instead of stalling invalidated") {
    val root = Files.createTempDirectory("sync-dinv")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 4).map(i => doc(i, s"$i.00", "gold")))
    val orch0 = new SyncOrchestrator(spark, cfg, wh)
    val table = orch0.syncCollection(c, Files.createTempDirectory("ck").toString)

    // drop mid-log, then a post-recreate update: the daemon must
    // rebuild and still apply the tail, not poll a stalled stream
    writeChanges(root, "shop", "orders", "b0", Seq(
      upd(1, 1, "1.11", "plat"),
      s"""{"seq":2,"op":"drop","_id":null,"fullDocument":null,"clusterTime":"2024-02-01T00:00:02.000Z"}""",
      upd(3, 2, "2.22", "silver")))
    val orch = new SyncOrchestrator(spark, cfg, wh, new SyncMetrics, retrySleep = _ => (), retryMaxAttempts = 5)
    val deadline = System.currentTimeMillis() + 120000
    orch.superviseSteadyState(c, table, Files.createTempDirectory("ck").toString,
      stopWhen = () => System.currentTimeMillis() > deadline ||
        orch.checkpoints.read("analytics.orders").flatMap(_.resumeToken).contains(3L),
      pollMs = 100)
    assert(System.currentTimeMillis() < deadline, "daemon did not converge before deadline")
    assert(table.meta.snapshots.exists(_.operation == "truncate")) // rebuild ran
    assert(tierOf(table, 1) == "gold")   // pre-drop update retired by the rebuild
    assert(tierOf(table, 2) == "silver") // post-drop tail applied
    assert(table.read().count() == 4)
  }

  test("withRetry reports the TERMINAL failure to onError (fatal and exhausted)") {
    var errs = 0
    intercept[IllegalArgumentException] {
      SyncStateMachine.withRetry(maxAttempts = 5, sleep = _ => (), onError = _ => errs += 1)(
        throw new IllegalArgumentException("fatal"))
    }
    assert(errs == 1) // fatal: counted exactly once, no retries
    errs = 0
    intercept[RuntimeException] {
      SyncStateMachine.withRetry(maxAttempts = 3, sleep = _ => (), onError = _ => errs += 1)(
        throw new RuntimeException("always transient"))
    }
    assert(errs == 3) // 2 retried + 1 terminal
  }
}
