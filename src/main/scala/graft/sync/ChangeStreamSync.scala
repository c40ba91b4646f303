package graft.sync

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.config.CollectionSyncConfig
import graft.schema.{DocumentConverter, SchemaInfer}
import graft.table.IceliteTable
import graft.util.Phase

/** Steady-state change-stream processing (reference S2/S3/T7/R1-R6):
  * Structured Streaming over an ordered change-event log, applied to the
  * target table in idempotent micro-batches.
  *
  * Event envelope (FIXTURES.md §3, standing in for a MongoDB change
  * stream with fullDocument=UPDATE_LOOKUP): seq (total order ≈ resume
  * token), op (insert|update|replace|delete|drop|rename|invalidate),
  * _id, fullDocument (extended JSON post-image), clusterTime.
  *
  * Per micro-batch (reference steady-state loop):
  *  1. skip if batchId ≤ checkpointed lastBatchId (at-least-once replay
  *     neutralized — R4/R6);
  *  2. resolve in ONE pass over the batch (see `resolve`): events past
  *     the resume token, one aggregate by key keeping the last event
  *     (max seq — LWW within the batch) and the first control event,
  *     every post-image parsed against the table schema in the same
  *     executor pass, the result cached and all batch statistics
  *     fetched in one collect; a batch with a novel top-level key
  *     widens the table and is re-parsed;
  *  3. control events (drop/rename/invalidate) → checkpoint the
  *     rebuild obligation, flag re-initial-sync and stop (R7 state
  *     machine decides);
  *  4. ONE icelite commit carrying the equality-delete file for every
  *     touched key + the data file of final upsert images (the
  *     reference's "delete old + append new in one Iceberg txn"), both
  *     read from the cached frame; malformed post-images go to a
  *     dead-letter location instead;
  *  5. checkpoint row with the new resume token (max seq) + batch id.
  *
  * With `SPARK_GRAFT_PHASES=1` the steps time as `sync.resolve`,
  * `sync.apply` and `sync.checkpoint` (see [[graft.util.Phase]]).
  *
  * Flush thresholds (R5): flushIntervalSeconds → Trigger.ProcessingTime;
  * maxRecords/maxBytes map to source rate options (maxFilesPerTrigger
  * here; maxOffsets/maxBytesPerTrigger on rate-limited sources) — and
  * maxBytes is ALSO enforced downstream of the source: an oversized
  * micro-batch commits as byte-bounded key-hash sub-commits (see
  * `commitResolved`), so a burst can't produce an unbounded file.
  */
final class ChangeStreamSync(
    spark: SparkSession,
    cfg: CollectionSyncConfig,
    table: IceliteTable,
    checkpoints: CheckpointStore,
    sourceDatabase: String,
    metrics: SyncMetrics = SyncMetrics.global) {

  import ChangeStreamSync._

  private val syncId = cfg.target.qualifiedName
  @volatile private var invalidatedFlag = false
  private var batchesSinceMaintenance = 0

  /** True once a drop/rename/invalidate control event was seen — the
    * state machine must re-run initial sync (reference T7). The resume
    * point past the control event lives in the checkpointed rebuild
    * intent, not here.
    */
  def invalidated: Boolean = invalidatedFlag

  /** Re-arm after the orchestrator completed a rebuild. */
  def resetInvalidated(): Unit = invalidatedFlag = false

  /** Test seam: runs at the top of every micro-batch, before the
    * idempotence guard. Fault-injection specs throw here to exercise
    * the crash-mid-batch restart path; production leaves the no-op.
    */
  @volatile private[sync] var beforeBatch: Long => Unit = _ => ()

  /** Start the stream from an event-log directory of JSONL files. */
  def start(
      eventDir: String,
      streamCheckpointDir: String,
      availableNow: Boolean = false): StreamingQuery = {
    val events = spark.readStream
      .schema(EventSchema)
      .option("maxFilesPerTrigger", "10") // R5 records-per-batch analog
      .json(eventDir)
    val writer = events.writeStream
      .option("checkpointLocation", streamCheckpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch, batchId)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime(cfg.batch.flushIntervalSeconds * 1000)))
      .start()
  }

  /** Apply one micro-batch. Public for deterministic testing and for
    * batch-mode replay of an event log.
    */
  def processBatch(batch: Dataset[Row], batchId: Long): Unit = {
    // once invalidated, apply NOTHING further: later micro-batches may
    // carry post-drop events of a recreated collection that must only
    // land after the rebuild (ADVICE r1 — previously they were applied
    // to the stale table while the stream drained)
    if (invalidatedFlag) return
    val batchT0 = System.currentTimeMillis()
    // only batches that APPLIED events count toward changeApplyMs —
    // replayed/empty/control batches would deflate events-per-second
    // with wall time that moved zero events
    if (processBatchInner(batch, batchId))
      metrics.recordChangeApplyMs(syncId, System.currentTimeMillis() - batchT0)
  }

  /** True iff the batch applied at least one event to the table. */
  private def processBatchInner(batch: Dataset[Row], batchId: Long): Boolean = {
    beforeBatch(batchId)
    val prior = checkpoints.read(syncId)
    if (prior.exists(_.lastBatchId >= batchId)) return false // replayed batch (R6)

    val resumeFrom = prior.flatMap(_.resumeToken).getOrElse(-1L)
    // control events are resolved AFTER the resume-token filter so a
    // post-rebuild stream replaying the log does not re-trigger the
    // rebuild on the already-handled control event
    val fresh = batch.filter(col("seq") > resumeFrom)
    table.refresh() // pick up concurrent schema evolution

    val (resolved, stats) = Phase.timed("sync.resolve") {
      val (first, firstStats) = resolve(fresh)
      // a control batch applies nothing, so it never widens the table
      if (firstStats.ctrlSeq.isDefined || !firstStats.novel ||
          !releasingOnError(first)(evolve(first))) (first, firstStats)
      else {
        // the table widened: re-parse the batch against the new columns
        first.unpersist()
        resolve(fresh)
      }
    }
    try {
      if (stats.ctrlSeq.isDefined) {
        // record the rebuild OBLIGATION atomically before surfacing it:
        // state=INITIAL_SYNC with no high-water mark means "start from an
        // empty table" (InitialSync truncates on that signal), and
        // resumeToken=ctrlSeq retires every pre-drop event. Whatever
        // crashes after this single checkpoint write, restart recovery is
        // correct; if we crash before it, the stream batch is uncommitted
        // and the control event simply replays (R4 at-least-once).
        Phase.timed("sync.checkpoint")(checkpoints.write(CheckpointRecord(
          syncId, SyncState.InitialSync, sourceDatabase, cfg.source.collection,
          resumeToken = stats.ctrlSeq,
          highWaterMarkId = None,
          documentsProcessed = 0L,
          lastSnapshotId = table.meta.lastSeq,
          lastBatchId = -1L, // post-rebuild replay starts a fresh batch numbering
          updatedAtMs = System.currentTimeMillis())))
        invalidatedFlag = true // R7: invalidate ⇒ re-initial-sync
        return false
      }
      if (stats.nFinal == 0) return false

      Phase.timed("sync.apply")(commitResolved(resolved, stats, batchId))
      metrics.recordChangeEvents(syncId, stats.nFinal)

      Phase.timed("sync.checkpoint") {
        checkpoints.write(CheckpointRecord(
          syncId, SyncState.SteadyState, sourceDatabase, cfg.source.collection,
          resumeToken = Some(math.max(stats.maxSeq, resumeFrom)),
          highWaterMarkId = prior.flatMap(_.highWaterMarkId),
          documentsProcessed = prior.map(_.documentsProcessed).getOrElse(0L) + stats.nFinal,
          lastSnapshotId = table.meta.lastSeq,
          lastBatchId = batchId,
          updatedAtMs = System.currentTimeMillis()))

        // every checkpoint write is a full icelite commit (one data +
        // one delete file); fold them up periodically so checkpoint-table
        // metadata and delete files stay bounded over a long-lived stream
        batchesSinceMaintenance += 1
        if (batchesSinceMaintenance >= MaintenanceEvery) {
          batchesSinceMaintenance = 0
          checkpoints.maintain()
        }
      }
      true
    } finally resolved.unpersist()
  }

  /** The single pass over a micro-batch: last event per key, every
    * post-image parsed against the current table schema, cached, and
    * every batch statistic fetched in ONE collect. The frame is the
    * only input of everything downstream (images, delete keys, dead
    * letters, the maxBytes split), so the batch's change files are
    * scanned once.
    *
    * The key is the event `_id` cast to the table's `_id` type, so the
    * MoR anti-join compares natively (ADVICE r1: string event keys vs
    * numeric table ids would never match) and grouping on it is the
    * batch's one key dedup: the cast can merge distinct raw ids, which
    * then resolve to one last event instead of two images of one key.
    * The last event per key is `max(struct(seq, …))`: seq is a total
    * order, so the max struct is the last writer. Control events group
    * under a null key, apart from a null-keyed change event, and keep
    * their FIRST seq — the resume point past the control event.
    */
  private def resolve(fresh: DataFrame): (DataFrame, BatchStats) = {
    val isCtrl = col("op").isin(ControlOps.toSeq: _*)
    val last = fresh
      .filter(isCtrl || col("op").isin(ChangeOps: _*))
      .groupBy(isCtrl.as("_ctrl"),
        when(!isCtrl, col("_id").cast(table.schema("_id").dataType)).as("_id"))
      .agg(max(struct(col("seq"), col("op"), col("fullDocument"))).as("_last"),
        min(col("seq")).as("_first"))
      .select(col("_ctrl"), col("_id"),
        when(col("_ctrl"), col("_first")).otherwise(col("_last.seq")).as("seq"),
        col("_last.op").as("op"), col("_last.fullDocument").as("fullDocument"),
        length(col("_last.fullDocument")).as(BytesCol))
    val resolved = parseImages(last, table.schema, cfg.mapping).cache()
    val notCtrl = col(KindCol) =!= Control
    val s = releasingOnError(resolved)(resolved.agg(
      min(when(col(KindCol) === Control, col(SeqCol))),
      count(when(notCtrl, lit(1))),
      max(when(notCtrl, col(SeqCol))),
      sum(when(notCtrl, col(BytesCol))),
      count(when(col(KindCol) === Quarantined, lit(1))),
      max(col(NovelCol))).collect().head)
    def long(i: Int): Long = if (s.isNullAt(i)) 0L else s.getLong(i)
    (resolved, BatchStats(
      ctrlSeq = if (s.isNullAt(0)) None else Some(s.getLong(0)),
      nFinal = long(1), maxSeq = long(2), bytes = long(3), quarantined = long(4),
      novel = !s.isNullAt(5) && s.getBoolean(5)))
  }

  /** `body` over a cached frame that is released if `body` throws. */
  private def releasingOnError[T](cached: DataFrame)(body: => T): T =
    try body catch { case e: Throwable => cached.unpersist(); throw e }

  /** Commit a resolved, control-free batch: dead letters, then one
    * table commit (or byte-bounded sub-commits past maxBytes).
    */
  private def commitResolved(resolved: DataFrame, stats: BatchStats, batchId: Long): Unit = {
    // malformed post-images (reference hardening: quarantine, don't
    // poison the batch): one unparseable document must not fail —
    // and therefore retry forever — the whole micro-batch. Bad rows
    // go to a dead-letter location with their raw payload, count
    // into sync.quarantined, and their keys are EXCLUDED from the
    // delete set so the previous good image survives.
    if (stats.quarantined > 0) {
      resolved.filter(col(KindCol) === Quarantined)
        .select(col("_id").cast("string").as("_id"),
          col(RawCol).as("payload"), lit(batchId).as("batch_id"))
        .write.mode("append").json(s"${table.location}/_quarantine")
      metrics.recordQuarantined(syncId, stats.quarantined)
    }
    val images = resolved.filter(col(KindCol) === Image)
      .select(table.schema.fieldNames.toSeq.map(col): _*)
    // one row per table key already: resolve grouped on the cast key
    val deleteKeys = resolved.filter(col(KindCol).isin(Image, Tombstone)).select(col("_id"))
    // R5: batch.maxBytes is a hard flush bound in STEADY STATE too
    // (reference BatchConfig.java:9, design.md:383) — an oversized
    // micro-batch (burst after downtime, source without rate
    // limits) commits as byte-bounded sub-commits. The split is a
    // running byte prefix-sum in key order (a hash split only
    // bounds bytes in EXPECTATION and fails on a few huge docs):
    // each bucket packs contiguous keys up to maxBytes, overshooting
    // by at most one document — the same bound the chunked initial
    // sync gives. `resolved` carries ONE event per key, so every
    // key's image+delete land atomically in one sub-commit; a
    // crash mid-split replays the whole micro-batch (lastBatchId
    // is written after all splits), which the key-LWW upsert
    // absorbs — the same R4 at-least-once window every multi-
    // action batch has. The single-partition window is bounded by
    // the micro-batch itself (source-rate-limited; the split path
    // only runs past maxBytes).
    if (stats.bytes <= cfg.batch.maxBytes) {
      val t0 = System.currentTimeMillis()
      table.applyChanges(images, deleteKeys, Seq("_id"))
      metrics.recordCommit(syncId, System.currentTimeMillis() - t0)
    } else {
      val wB = org.apache.spark.sql.expressions.Window
        .orderBy(col("_id")).rowsBetween(Long.MinValue, 0)
      val buckets = resolved
        .select(col("_id"), coalesce(col(BytesCol).cast("long"), lit(64L)).as("_bytes"))
        .withColumn("_bucket",
          ((sum(col("_bytes")).over(wB) - 1) / cfg.batch.maxBytes).cast("long"))
        .select(col("_id"), col("_bucket"))
        .cache()
      try {
        val ids = buckets.select("_bucket").distinct()
          .collect().map(_.getLong(0)).sorted
        // the join is total by construction (buckets was built from
        // the same frame the images/deleteKeys derive from), but an
        // _id-equality mismatch (e.g. a cast asymmetry) would give a
        // null bucket and the row would match NO sub-commit — silent
        // data loss on the rarely-exercised split path. Route null
        // buckets into the first committed bucket so such a row
        // still commits (bucket ids need not start at 0: a first
        // doc larger than maxBytes starts at bucket >= 1).
        val fallbackBucket = ids.headOption.getOrElse(0L)
        val imagesB = images.join(buckets, Seq("_id"), "left")
          .withColumn("_bucket", coalesce(col("_bucket"), lit(fallbackBucket)))
        val deleteKeysB = deleteKeys.join(buckets, Seq("_id"), "left")
          .withColumn("_bucket", coalesce(col("_bucket"), lit(fallbackBucket)))
        for (b <- ids) {
          val t0 = System.currentTimeMillis()
          table.applyChanges(
            imagesB.filter(col("_bucket") === b).drop("_bucket"),
            deleteKeysB.filter(col("_bucket") === b).drop("_bucket"), Seq("_id"))
          metrics.recordCommit(syncId, System.currentTimeMillis() - t0)
        }
      } finally buckets.unpersist()
    }
  }

  /** Auto-mode schema evolution for a batch whose resolve pass flagged
    * a top-level key the table lacks (evolution can only add a column
    * whose top-level name is new). The flag is computed on the
    * executors while parsing, so steady state parses ZERO documents on
    * the driver; only a flagged batch runs the bounded driver-side
    * sample + [[SchemaInfer]] over its flagged post-images and adds
    * the new columns. True iff the table schema changed.
    */
  private def evolve(resolved: DataFrame): Boolean = {
    driverInfers.incrementAndGet()
    val mapper = new ObjectMapper()
    val sample = resolved.filter(col(NovelCol)).select(RawCol)
      .limit(SchemaInfer.DefaultSampleSize)
      .collect().iterator.map(r => mapper.readTree(r.getString(0)))
    val batchSchema = SchemaInfer.inferSample(sample)
    val newFields = batchSchema.fields.filterNot(f => table.schema.fieldNames.contains(f.name))
    if (newFields.nonEmpty) table.addColumns(StructType(newFields.toSeq))
    newFields.nonEmpty
  }
}

object ChangeStreamSync {

  /** Visible for tests: how many batches the resolve pass flagged with
    * an unseen top-level key, sending them into the driver-side
    * sample+infer path, in this JVM.
    */
  private[sync] val driverInfers = new java.util.concurrent.atomic.AtomicInteger(0)

  val EventSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("_id", StringType),
    StructField("fullDocument", StringType),
    StructField("clusterTime", TimestampType)))

  val ControlOps: Set[String] = Set("drop", "rename", "invalidate")

  /** Compact + expire the checkpoint table every this many committed
    * micro-batches (each batch writes one checkpoint upsert commit).
    */
  val MaintenanceEvery = 32

  /** Change ops that resolve to a per-key last event. */
  private val ChangeOps = Seq("insert", "update", "replace", "delete")

  /** What one resolved row is, in [[KindCol]]: a control event, a
    * parsed post-image, a delete (or an upsert without a post-image),
    * or a quarantined post-image (never applied).
    */
  private val Control = "control"
  private val Image = "image"
  private val Tombstone = "delete"
  private val Quarantined = "quarantined"

  /** Columns [[parseImages]] appends to the table schema. */
  private val KindCol = "_chg_kind"
  private val SeqCol = "_chg_seq"
  private val BytesCol = "_chg_bytes"
  /** True for a post-image with a top-level key the table lacks. */
  private val NovelCol = "_chg_novel"
  /** The raw post-image of a quarantined or novel-key row, else null. */
  private val RawCol = "_chg_raw"

  /** Every statistic of a resolved micro-batch, fetched in one collect. */
  private final case class BatchStats(
      ctrlSeq: Option[Long], // first control event's seq, if any
      nFinal: Long, // keys with a final change event
      maxSeq: Long,
      bytes: Long, // summed post-image length, for the maxBytes split
      quarantined: Long,
      novel: Boolean)

  /** Executor-side extended-JSON post-image → Row of the table schema
    * plus the [[KindCol]], [[SeqCol]], [[BytesCol]], [[NovelCol]] and
    * [[RawCol]] columns. Input: one resolved event per row, with
    * `_ctrl`, `_id` (already cast to the table's `_id` type), `seq`,
    * `op`, `fullDocument` and [[BytesCol]]. The event `_id` overrides
    * any `_id` inside the document so the upsert key is always the
    * change-stream key (ADVICE r1: the raw event string would corrupt
    * tables with non-string ids).
    *
    * Explicit-mode mappings apply the SAME projection/rename the
    * initial sync applied (reference T2): each target field is filled
    * by dot-path navigation of the post-image to its configured source
    * — resolving by target name alone would silently null every
    * renamed column on the steady-state path. Only auto mode flags
    * novel keys (explicit mode never evolves).
    *
    * A post-image that fails to parse or convert yields an all-null row
    * of kind [[Quarantined]] carrying the raw payload in [[RawCol]]
    * instead of throwing: a single malformed document classified
    * transient would otherwise put the whole micro-batch into
    * retry-forever.
    */
  private def parseImages(
      events: DataFrame,
      schema: StructType,
      mapping: graft.config.MappingConfig): DataFrame = {
    val outSchema = StructType(schema.fields ++ Seq(
      StructField(KindCol, StringType, nullable = false),
      StructField(SeqCol, LongType, nullable = false),
      StructField(BytesCol, IntegerType),
      StructField(NovelCol, BooleanType, nullable = false),
      StructField(RawCol, StringType)))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema, lenient = true)
    val idIdx = schema.fieldIndex("_id")
    val auto = mapping.mode == graft.config.MappingConfig.ModeAuto
    val known = schema.fieldNames.toSet
    // target field name -> dot-path in the source document
    val sourcePaths: Map[String, Seq[String]] =
      if (auto) Map.empty
      else mapping.fields.map(f => f.target -> f.source.split('.').toSeq).toMap
    events.select(col("_ctrl"), col("_id"), col("seq"), col("op"), col("fullDocument"),
        col(BytesCol))
      .mapPartitions { it =>
        val mapper = new ObjectMapper()
        it.map { r =>
          val json = r.getString(4)
          def out(values: Array[Any], kind: String, novel: Boolean, raw: String): Row = {
            values(idIdx) = r.get(1) // event key wins, already table-typed
            Row.fromSeq(values.toIndexedSeq ++ Seq(kind, r.getLong(2), r.get(5), novel, raw))
          }
          def empty = Array.fill[Any](schema.length)(null)
          if (r.getBoolean(0)) out(empty, Control, novel = false, null)
          else if (r.getString(3) == "delete" || json == null) out(empty, Tombstone, novel = false, null)
          else try {
            val doc = mapper.readTree(json)
            val values: Array[Any] =
              if (sourcePaths.isEmpty) DocumentConverter.toRow(doc, schema).toSeq.toArray
              else schema.fields.map { f =>
                val node = sourcePaths.get(f.name) match {
                  case Some(path) => path.foldLeft(doc: com.fasterxml.jackson.databind.JsonNode) {
                    (n, seg) => if (n != null && n.isObject) n.get(seg) else null
                  }
                  case None => if (doc.isObject) doc.get(f.name) else null
                }
                DocumentConverter.convert(node, f.dataType)
              }
            val novel = auto && doc != null && doc.isObject &&
              doc.fieldNames().asScala.exists(k => !known.contains(k))
            out(values, Image, novel, if (novel) json else null)
          } catch {
            case scala.util.control.NonFatal(_) => out(empty, Quarantined, novel = false, json)
          }
        }
      }
  }
}
