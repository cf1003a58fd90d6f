package graft.sync

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.config.CollectionSyncConfig
import graft.schema.{DocumentConverter, DocumentSource, SchemaInfer}
import graft.table.IceliteTable

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
  *  2. resolve the final event per key (last by seq — LWW within batch);
  *  3. ONE icelite commit carrying the equality-delete file for every
  *     touched key + the data file of final upsert images (the
  *     reference's "delete old + append new in one Iceberg txn");
  *  4. checkpoint row with the new resume token (max seq) + batch id;
  *  5. control events (drop/rename/invalidate) → flag re-initial-sync
  *     and stop (R7 state machine decides).
  *
  * Flush thresholds (R5): flushIntervalSeconds → Trigger.ProcessingTime;
  * maxRecords/maxBytes map to source rate options (maxFilesPerTrigger
  * here; maxOffsets/maxBytesPerTrigger on rate-limited sources) — and
  * maxBytes is ALSO enforced downstream of the source: an oversized
  * micro-batch commits as byte-bounded key-hash sub-commits (see
  * processBatchInner), so a burst can't produce an unbounded file.
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
    val fresh = batch.filter(col("seq") > resumeFrom)

    // control events are detected AFTER the resume-token filter so a
    // post-rebuild stream replaying the log does not re-trigger the
    // rebuild on the already-handled control event. The same aggregate
    // counts the change events the batch consumes, before the per-key
    // LWW fold below.
    val ctrl = fresh.agg(
      min(when(col("op").isin(ControlOps.toSeq: _*), col("seq"))),
      count(when(col("op").isin(ChangeOps: _*), lit(1)))).collect().head
    if (!ctrl.isNullAt(0)) {
      val ctrlSeq = ctrl.getLong(0)
      // record the rebuild OBLIGATION atomically before surfacing it:
      // state=INITIAL_SYNC with no high-water mark means "start from an
      // empty table" (InitialSync truncates on that signal), and
      // resumeToken=ctrlSeq retires every pre-drop event. Whatever
      // crashes after this single checkpoint write, restart recovery is
      // correct; if we crash before it, the stream batch is uncommitted
      // and the control event simply replays (R4 at-least-once).
      checkpoints.write(CheckpointRecord(
        syncId, SyncState.InitialSync, sourceDatabase, cfg.source.collection,
        resumeToken = Some(ctrlSeq),
        highWaterMarkId = None,
        documentsProcessed = 0L,
        lastSnapshotId = table.meta.lastSeq,
        lastBatchId = -1L, // post-rebuild replay starts a fresh batch numbering
        updatedAtMs = System.currentTimeMillis()))
      invalidatedFlag = true // R7: invalidate ⇒ re-initial-sync
      return false
    }

    // final event per key by change order (LWW within the batch)
    val nEvents = ctrl.getLong(1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(desc("seq"))
    val finals = fresh
      .filter(col("op").isin(ChangeOps: _*))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .cache()
    try {
      val stats = finals.agg(
        count(lit(1)).as("n"), max(col("seq")).as("maxSeq"),
        sum(length(col("fullDocument"))).as("bytes")).collect().head
      val nFinal = stats.getLong(0)
      if (nFinal == 0) return false
      val maxSeq = stats.getLong(1)
      val totalBytes = if (stats.isNullAt(2)) 0L else stats.getLong(2)

      table.refresh() // pick up concurrent schema evolution

      // upsert images: parse extended-JSON post-image against the table
      // schema on the executors; schema evolution: new fields in this
      // batch widen the table first (metadata-only, design §evolution)
      val upserts = finals.filter(col("op") =!= "delete")
        .select(col("_id").as("_change_id"), col("seq"), col("fullDocument"))
      val evolved = maybeEvolve(upserts)
      val idType = evolved.schema("_id").dataType
      val parsed = parseImages(spark, upserts, evolved.schema, idType, cfg.mapping).cache()

      try {
        // malformed post-images (reference hardening: quarantine, don't
        // poison the batch): one unparseable document must not fail —
        // and therefore retry forever — the whole micro-batch. Bad rows
        // go to a dead-letter location with their raw payload, count
        // into sync.quarantined, and their keys are EXCLUDED from the
        // delete set so the previous good image survives.
        val bad = parsed.filter(col(QuarantineCol).isNotNull)
        val badCount = bad.count()
        if (badCount > 0) {
          bad.select(col("_id").cast("string").as("_id"),
              col(QuarantineCol).as("payload"), lit(batchId).as("batch_id"))
            .write.mode("append").json(s"${evolved.location}/_quarantine")
          metrics.recordQuarantined(syncId, badCount)
        }
        val images = parsed.filter(col(QuarantineCol).isNull).drop(QuarantineCol)

        // delete keys conform to the table's _id type so the MoR
        // anti-join compares natively (ADVICE r1: string event keys vs
        // numeric table ids would never match)
        val allKeys = finals.select(col("_id").cast(idType).as("_id")).dropDuplicates("_id")
        val deleteKeys =
          if (badCount == 0) allKeys
          else allKeys.join(bad.select(col("_id")), Seq("_id"), "left_anti")
        // R5: batch.maxBytes is a hard flush bound in STEADY STATE too
        // (reference BatchConfig.java:9, design.md:383) — an oversized
        // micro-batch (burst after downtime, source without rate
        // limits) commits as byte-bounded sub-commits. The split is a
        // running byte prefix-sum in key order (a hash split only
        // bounds bytes in EXPECTATION and fails on a few huge docs):
        // each bucket packs contiguous keys up to maxBytes, overshooting
        // by at most one document — the same bound the chunked initial
        // sync gives. `finals` carries ONE event per key, so every
        // key's image+delete land atomically in one sub-commit; a
        // crash mid-split replays the whole micro-batch (lastBatchId
        // is written after all splits), which the key-LWW upsert
        // absorbs — the same R4 at-least-once window every multi-
        // action batch has. The single-partition window is bounded by
        // the micro-batch itself (source-rate-limited; the split path
        // only runs past maxBytes).
        if (totalBytes <= cfg.batch.maxBytes) {
          val t0 = System.currentTimeMillis()
          evolved.applyChanges(images, deleteKeys, Seq("_id"))
          metrics.recordCommit(syncId, System.currentTimeMillis() - t0)
        } else {
          val wB = org.apache.spark.sql.expressions.Window
            .orderBy(col("_id")).rowsBetween(Long.MinValue, 0)
          val buckets = finals
            .select(col("_id").cast(idType).as("_id"),
              coalesce(length(col("fullDocument")).cast("long"), lit(64L)).as("_bytes"))
            .withColumn("_bucket",
              ((sum(col("_bytes")).over(wB) - 1) / cfg.batch.maxBytes).cast("long"))
            .select(col("_id"), col("_bucket"))
            .cache()
          try {
            val ids = buckets.select("_bucket").distinct()
              .collect().map(_.getLong(0)).sorted
            // the join is total by construction (buckets was built from
            // the same finals the images/deleteKeys derive from), but an
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
              evolved.applyChanges(
                imagesB.filter(col("_bucket") === b).drop("_bucket"),
                deleteKeysB.filter(col("_bucket") === b).drop("_bucket"), Seq("_id"))
              metrics.recordCommit(syncId, System.currentTimeMillis() - t0)
            }
          } finally buckets.unpersist()
        }
        metrics.recordChangeEvents(syncId, nEvents)
      } finally parsed.unpersist()

      checkpoints.write(CheckpointRecord(
        syncId, SyncState.SteadyState, sourceDatabase, cfg.source.collection,
        resumeToken = Some(math.max(maxSeq, resumeFrom)),
        highWaterMarkId = prior.flatMap(_.highWaterMarkId),
        documentsProcessed = prior.map(_.documentsProcessed).getOrElse(0L) + nFinal,
        lastSnapshotId = evolved.meta.lastSeq,
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
      true
    } finally finals.unpersist()
  }

  /** Auto-mode schema evolution: infer the new columns from a bounded
    * sample of this batch's post-images and add them (explicit mode
    * skips with the reference's log-and-ignore behavior).
    *
    * Evolution can only add a column whose top-level name is new, so
    * the sample is drawn only from post-images that CARRY an unseen
    * key, found executor-side by their `json_object_keys` (codegen'd
    * scan, no driver JSON parsing). A rare new field therefore reaches
    * inference wherever it sits in the batch, and steady state pays
    * one filtered scan per batch while the driver parses ZERO
    * documents.
    */
  private def maybeEvolve(upserts: DataFrame): IceliteTable = {
    if (cfg.mapping.mode != graft.config.MappingConfig.ModeAuto) return table
    val known = table.schema.fieldNames.toSeq
    // malformed JSON → json_object_keys yields null → the row is not a
    // carrier; quarantine happens downstream in parseImages either way
    val carriers = upserts
      .filter(exists(expr("json_object_keys(fullDocument)"), k => !k.isin(known: _*)))
      .select("fullDocument").limit(SchemaInfer.DefaultSampleSize).collect()
    if (carriers.isEmpty) return table
    driverInfers.incrementAndGet()
    val mapper = new ObjectMapper()
    // malformed post-images are skipped here and quarantined downstream
    // in parseImages — inference must not poison the batch first
    val sample = carriers.iterator.flatMap(r => Option(r.getString(0)))
      .flatMap(j => scala.util.Try(mapper.readTree(j)).toOption)
    val batchSchema = SchemaInfer.inferSample(sample)
    val newFields = batchSchema.fields.filterNot(f => table.schema.fieldNames.contains(f.name))
    if (newFields.nonEmpty) table.addColumns(StructType(newFields.toSeq))
    table
  }
}

object ChangeStreamSync {

  /** Visible for tests: how many batches fell through the unseen-key
    * probe into the driver-side sample+infer path in this JVM.
    */
  private[sync] val driverInfers = new java.util.concurrent.atomic.AtomicInteger(0)

  val EventSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("_id", StringType),
    StructField("fullDocument", StringType),
    StructField("clusterTime", TimestampType)))

  val ControlOps: Set[String] = Set("drop", "rename", "invalidate")

  /** Row-level change operations; every other op is ignored. */
  val ChangeOps: Seq[String] = Seq("insert", "update", "replace", "delete")

  /** Compact + expire the checkpoint table every this many committed
    * micro-batches (each batch writes one checkpoint upsert commit).
    */
  val MaintenanceEvery = 32

  /** Marker column appended by [[parseImages]]: null for a cleanly
    * parsed post-image, the raw payload for a malformed one (the row is
    * then quarantined, never applied).
    */
  private[sync] val QuarantineCol = "_bad_json"

  /** Executor-side extended-JSON post-image → Row of the table schema
    * plus the [[QuarantineCol]] marker. The event `_id` overrides any
    * `_id` inside the document so the upsert key is always the
    * change-stream key, cast to the table's `_id` type (ADVICE r1: the
    * raw event string would corrupt tables with non-string ids).
    *
    * Explicit-mode mappings apply the SAME projection/rename the
    * initial sync applied (reference T2): each target field is filled
    * by dot-path navigation of the post-image to its configured source
    * — resolving by target name alone would silently null every
    * renamed column on the steady-state path.
    *
    * A post-image that fails to parse or convert yields an all-null row
    * carrying the raw payload in [[QuarantineCol]] instead of throwing:
    * a single malformed document classified transient would otherwise
    * put the whole micro-batch into retry-forever.
    */
  private[sync] def parseImages(
      spark: SparkSession,
      upserts: DataFrame,
      schema: StructType,
      idType: DataType,
      mapping: graft.config.MappingConfig): DataFrame = {
    val outSchema = schema.add(StructField(QuarantineCol, StringType))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(outSchema, lenient = true)
    val idIdx = schema.fieldIndex("_id")
    // target field name -> dot-path in the source document
    val sourcePaths: Map[String, Seq[String]] =
      if (mapping.mode == graft.config.MappingConfig.ModeAuto) Map.empty
      else mapping.fields.map(f => f.target -> f.source.split('.').toSeq).toMap
    upserts.select(col("_change_id").cast(idType).as("_change_id"), col("fullDocument"))
      .mapPartitions { it =>
        val mapper = new ObjectMapper()
        it.flatMap { r =>
          Option(r.getString(1)).map { json =>
            try {
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
              values(idIdx) = r.get(0) // event key wins, already table-typed
              Row.fromSeq(values.toIndexedSeq :+ (null: Any))
            } catch {
              case scala.util.control.NonFatal(_) =>
                val values = Array.fill[Any](schema.length)(null)
                values(idIdx) = r.get(0)
                Row.fromSeq(values.toIndexedSeq :+ (json: Any))
            }
          }
        }
      }
  }
}
