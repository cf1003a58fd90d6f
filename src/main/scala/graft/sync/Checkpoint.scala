package graft.sync

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.table.IceliteTable

/** One checkpoint row per sync (reference design checkpoint-table schema,
  * FIXTURES.md §4: `_sync._sync_checkpoints`, upserted atomically with
  * data commits; sync_id = "namespace.table").
  */
final case class CheckpointRecord(
    syncId: String,
    state: String, // INITIAL_SYNC | STEADY_STATE
    sourceDatabase: String,
    sourceCollection: String,
    resumeToken: Option[Long], // last applied change seq (≈ resume token)
    highWaterMarkId: Option[String], // last fully synced _id during initial scan
    documentsProcessed: Long,
    lastSnapshotId: Long, // icelite seq of the last data commit
    lastBatchId: Long, // streaming micro-batch idempotence (R4/R6)
    updatedAtMs: Long)

object SyncState {
  val InitialSync = "INITIAL_SYNC"
  val SteadyState = "STEADY_STATE"
}

/** Checkpoint store on icelite tables — the same commit mechanism as
  * data tables (reference S9: checkpoint rows in an Iceberg table,
  * upsert = equality-delete + append).
  *
  * ONE TABLE PER SYNC (`_sync._sync_checkpoints__<syncId>`): the
  * reference's thread model gives every collection its own worker with
  * an independent checkpoint row (design.md §checkpointing, 8-way
  * collection concurrency), so checkpoint writes from different syncs
  * must never contend. A single shared table serialized the whole
  * fleet on one optimistic-commit CAS — under a concurrent syncAll the
  * losers re-wrote their one-row parquet files every retry round and
  * commit latency hit tens of seconds. Per-sync tables restore the
  * invariant the commit protocol is built on: exactly one writer per
  * table, so every checkpoint commit succeeds on its first attempt.
  */
final class CheckpointStore(spark: SparkSession, warehouse: String) {
  import CheckpointStore._

  private val tables =
    scala.collection.concurrent.TrieMap.empty[String, IceliteTable]

  private def tableFor(syncId: String): IceliteTable =
    tables.getOrElseUpdate(syncId,
      IceliteTable.createOrLoad(spark, warehouse, Namespace, tableName(syncId), Schema))

  // Write-through cache: each sync has exactly one writer (reference
  // thread model: one writer per table), so the last record THIS store
  // wrote is the table's row for that sync — serving reads from it
  // turns the per-batch read-modify-write from a MoR scan + collect
  // into a map lookup. A fresh store (process restart) starts cold and
  // reads the committed table.
  private val lastWritten =
    scala.collection.concurrent.TrieMap.empty[String, CheckpointRecord]

  def read(syncId: String): Option[CheckpointRecord] =
    lastWritten.get(syncId).orElse {
      val table = tableFor(syncId)
      table.refresh()
      val committed = table.read()
        .filter(org.apache.spark.sql.functions.col("sync_id") === syncId)
        .collect().headOption.map(fromRow)
      committed.foreach(lastWritten.update(syncId, _))
      committed
    }

  /** Checkpoint writes are one row and crash-ordering-critical, so they
    * bypass Spark entirely: the data and delete-key parquet files are
    * written by a driver-side parquet writer and committed through the
    * table's file-commit surface — milliseconds instead of two Spark
    * jobs per micro-batch, and the same shape as the reference daemon's
    * direct Iceberg checkpoint append.
    */
  def write(rec: CheckpointRecord): Unit = {
    val table = tableFor(rec.syncId)
    table.commitFiles("upsert") { seq =>
      val commitId = java.util.UUID.randomUUID().toString
      val dataRel = s"data/$commitId/part-00000.parquet"
      val delRel = s"deletes/$commitId/part-00000.parquet"
      writeDataFile(s"${table.location}/$dataRel", rec, seq)
      writeDeleteFile(s"${table.location}/$delRel", rec.syncId, seq)
      (Seq(dataRel), Seq(delRel), 1L)
    }
    lastWritten.update(rec.syncId, rec)
  }

  private def writeDataFile(path: String, rec: CheckpointRecord, seq: Long): Unit = {
    val writer = newWriter(path, DataMessage)
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(DataMessage)
      g.append("sync_id", rec.syncId)
      g.append("state", rec.state)
      g.append("source_database", rec.sourceDatabase)
      g.append("source_collection", rec.sourceCollection)
      rec.resumeToken.foreach(g.append("resume_token", _))
      rec.highWaterMarkId.foreach(g.append("high_water_mark_id", _))
      g.append("documents_processed", rec.documentsProcessed)
      g.append("last_snapshot_id", rec.lastSnapshotId)
      g.append("last_batch_id", rec.lastBatchId)
      g.append("updated_at", rec.updatedAtMs * 1000L) // micros
      g.append(IceliteTable.SeqCol, seq)
      writer.write(g)
    } finally writer.close()
  }

  private def writeDeleteFile(path: String, syncId: String, seq: Long): Unit = {
    val writer = newWriter(path, DeleteMessage)
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(DeleteMessage)
      g.append("sync_id", syncId)
      g.append(IceliteTable.SeqCol, seq)
      writer.write(g)
    } finally writer.close()
  }

  private def newWriter(path: String, schema: org.apache.parquet.schema.MessageType) = {
    // local paths write through java.nio directly — the Hadoop local fs
    // stream costs ~2x per file (checksum shadow files + conf plumbing),
    // and the checkpoint hot loop pays it twice per commit
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val out =
      if (uri.getScheme == null || uri.getScheme == "file") {
        val p = java.nio.file.Paths.get(uri.getPath)
        java.nio.file.Files.createDirectories(p.getParent)
        new org.apache.parquet.io.LocalOutputFile(p)
      } else
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(out)
      .withType(schema)
      .build()
  }

  /** Remove a sync's checkpoint row entirely (invalidate handling: the
    * rebuild must start from a clean slate — a stale high-water mark
    * would silently skip documents with `_id` ≤ hwm, ADVICE r1).
    */
  def delete(syncId: String): Unit = {
    val keys = spark.createDataFrame(
      java.util.List.of(Row(syncId)),
      StructType(Seq(StructField("sync_id", StringType, nullable = false))))
    tableFor(syncId).delete(keys, Seq("sync_id"))
    lastWritten.remove(syncId)
  }

  /** Fold accumulated per-batch commits into one compacted snapshot and
    * expire old metadata/files — keeps a long-lived stream's checkpoint
    * tables bounded (every checkpoint write is a full icelite commit).
    * Maintains every sync this store has touched.
    */
  def maintain(): Unit = tables.values.foreach { table =>
    table.compact()
    table.expireSnapshots()
  }

  /** All checkpoints as one queryable DataFrame (ops surface): union of
    * every per-sync checkpoint table under the `_sync` namespace —
    * including syncs written by OTHER processes, discovered from the
    * warehouse listing (cheap: one directory list; the row count is the
    * number of syncs, not data volume).
    */
  def all(): org.apache.spark.sql.DataFrame = {
    val nsPath = new org.apache.hadoop.fs.Path(s"$warehouse/$Namespace")
    val fs = nsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      if (!fs.exists(nsPath)) Nil
      else fs.listStatus(nsPath).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(TablePrefix))
        // skip dirs with no published metadata (a create that crashed
        // between mkdir and the first commit, or one mid-flight in
        // another process) — the ops surface must not throw on orphans
        .filter(n => fs.exists(
          new org.apache.hadoop.fs.Path(s"$warehouse/$Namespace/$n/metadata")))
    val reads = names.map { n =>
      val t = tables.values.find(_.name == s"$Namespace.$n")
        .getOrElse(IceliteTable.load(spark, warehouse, Namespace, n))
      t.refresh(); t.read()
    }
    reads.reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        java.util.List.of[Row](), Schema))
  }
}

object CheckpointStore {

  /** Namespace holding the per-sync checkpoint tables. */
  val Namespace = "_sync"

  /** Per-sync checkpoint table name prefix. */
  val TablePrefix = "_sync_checkpoints__"

  /** `_sync._sync_checkpoints__<syncId>` with the sync id (already
    * `namespace.table`) sanitized to a filesystem-safe table name. A
    * hash of the RAW id is appended so distinct ids that sanitize
    * alike ("a-b" vs "a_b") can never share a table — sharing would
    * silently reintroduce the multi-writer CAS contention the
    * per-sync layout exists to eliminate.
    */
  def tableName(syncId: String): String = {
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(syncId))
    TablePrefix + syncId.replaceAll("[^A-Za-z0-9_]", "_") + "__" + h
  }

  /** Parquet message types for the driver-side writer (mirrors
    * [[Schema]]; timestamp as INT64 micros UTC, strings as UTF8).
    */
  private val DataMessage: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val str = LogicalTypeAnnotation.stringType()
    Types.buildMessage()
      .required(BINARY).as(str).named("sync_id")
      .optional(BINARY).as(str).named("state")
      .optional(BINARY).as(str).named("source_database")
      .optional(BINARY).as(str).named("source_collection")
      .optional(INT64).named("resume_token")
      .optional(BINARY).as(str).named("high_water_mark_id")
      .optional(INT64).named("documents_processed")
      .optional(INT64).named("last_snapshot_id")
      .optional(INT64).named("last_batch_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(
        true, LogicalTypeAnnotation.TimeUnit.MICROS)).named("updated_at")
      .required(INT64).named(graft.table.IceliteTable.SeqCol)
      .named("graft_checkpoint")
  }

  private val DeleteMessage: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("sync_id")
      .required(INT64).named(graft.table.IceliteTable.SeqCol)
      .named("graft_checkpoint_delete")
  }

  val Schema: StructType = StructType(Seq(
    StructField("sync_id", StringType, nullable = false),
    StructField("state", StringType),
    StructField("source_database", StringType),
    StructField("source_collection", StringType),
    StructField("resume_token", LongType),
    StructField("high_water_mark_id", StringType),
    StructField("documents_processed", LongType),
    StructField("last_snapshot_id", LongType),
    StructField("last_batch_id", LongType),
    StructField("updated_at", TimestampType)))

  def toRow(r: CheckpointRecord): Row = Row(
    r.syncId, r.state, r.sourceDatabase, r.sourceCollection,
    r.resumeToken.map(Long.box).orNull, r.highWaterMarkId.orNull,
    r.documentsProcessed, r.lastSnapshotId, r.lastBatchId,
    java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(r.updatedAtMs)))

  def fromRow(row: Row): CheckpointRecord = CheckpointRecord(
    syncId = row.getString(0),
    state = row.getString(1),
    sourceDatabase = row.getString(2),
    sourceCollection = row.getString(3),
    resumeToken = if (row.isNullAt(4)) None else Some(row.getLong(4)),
    highWaterMarkId = Option(row.getString(5)),
    documentsProcessed = row.getLong(6),
    lastSnapshotId = row.getLong(7),
    lastBatchId = row.getLong(8),
    updatedAtMs = row.getTimestamp(9).getTime)
}
