package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftbridge.StreamingFrame
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.ChangelogFeed
import graft.table.IceliteTable

/** Native streaming SINK into an icelite table —
  * `writeStream.format("icelite")` — the write half of the stream
  * story ([[IceliteChangelogSourceProvider]] is the read half; the
  * reference's whole purpose is streaming INTO Iceberg tables,
  * `docs/design.md` capture → apply → commit).
  *
  * Exactly-once on top of at-least-once delivery: every applied batch
  * commits `streaming.batchId` in its snapshot SUMMARY (metadata that
  * travels atomically with the data — the same trick the initial-sync
  * high-water mark rides), and a replayed batch id ≤ the stored one
  * is skipped whole. Spark's checkpoint gives at-least-once; the
  * summary turns it into exactly-once per batch, the R4 contract.
  *
  * Modes (option `mode`):
  *  - `append` (default) — each micro-batch is one append commit.
  *  - `upsert` — LWW upsert by `keys` (comma-separated option).
  *  - `changelog` — the batch is CDC rows (`_change_type` +
  *    `_commit_seq`, e.g. straight from the icelite-changelog source):
  *    applied with the SAME guarded LWW merge as every other consumer
  *    ([[ChangelogFeed.applyChangeBatch]]) — so end-to-end replication
  *    is `readStream.format("icelite-changelog") → writeStream
  *    .format("icelite")`, zero driver code in between.
  *
  * Options: `warehouse`, `namespace`, `table` (required; the table
  * must exist — schema contracts are a create-time decision, not a
  * first-batch accident), `mode`, `keys`, `mergeSchema` (default
  * false: a batch carrying unknown columns REFUSES loudly; true:
  * auto-evolve via one add-columns commit, Delta's mergeSchema).
  */
final class IceliteSinkProvider extends StreamSinkProvider with DataSourceRegister
    with RelationProvider with CreatableRelationProvider {

  override def shortName(): String = "icelite"

  private def load(parameters: Map[String, String]): IceliteTable = {
    def req(k: String) = parameters.getOrElse(k,
      throw new IllegalArgumentException(s"icelite format needs option '$k'"))
    IceliteTable.load(SparkSession.active, req("warehouse"), req("namespace"), req("table"))
  }

  /** `spark.read.format("icelite").options(…).load()` — the MoR read
    * as a DSv1 relation with filter + column pushdown folded into the
    * frame before it compiles (one code path with the catalog scan).
    */
  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val table = load(parameters)
    val ctx = sqlContext
    new BaseRelation with PrunedFilteredScan {
      override def sqlContext: SQLContext = ctx
      override def schema = table.schema
      override def needConversion: Boolean = false
      override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
        filters.filter(f => IceliteTable.filterColumn(f).isEmpty)
      override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] =
        table.scan(filters.toSeq.filter(f => IceliteTable.filterColumn(f).isDefined))
          .select(requiredColumns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
          .queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }
  }

  /** `df.write.format("icelite").mode(…).options(…).save()` — Append
    * is one commit; Overwrite/ErrorIfExists point at the explicit
    * APIs (truncation and existence are table-lifecycle decisions the
    * format string should not make implicitly).
    */
  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val table = load(parameters)
    mode match {
      case SaveMode.Append => table.append(data)
      case SaveMode.Ignore => if (table.meta.snapshots.isEmpty) table.append(data)
      case other => throw new UnsupportedOperationException(
        s"icelite batch write mode $other: use IceliteTable.overwritePartitions/" +
          "truncate explicitly, or SaveMode.Append")
    }
    createRelation(sqlContext, parameters)
  }

  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    def req(k: String) = parameters.getOrElse(k,
      throw new IllegalArgumentException(s"icelite sink needs option '$k'"))
    val mode = parameters.getOrElse("mode", "append")
    val keys = parameters.get("keys").map(_.split(',').map(_.trim).toSeq).getOrElse(Nil)
    require(Set("append", "upsert", "changelog")(mode),
      s"icelite sink mode '$mode' is not append|upsert|changelog")
    require(mode == "append" || keys.nonEmpty,
      s"icelite sink mode '$mode' needs option 'keys'")
    new IceliteSink(req("warehouse"), req("namespace"), req("table"), mode, keys,
      parameters.get("mergeSchema").contains("true"))
  }
}

final class IceliteSink(
    warehouse: String, namespace: String, tableName: String,
    mode: String, keys: Seq[String], mergeSchema: Boolean = false) extends Sink {

  /** Schema contract per micro-batch: columns the table does not know
    * REFUSE loudly by default (the write path's schema projection would
    * silently drop them — data loss no stream operator should default
    * to); `mergeSchema=true` auto-evolves instead (one metadata-only
    * add-columns commit, then the batch lands under the new shape —
    * Delta's mergeSchema semantics, old rows read NULL for the adds).
    */
  private def conformOrEvolve(
      table0: IceliteTable,
      cols: Seq[org.apache.spark.sql.types.StructField]): IceliteTable = {
    // case-INSENSITIVE membership, matching Spark's default resolver:
    // a batch column differing only in case ('Value' vs table 'value')
    // must land in the existing column, not auto-evolve a near-duplicate
    val known = table0.schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val extra = cols.filterNot(f => known(f.name.toLowerCase(java.util.Locale.ROOT)))
    if (extra.isEmpty) table0
    else if (!mergeSchema)
      throw new IllegalArgumentException(
        s"icelite sink: batch carries column(s) ${extra.map(_.name).mkString(", ")} " +
          s"not in ${table0.name}'s schema — set option mergeSchema=true to " +
          "auto-evolve, or drop them upstream (refusing beats silent loss)")
    else {
      table0.addColumns(org.apache.spark.sql.types.StructType(
        extra.map(_.copy(nullable = true)).toArray))
      IceliteTable.load(SparkSession.active, warehouse, namespace, tableName)
    }
  }

  // under the carried-progress prefix so maintenance rewrites
  // (compact/compactCold/manifest merge) re-publish it like the sync
  // HWM — a compaction between a crash and its replay must not reset
  // the exactly-once watermark to -1 (ADVICE r15)
  private val BatchIdKey = IceliteTable.StreamBatchIdKey

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val loaded = IceliteTable.load(SparkSession.active, warehouse, namespace, tableName)
    val last = loaded.meta.snapshots
      .flatMap(_.summary.get(BatchIdKey)).lastOption.map(_.toLong).getOrElse(-1L)
    if (batchId <= last) return // replayed batch: already committed
    val batch0 = StreamingFrame.batch(data)
    val contractCols = batch0.schema.fields.toSeq.filterNot(f =>
      f.name == IceliteTable.ChangeTypeCol || f.name == IceliteTable.CommitSeqCol)
    val table = conformOrEvolve(loaded, contractCols)
    // canonicalize case-variant batch columns to the table's casing
    // (the write path conforms BY EXACT NAME — without this a 'Value'
    // batch column would null-fill the table's 'value')
    val canon = table.schema.fieldNames
      .map(n => n.toLowerCase(java.util.Locale.ROOT) -> n).toMap
    val batch = batch0.columns.foldLeft(batch0) { (df, c) =>
      canon.get(c.toLowerCase(java.util.Locale.ROOT))
        .filter(_ != c).fold(df)(n => df.withColumnRenamed(c, n))
    }
    val stamp: Long => Map[String, String] = _ => Map(BatchIdKey -> batchId.toString)
    mode match {
      case "append" => table.append(batch, stamp)
      case "upsert" =>
        table.upsert(batch, keys, summary = stamp)
      case "changelog" =>
        // no batch-id stamp needed: the guarded LWW merge is
        // IDEMPOTENT by construction (equal-seq re-apply rewrites the
        // same images; ChangelogFeedSpec proves re-apply is a state
        // no-op), so at-least-once replay converges on its own
        val dataCols = batch.columns.toSeq
          .filterNot(c => c == IceliteTable.ChangeTypeCol || c == IceliteTable.CommitSeqCol)
        ChangelogFeed.applyChangeBatch(batch, dataCols, table, keys)
    }
  }
}
