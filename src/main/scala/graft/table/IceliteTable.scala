package graft.table

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.config.PartitionConfig

/** Minimal snapshot-committed Parquet table ("icelite") reproducing the
  * reference's Iceberg v2 write-path semantics (SURVEY.md §2.1 S4-S9):
  * append data files, equality-delete files keyed by the sync key,
  * Merge-on-Read reads, optimistic metadata commits, compaction and
  * snapshot expiry — over plain Parquet + versioned metadata JSON, since
  * no Iceberg runtime jar ships in this environment.
  *
  * Layout: `location/metadata/v{N}.json` (atomic-rename commits); data
  * parquet under `location/data/<commit-uuid>/` (hive-partitioned by the
  * derived transform columns); delete parquet under
  * `location/deletes/<commit-uuid>/`.
  *
  * Scale design: data rows never pass through the driver — appends are
  * `df.write.parquet` jobs; MoR reads aggregate the (small) delete set
  * per key and broadcast it against the data scan; file lists live in
  * metadata so planning is O(files), and compaction keeps that bounded.
  */
final class IceliteTable private (
    val spark: SparkSession,
    val location: String,
    @volatile private var cachedHead: IceliteTable.CachedHead) {

  import IceliteTable._

  /** The metadata this instance last observed. Meta and its version
    * number live in ONE volatile holder so a concurrent commit can
    * never be seen as a (new version, old meta) torn pair — the fast
    * head probe below builds on that.
    */
  private def cachedMeta: TableMeta = cachedHead.meta

  /** Snapshot value → location-relative path of the immutable MANIFEST
    * file already carrying its heavy payload ([[TableMeta.payloadJson]]).
    * Keyed by the case-class VALUE: any code that derives a modified
    * snapshot (partition overwrite / CoW update pruning dead files from
    * old snapshots) produces a different value, misses here, and gets a
    * fresh manifest — stale pointers are impossible by construction.
    * Populated on load (from pointers in the version JSON) and on
    * commit (when this instance externalizes a new snapshot).
    */
  private val manifestPaths =
    new java.util.concurrent.ConcurrentHashMap[Snapshot, String]()

  def meta: TableMeta = cachedMeta
  def schema: StructType = cachedMeta.schema
  def name: String = s"${cachedMeta.namespace}.${cachedMeta.table}"

  // ------------------------------------------------------------ writes

  /** Guard for ROW-ADDING/MUTATING writes on a lineage-enabled table
    * (schema declares `_row_id` + `_last_updated_seq`): only
    * [[appendWithLineage]] assigns ids and advances the id high-water
    * mark, and only [[updateWhereCoW]] re-stamps `_last_updated_seq` —
    * any other row-adding path would silently break the "globally
    * dense, never reused, modification-stamped" invariant, so it is
    * REJECTED here rather than discovered by an auditor later.
    * Deletes are exempt: removing rows neither mints ids nor leaves a
    * stale stamp (Iceberg v3 lineage has the same shape).
    */
  private def requireLineageSafe(head: TableMeta, op: String): Unit = {
    val f = head.schema.fieldNames.toSet
    require(!(f.contains(RowIdCol) && f.contains(LastUpdatedSeqCol)),
      s"$op on lineage-enabled table $name: rows written outside " +
        s"appendWithLineage/updateWhereCoW would carry no $RowIdCol — " +
        "use those entry points (or drop the lineage columns)")
  }

  /** Append rows (initial-sync / insert path, reference S4). Returns the
    * committed sequence number.
    */
  def append(df: DataFrame): Long =
    commitWrite(df, deleteKeys = None, keyCols = Nil, operation = "append")

  /** Append with commit-summary metadata published atomically with the
    * data (Iceberg snapshot-summary analog) — the initial-sync path
    * rides its high-water mark on this so progress and data commit in
    * one rename (exactly-once resume, no separate checkpoint commit).
    * The summary is built from the committed record count (known only
    * after the files are written).
    */
  def append(df: DataFrame, summary: Long => Map[String, String]): Long =
    commitWrite(df, deleteKeys = None, keyCols = Nil, operation = "append",
      summary = summary)

  /** Bulk CHUNKED append (the initial-sync fast path): ONE
    * range-partitioned write job stages `chunks` files in parallel —
    * each file one contiguous `idCol` range, rows sorted within it,
    * `_graft_seq` pre-stamped per file from the range-partition index —
    * then each file publishes as its own snapshot in range order with
    * `summaryFor(chunkMaxId, cumulativeRows)` riding the commit. The
    * per-chunk commit/resume contract is IDENTICAL to N sequential
    * appends (progress marker atomic with its chunk, crash resumes from
    * the last published chunk's hwm); what changes is the execution
    * shape: the N serial chunk write jobs (each a full driver
    * round-trip, guide §2.6) become N parallel tasks of one job, and
    * each chunk commit is metadata-only (~ms). Uncommitted staged files
    * are invisible until their rename-publish and are GC'd as orphans
    * after a crash, exactly like any lost commit attempt.
    *
    * Fast-path preconditions — throws [[IceliteTable.ChunkedAppendFallback]]
    * (nothing staged survives; some LEADING chunks may already be
    * committed, each fully valid) when the table is partitioned or
    * sort-ordered, when a range partition lands empty, or when a
    * concurrent commit moves the head between staging and publish
    * (seqs are pre-stamped in the files, so a moved head invalidates
    * the staging wholesale). Callers fall back to sequential appends,
    * resuming from the published markers.
    */
  def appendChunked(
      df: DataFrame,
      idCol: String,
      chunks: Int,
      summaryFor: (Any, Long) => Map[String, String],
      onChunk: (Long, Long, Any, Long) => Unit): Long = {
    refresh()
    val head0 = cachedMeta
    if (head0.partitioning.nonEmpty || sortOrderColumns(head0.properties).nonEmpty ||
        zorderColumns(head0.properties).nonEmpty)
      throw new IceliteTable.ChunkedAppendFallback(
        s"$name is partitioned/sorted — chunked staging writes one flat file per range")
    requireLineageSafe(head0, "append")
    val baseSeq = head0.lastSeq
    val stagingId = UUID.randomUUID().toString
    val stagingRel = s"data/$stagingId"
    val prepared =
      enforceChecks(conformToSchema(df, head0.schema), head0.schema, head0.properties)
        .repartitionByRange(chunks, col(idCol))
        .sortWithinPartitions(idCol)
        .withColumn(SeqCol, lit(baseSeq + 1L) + spark_partition_id().cast("long"))
    graft.util.Phase.timed("write.job")(fastWrite(prepared).parquet(abs(stagingRel)))
    val fs = fileSystem()
    try {
      val partIdx = "part-(\\d+)".r
      def idx(rel: String): Int = partIdx.findFirstMatchIn(rel.split('/').last)
        .map(_.group(1).toInt).getOrElse(-1)
      val listed = listParquetInfos(abs(stagingRel)).sortBy(l => idx(l._1))
      if (listed.size != chunks || listed.exists(l => idx(l._1) < 0))
        throw new IceliteTable.ChunkedAppendFallback(
          s"staged ${listed.size} files for $chunks ranges (empty range partition)")
      // one narrow job over the staged files: per-file (max id, rows) —
      // works for EVERY id type (footer stats would exclude timestamps)
      val fileInfo = spark.read.schema(prepared.schema).parquet(abs(stagingRel))
        .groupBy(input_file_name().as("_f"))
        .agg(max(col(idCol)).as("_mx"), count(lit(1)).as("_n"))
        .collect()
        .map(r => new Path(r.getString(0)).getName -> ((r.get(1), r.getLong(2))))
        .toMap
      val statCols = recordedStatColumns(head0)
      var cum = 0L
      listed.zipWithIndex.foreach { case ((stagedRel, bytes), k) =>
        val t0 = System.currentTimeMillis()
        val seqExpected = baseSeq + k + 1
        val base = stagedRel.split('/').last
        val (maxId, rows) = fileInfo.getOrElse(base,
          throw new IceliteTable.ChunkedAppendFallback(s"staged file $base missing from info scan"))
        // publish under its own commit dir so crash leftovers in the
        // staging dir stay one orphan unit for removeOrphans
        val commitId = UUID.randomUUID().toString
        val newRel = s"data/$commitId/$base"
        fs.mkdirs(new Path(abs(s"data/$commitId")))
        if (!fs.rename(new Path(abs(stagedRel)), new Path(abs(newRel))))
          throw new IceliteTable.ChunkedAppendFallback(s"rename of staged chunk $base failed")
        val (_, stats) = footerInfo(newRel, statCols)
        cum += rows
        val cumHere = cum
        retryCommit { head =>
          if (head.lastSeq + 1 != seqExpected)
            throw new IceliteTable.ChunkedAppendFallback(
              s"concurrent commit moved $name to seq ${head.lastSeq} while " +
                s"publishing pre-stamped chunk seq $seqExpected")
          (head.withSnapshot(Snapshot(seqExpected, System.currentTimeMillis(), "append",
            Seq(newRel), Nil, rows,
            if (stats.nonEmpty) Map(newRel -> stats) else Map.empty,
            summary = summaryFor(maxId, cumHere),
            fileMetrics = Map(newRel -> ((rows, bytes))))), seqExpected)
        }
        onChunk(seqExpected, rows, maxId, System.currentTimeMillis() - t0)
      }
      cum
    } finally {
      // committed chunks were MOVED out; whatever remains in the staging
      // dir is uncommitted (fast-path abort) and deletes as one unit
      try fs.delete(new Path(abs(stagingRel)), true) catch { case _: Throwable => () }
    }
  }

  /** Append with ROW LINEAGE (Iceberg v3): every incoming row is
    * assigned a globally dense `_row_id` starting at the table's
    * [[IceliteTable.NextRowIdProp]] high-water mark, ordered by
    * `orderCols` (which must be unique within the batch — lineage ids
    * must not depend on partition internals), and stamped
    * `_last_updated_seq` = this commit's sequence number. The id
    * high-water mark advances in the SAME atomic commit as the data,
    * so ids are never reused even across concurrent-writer retries,
    * and a copy-on-write rewrite ([[updateWhereCoW]]) carries ids
    * through unchanged while re-stamping only the rows it modifies —
    * the audit surface incremental consumers and reproducibility
    * checks key on.
    *
    * Scale: id assignment is [[graft.operators.DistributedRank]] —
    * a range exchange plus a bounded per-partition-count driver fold,
    * never a single-task global window; everything else is the
    * ordinary append write path.
    */
  def appendWithLineage(df: DataFrame, orderCols: Seq[String]): Long = retryCommit { head =>
    val fields = head.schema.fieldNames.toSet
    require(fields.contains(RowIdCol) && fields.contains(LastUpdatedSeqCol),
      s"append with lineage on $name: the table schema must declare " +
        s"$RowIdCol and $LastUpdatedSeqCol columns")
    val seq = head.lastSeq + 1
    val base = head.properties.getOrElse(NextRowIdProp, "0").toLong
    val commitId = UUID.randomUUID().toString
    val rn = "_graft_lineage_rn"
    val numbered = graft.operators.DistributedRank.withRank(
      df.drop(RowIdCol, LastUpdatedSeqCol), Nil, orderCols.map(col), rn)
    val withLineage = numbered
      .withColumn(RowIdCol, col(rn) + lit(base - 1)).drop(rn)
      .withColumn(LastUpdatedSeqCol, lit(seq))
    val (dataFiles, count, fileStats, dataMetrics) = writeDataFiles(
      enforceChecks(conformToSchema(withLineage, head.schema), head.schema, head.properties)
        .withColumn(SeqCol, lit(seq)),
      commitId, head, nFiles = None, sortBy = writeSortBy(head.properties))
    (head.copy(properties = head.properties + (NextRowIdProp -> (base + count).toString))
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "append",
        dataFiles, Nil, count, fileStats, fileMetrics = dataMetrics)), seq)
  }

  /** Upsert batch by key (steady-state change-stream path, reference
    * R1): one commit carrying an equality-delete file for the batch keys
    * plus a data file with the new row versions — the Iceberg MoR
    * "equality delete old + append new in one txn" shape.
    * The batch is deduplicated last-writer-wins on `orderCol` first.
    */
  def upsert(df: DataFrame, keyCols: Seq[String], orderCol: Option[String] = None,
      summary: Long => Map[String, String] = _ => Map.empty): Long = {
    val deduped = orderCol match {
      case Some(oc) =>
        val w = Window.partitionBy(keyCols.map(col): _*).orderBy(desc(oc))
        df.withColumn("_lww_rn", row_number().over(w)).filter(col("_lww_rn") === 1).drop("_lww_rn")
      case None => df.dropDuplicates(keyCols)
    }
    commitWrite(deduped, deleteKeys = Some(deduped.select(keyCols.map(col): _*)),
      keyCols = keyCols, operation = "upsert", summary = summary)
  }

  /** Commit files the CALLER writes (Iceberg's own commit surface: the
    * engine places data/delete files, the table commits them). The
    * writer callback receives the commit seq (re-invoked with a fresh
    * seq on optimistic-retry) and returns (dataFiles, deleteFiles,
    * recordCount) as location-relative paths. Lets driver-side writers
    * (e.g. one-row checkpoint upserts via a raw parquet writer) commit
    * without launching Spark jobs; orphans from failed attempts are
    * reclaimed by [[expireSnapshots]].
    */
  def commitFiles(operation: String)(
      writer: Long => (Seq[String], Seq[String], Long)): Long = retryCommit { head =>
    val seq = head.lastSeq + 1
    val (dataFiles, deleteFiles, count) = writer(seq)
    (head.withSnapshot(Snapshot(seq, System.currentTimeMillis(), operation,
      dataFiles, deleteFiles, count)), seq)
  }

  /** Delete by key (reference R2): equality-delete file only. */
  def delete(keys: DataFrame, keyCols: Seq[String]): Long =
    commitWrite(null, deleteKeys = Some(keys.select(keyCols.map(col): _*).dropDuplicates(keyCols)),
      keyCols = keyCols, operation = "delete")

  /** Row-level DELETE WHERE as an Iceberg v2 POSITION delete — the
    * second delete shape (design.md MoR v2), complementing key-based
    * equality deletes: the predicate runs over the current MoR view
    * scanned with physical (file_path, row_index) coordinates, and one
    * commit adds a position-delete file holding the matching
    * coordinates. No data file is rewritten and no key is required —
    * the shape a predicate delete takes on a table without a natural
    * key, and what an engine emits when it already knows the exact
    * rows (dedup jobs, GDPR row erasure by scan). Scale: the scan is
    * the same pruned MoR read as [[read]]; the delete file is
    * coordinates only (two longs + a path per row).
    *
    * Returns the commit seq (recordCount = rows deleted); a predicate
    * matching nothing publishes no new snapshot.
    */
  def deleteWhere(condition: Column): Long = deleteMatching(_.filter(condition))

  /** Generalized [[deleteWhere]]: `classify` maps the visible MoR view
    * to the exact rows to delete and may JOIN other frames — the SQL
    * `[NOT] key IN (subquery)` route semi/anti-joins the subquery's
    * key set here. Selection is by physical (file, pos) coordinates,
    * so duplicate key values, NULL keys, and keyless tables all work
    * row-exactly — no uniqueness discipline, unlike [[merge]].
    */
  private[graft] def deleteMatching(classify: DataFrame => DataFrame): Long = retryCommit { head =>
    val seq = head.lastSeq + 1
    val commitId = UUID.randomUUID().toString
    val data = readFilesAs(head.snapshots.flatMap(_.dataFiles), head.schema,
      Long.MaxValue, withPos = true, meta = head)
    val visible = applyDeletes(
      applyPosState(data, head.snapshots),
      eqDeleteState(head.snapshots))
    val coords = classify(visible)
      .select(col(PosFileCol), col(PosCol)).withColumn(SeqCol, lit(seq))
      .cache()
    try {
      val n = coords.count()
      if (n == 0) (head, head.lastSeq)
      else {
        val out = s"$location/deletes/$commitId"
        coords.write.mode("errorifexists").parquet(out)
        (head.withSnapshot(Snapshot(seq, System.currentTimeMillis(), "pos-delete",
          Nil, Nil, n, posDeleteFiles = listParquet(out))), seq)
      }
    } finally coords.unpersist()
  }

  /** Consolidate every live coordinate position delete — plus any
    * previous DV generation — into per-file DELETION-VECTOR bitmaps
    * ([[Dv]]): Iceberg v3's minor delete compaction. One maintenance
    * commit whose snapshot supersedes all coordinate files at or
    * before its seq on the main read path (old snapshots keep their
    * coordinate lists, so time travel and changelog ranges BEFORE the
    * consolidation still resolve them). After this, every read applies
    * deletes as a broadcast of per-file bitmaps + a codegen'd
    * scan-local membership test instead of a (file, pos) anti-join —
    * at 100 TB the delete-merge join leaves the plan entirely for
    * churn-heavy tables. Returns the commit seq (unchanged lastSeq if
    * there was nothing to consolidate). Like a layout rewrite, the DV
    * commit is a maintenance snapshot: changelog ranges crossing it
    * error with the standard resync message.
    */
  def consolidateDeleteVectors(): Long = retryCommit { head =>
    val (prevDvs, coordFiles) = posDeleteState(head.snapshots)
    if (coordFiles.isEmpty) (head, head.lastSeq) // nothing new since the last DV
    else {
      val seq = head.lastSeq + 1
      val commitId = UUID.randomUUID().toString
      val encodeDv = udf((ps: Seq[Long]) => Dv.encode(ps.toArray))
      val dvPositions = udf((dv: Array[Byte]) => Dv.positions(dv).toSeq)
      val coords = readKnown(PosDeleteSchema, coordFiles)
        .select(col(PosFileCol), col(PosCol))
      val all =
        if (prevDvs.isEmpty) coords
        else coords.unionAll(readKnown(DvSchema, prevDvs)
          .select(col(PosFileCol), explode(dvPositions(col(DvCol))).as(PosCol)))
      // coordinates of files no longer live are inert — drop them so a
      // DV generation never outlives the data it annotates
      val liveFiles = head.liveDataFiles.toSet
      val isLive = udf((f: String) => liveFiles.contains(f))
      val dv = all.filter(isLive(col(PosFileCol)))
        .dropDuplicates(PosFileCol, PosCol)
        .groupBy(col(PosFileCol))
        .agg(sort_array(collect_list(col(PosCol))).as("_ps"))
        .select(col(PosFileCol), encodeDv(col("_ps")).as(DvCol),
          size(col("_ps")).cast("long").as(DvCountCol))
      val out = s"$location/deletes/$commitId"
      dv.write.mode("errorifexists").parquet(out)
      val files = listParquet(out)
      if (files.isEmpty) (head, head.lastSeq) // every coordinate was inert
      else (head.withSnapshot(Snapshot(seq, System.currentTimeMillis(), "rewrite-dv",
        Nil, Nil, 0, dvFiles = files)), seq)
    }
  }

  /** FULL delete consolidation (Iceberg v3's DV-only direction): one
    * maintenance commit that resolves EVERY live delete — equality
    * deletes, coordinate position deletes, and the previous DV
    * generation — into per-file deletion-vector bitmaps, by
    * materializing the current visible set once and bitmap-encoding
    * its complement. After it, the main read path applies deletes as a
    * broadcast bitmap + codegen membership test and NOTHING ELSE: no
    * (key, seq) anti-join, no coordinate anti-join — until new deletes
    * land, which apply as a hot tail and fold on the next run. The
    * semantics are exact because the fold evaluates the same MoR view
    * a read would: an equality delete at seq D masks versions with
    * seq < D, all of which exist at fold time (seqs are monotone, so
    * no future row can be masked by a past delete).
    *
    * Like every maintenance rewrite the commit (`rewrite-dv-full`) is
    * a changelog barrier; time travel and changelog scopes BEFORE it
    * resolve the original delete files, which stay in their
    * snapshots. Returns the commit seq (unchanged lastSeq when there
    * was no delete state at all to consolidate).
    */
  def consolidateDeletesFull(): Long = retryCommit { head =>
    val eqFiles = eqDeleteState(head.snapshots)
    val (prevDvs, coordFiles) = posDeleteState(head.snapshots)
    if (eqFiles.isEmpty && coordFiles.isEmpty && prevDvs.isEmpty) (head, head.lastSeq)
    else {
      val seq = head.lastSeq + 1
      val commitId = UUID.randomUUID().toString
      val encodeDv = udf((ps: Seq[Long]) => Dv.encode(ps.toArray))
      val data = readFilesAs(head.snapshots.flatMap(_.dataFiles), head.schema,
        Long.MaxValue, withPos = true, meta = head)
      val visible = applyDeletes(applyPosState(data, head.snapshots), eqFiles)
      // complement of the visible set = every masked physical row, by
      // coordinates — positions are unique per physical row, so the
      // anti-join is exact
      val masked = data.select(col(PosFileCol), col(PosCol))
        .join(visible.select(col(PosFileCol), col(PosCol)),
          Seq(PosFileCol, PosCol), "left_anti")
      val dv = masked
        .groupBy(col(PosFileCol))
        .agg(sort_array(collect_list(col(PosCol))).as("_ps"))
        .select(col(PosFileCol), encodeDv(col("_ps")).as(DvCol),
          size(col("_ps")).cast("long").as(DvCountCol))
      val out = s"$location/deletes/$commitId"
      dv.write.mode("errorifexists").parquet(out)
      // an empty bitmap set (every delete was inert) still commits:
      // the marker supersedes the inert files so reads stop paying
      // for them
      (head.withSnapshot(Snapshot(seq, System.currentTimeMillis(), "rewrite-dv-full",
        Nil, Nil, 0, dvFiles = listParquet(out))), seq)
    }
  }

  /** One commit applying a resolved change batch: equality-delete every
    * key in `deleteKeys` (upserted AND deleted keys) + data file with
    * the final upsert images — the reference's "write delete files,
    * write data file, commit both in one Iceberg txn" steady-state step.
    * Callers must pass `upserts` already deduplicated per key.
    */
  def applyChanges(upserts: DataFrame, deleteKeys: DataFrame, keyCols: Seq[String]): Long =
    commitWrite(upserts,
      deleteKeys = Some(deleteKeys.select(keyCols.map(col): _*).dropDuplicates(keyCols)),
      keyCols = keyCols, operation = "upsert")

  /** General MERGE (the Delta / Iceberg `MERGE INTO` shape): classify
    * every SOURCE row against the current table state by key, then
    * commit all resulting changes atomically in ONE snapshot —
    * matched rows satisfying `matchedDelete` are equality-deleted,
    * matched rows satisfying `matchedUpdate` are replaced by the
    * source row, unmatched rows satisfying `notMatchedInsert` are
    * inserted. Conditions are evaluated on the joined pair and may
    * reference source columns as `s.col` and matched target columns as
    * `t.col` (null-safe: target refs are only evaluated under a match).
    * Delete wins over update when both conditions hold. Extra source
    * columns (condition scaffolding like an op flag) are dropped at
    * write time; missing table columns become null.
    *
    * The source must be unique per key (multiple source matches for
    * one target row are ambiguous — same rule as Delta/Iceberg; this
    * is validated and rejected).
    *
    * `matchedUpdateSet` selects COLUMN-LEVEL updates (the Delta /
    * Iceberg `UPDATE SET col = expr` shape): when non-empty, an
    * updated row keeps every target column except the listed ones,
    * whose expressions may reference `s.col` / `t.col`. When empty
    * (default), an update replaces the whole row with the source row.
    * Key columns may not be assigned.
    *
    * Scale: the target scan is PRUNED to files whose key-column
    * footer stats intersect the source's key range (a 100-row batch
    * against a 100 TB table touches only the files that can match),
    * then one key-equi join classifies everything; the classified
    * frame is cached so validation, metrics, and both commit files
    * read it once. Rows never pass through the driver; the commit is
    * the same delete-file + data-file pair as upsert, so changelog
    * reads ([[readChanges]]) see merge updates as proper pre/post
    * pairs.
    *
    * `notMatchedInsertSet` selects COLUMN-LEVEL insert values (the SQL
    * `INSERT … VALUES (expr)` shape where a value is computed rather
    * than the same-named source column): an inserted row takes each
    * listed column from its expression (which may reference `s.col`;
    * there is no target row) and every other column from the
    * pass-through source value. Key columns may not be computed — the
    * classify join and ambiguity guard run on the raw source keys.
    *
    * `notMatchedBySource*` add the SQL `WHEN NOT MATCHED BY SOURCE`
    * family (the SCD/sync idiom: target rows whose key appears in NO
    * source row get deleted or updated). Their conditions and
    * `notMatchedBySourceUpdateSet` expressions may reference TARGET
    * columns only (`t.col` — there is no source row). Delete wins
    * over update when both conditions hold, mirroring the matched
    * side. Scale note: any BY SOURCE action necessarily classifies
    * EVERY target row (an unmatched row can live in any file), so the
    * target scan is the full MoR read, not the key-range-pruned one —
    * that full pass is the operator's inherent cost, same as
    * Delta/Iceberg.
    */
  def merge(
      source: DataFrame,
      keyCols: Seq[String],
      matchedUpdate: Option[Column] = Some(lit(true)),
      matchedDelete: Option[Column] = None,
      notMatchedInsert: Option[Column] = Some(lit(true)),
      matchedUpdateSet: Map[String, Column] = Map.empty,
      notMatchedBySourceUpdate: Option[Column] = None,
      notMatchedBySourceDelete: Option[Column] = None,
      notMatchedBySourceUpdateSet: Map[String, Column] = Map.empty,
      notMatchedInsertSet: Map[String, Column] = Map.empty): MergeStats = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    requireLineageSafe(cachedMeta, "merge")
    val tableSchema = cachedMeta.schema
    (matchedUpdateSet.keys ++ notMatchedBySourceUpdateSet.keys).foreach { c =>
      require(tableSchema.fieldNames.contains(c),
        s"UPDATE SET column '$c' is not a column of $name")
      require(!keyCols.contains(c), s"UPDATE SET may not assign key column '$c'")
    }
    // computed INSERT values (`INSERT … VALUES (expr-over-s.cols)`):
    // per-column overrides of the pass-through source row. Keys stay
    // pass-through — the classify join, ambiguity guard, and file
    // pruning all run on the RAW source keys, so letting an INSERT
    // rewrite the key would desynchronize the written key from the
    // one the row was classified (and validated unique) under.
    notMatchedInsertSet.keys.foreach { c =>
      require(tableSchema.fieldNames.contains(c),
        s"INSERT value column '$c' is not a column of $name")
      require(!keyCols.contains(c),
        s"INSERT may not compute key column '$c' (keys pass through the ON classify)")
    }
    require(notMatchedBySourceUpdate.isEmpty || notMatchedBySourceUpdateSet.nonEmpty,
      "NOT MATCHED BY SOURCE UPDATE needs an explicit column-level update set " +
        "(there is no source row to take a whole-row replacement from)")
    val bySource =
      notMatchedBySourceUpdate.isDefined || notMatchedBySourceDelete.isDefined
    val marker = "_t_matched"
    val sMarker = "_s_matched"
    require(!source.columns.contains(marker) && !source.columns.contains(sMarker),
      s"source may not carry $marker/$sMarker")
    val srcSet = source.columns.toSet
    keyCols.foreach(k => require(srcSet.contains(k), s"source lacks key column '$k'"))
    // BY SOURCE must classify every target row (an unmatched row can
    // live in any file) — the scan is unprunable by construction; the
    // plain merge scans only the source's key range
    val targetScan = scan(if (bySource) Nil else keyRangeFilters(source, keyCols))
    val joined = source.withColumn(sMarker, lit(true)).alias("s").join(
      targetScan.withColumn(marker, lit(true)).alias("t"),
      keyCols.map(k => col(s"s.$k") === col(s"t.$k")).reduce(_ && _),
      if (bySource) "full_outer" else "left_outer")
    val tPresent = coalesce(col(s"t.$marker"), lit(false))
    val sPresent = coalesce(col(s"s.$sMarker"), lit(false))
    val matched = sPresent && tPresent
    val action = when(matched && matchedDelete.getOrElse(lit(false)), "delete")
      .when(matched && matchedUpdate.getOrElse(lit(false)), "update")
      .when(sPresent && !tPresent && notMatchedInsert.getOrElse(lit(false)), "insert")
      .when(!sPresent && tPresent &&
        notMatchedBySourceDelete.getOrElse(lit(false)), "bs_delete")
      .when(!sPresent && tPresent &&
        notMatchedBySourceUpdate.getOrElse(lit(false)), "bs_update")
      .otherwise("skip")
    // one expression per TABLE column covering all write actions:
    // inserts take the source value (null when absent), updates take
    // the UPDATE SET expression, else the preserved target value
    // (whole-row mode: the source value, the pre-r5 behavior);
    // by-source updates take their target-only update set
    def srcVal(f: org.apache.spark.sql.types.StructField): Column =
      (if (srcSet.contains(f.name)) col(s"s.${f.name}") else lit(null)).cast(f.dataType)
    def insertVal(f: org.apache.spark.sql.types.StructField): Column =
      notMatchedInsertSet.get(f.name).map(_.cast(f.dataType)).getOrElse(srcVal(f))
    def updateVal(f: org.apache.spark.sql.types.StructField): Column =
      matchedUpdateSet.get(f.name).map(_.cast(f.dataType)).getOrElse(
        if (matchedUpdateSet.isEmpty) srcVal(f) else col(s"t.${f.name}").cast(f.dataType))
    def bsUpdateVal(f: org.apache.spark.sql.types.StructField): Column =
      notMatchedBySourceUpdateSet.get(f.name).map(_.cast(f.dataType))
        .getOrElse(col(s"t.${f.name}").cast(f.dataType))
    val payload = tableSchema.fields.toSeq.map { f =>
      // keys come from whichever side has the row (equal when matched,
      // target-only for by-source rows, source-only for inserts)
      if (keyCols.contains(f.name))
        coalesce(col(s"s.${f.name}"), col(s"t.${f.name}")).as(f.name)
      else when(action === "update", updateVal(f))
        .when(action === "bs_update", bsUpdateVal(f))
        .otherwise(insertVal(f)).as(f.name)
    }
    val classified = joined
      .select(payload :+ action.as("_merge_action"): _*)
      .cache()
    try {
      // ONE stats pass over the cached classification serves both the
      // ambiguity guard and the action counts (formerly two jobs): the
      // per-key aggregate exposes the max multiplicity, and with unique
      // keys every group is one row, so summing group actions counts
      // rows per action exactly
      val statsRow = classified
        .groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_k_rows"), first(col("_merge_action")).as("_k_action"))
        .agg(max(col("_k_rows")),
          sum(when(col("_k_action") === "insert", 1L).otherwise(0L)),
          sum(when(col("_k_action").isin("update", "bs_update"), 1L).otherwise(0L)),
          sum(when(col("_k_action").isin("delete", "bs_delete"), 1L).otherwise(0L)))
        .collect()(0)
      def n(i: Int): Long = if (statsRow.isNullAt(i)) 0L else statsRow.getLong(i)
      require(n(0) <= 1,
        s"merge source has duplicate keys on (${keyCols.mkString(", ")}) — ambiguous match")
      val (nIns, nUpd, nDel) = (n(1), n(2), n(3))
      if (nIns + nUpd + nDel == 0) return MergeStats(cachedMeta.lastSeq, 0, 0, 0)
      val writes = classified
        .filter(col("_merge_action").isin("update", "insert", "bs_update"))
        .drop("_merge_action")
      val delKeys = classified
        .filter(col("_merge_action").isin("update", "delete", "bs_update", "bs_delete"))
        .select(keyCols.map(col): _*)
      val seq = commitWrite(
        if (nIns + nUpd == 0) null else writes,
        deleteKeys = if (nUpd + nDel == 0) None else Some(delKeys),
        keyCols = keyCols, operation = "merge")
      MergeStats(seq, nIns, nUpd, nDel)
    } finally classified.unpersist()
  }

  /** Declare a named write-time CHECK constraint (standard SQL
    * semantics: a row violates only when the predicate is FALSE —
    * NULL passes). Declaration validates the predicate resolves to a
    * boolean against the current schema AND that every existing row
    * satisfies it (the `ALTER TABLE ADD CONSTRAINT` contract — one
    * table scan, paid once at declare time); from then on every
    * ingest write (append / upsert / merge / update / staged append)
    * fails fast on the first violating row. Enforcement is a
    * side-effecting filter FUSED into the write's own scan
    * (`assert_true` inside the projection pipeline) — zero extra
    * passes over the batch at any scale. Maintenance rewrites
    * (compaction, clone re-materialization) skip enforcement: their
    * rows were validated when they first landed.
    */
  def declareConstraint(cname: String, predicateSql: String): Long = {
    require(cname.nonEmpty && !cname.contains('='), s"bad constraint name '$cname'")
    refresh()
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cachedMeta.schema)
    val dt = probe.select(expr(predicateSql)).schema.head.dataType
    if (dt != org.apache.spark.sql.types.BooleanType)
      throw new IllegalArgumentException(
        s"CHECK '$cname' of $name must be a boolean predicate, got $dt")
    val bad = read().filter(!coalesce(expr(predicateSql), lit(true))).count()
    if (bad > 0)
      throw new IllegalStateException(
        s"cannot declare CHECK '$cname' on $name: " +
          s"$bad existing row(s) violate ($predicateSql)")
    retryCommit { head =>
      val seq = head.lastSeq + 1
      (head.copy(properties =
        head.properties + (ConstraintPropPrefix + cname -> predicateSql))
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve",
          Nil, Nil, 0L)), seq)
    }
  }

  /** Remove a declared CHECK constraint (metadata-only). */
  def dropConstraint(cname: String): Long = retryCommit { head =>
    if (!head.properties.contains(ConstraintPropPrefix + cname))
      throw new IllegalArgumentException(s"no CHECK '$cname' on $name")
    val seq = head.lastSeq + 1
    (head.copy(properties = head.properties - (ConstraintPropPrefix + cname))
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve",
        Nil, Nil, 0L)), seq)
  }

  /** Declared constraints: name → predicate SQL. */
  def constraints: Map[String, String] =
    cachedMeta.properties.collect {
      case (k, v) if k.startsWith(ConstraintPropPrefix) =>
        k.stripPrefix(ConstraintPropPrefix) -> v
    }

  /** Declare a named GOVERNANCE policy — the row-access + column-mask
    * shape of lakehouse governance layers (Snowflake row access
    * policies / masking policies, Unity Catalog row filters / column
    * masks), declared ON the table and applied at read: `rowFilter`
    * is a boolean predicate a row must satisfy to be VISIBLE (NULL
    * hides — deny-by-default, the opposite polarity of a CHECK), and
    * `masks` maps column → replacement expression evaluated against
    * the PRE-mask row (simultaneous projection, like UPDATE
    * set-expressions) and cast back to the column's declared type, so
    * a governed read serves the EXACT raw schema — downstream code
    * cannot tell it was masked, which is the point of the model: one
    * table, per-principal projections, zero data copies.
    *
    * Declaration validates every expression resolves against the
    * current schema (metadata-only — no scan: unlike a CHECK, a
    * policy makes no claim about stored data). The raw [[read]] is
    * untouched; enforcement happens where a governed consumer reads
    * ([[readGoverned]]). Redeclaring a name replaces it.
    */
  def declarePolicy(
      pname: String, rowFilter: Option[String], masks: Map[String, String]): Long = {
    require(pname.nonEmpty && !pname.contains('=') && !pname.contains('.'),
      s"bad policy name '$pname'")
    require(rowFilter.nonEmpty || masks.nonEmpty, s"policy '$pname' declares nothing")
    refresh()
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cachedMeta.schema)
    rowFilter.foreach { f =>
      val dt = probe.select(expr(f)).schema.head.dataType
      if (dt != org.apache.spark.sql.types.BooleanType)
        throw new IllegalArgumentException(
          s"policy '$pname' of $name: row filter must be boolean, got $dt")
    }
    masks.foreach { case (c, m) =>
      if (!cachedMeta.schema.fieldNames.contains(c))
        throw new IllegalArgumentException(
          s"policy '$pname' of $name masks unknown column '$c'")
      probe.select(expr(m)) // must resolve against the schema
    }
    retryCommit { head =>
      val seq = head.lastSeq + 1
      val cleared = head.properties.filterNot(_._1.startsWith(s"$PolicyPropPrefix$pname."))
      val added = rowFilter.map(f => s"$PolicyPropPrefix$pname.filter" -> f).toMap ++
        masks.map { case (c, m) => s"$PolicyPropPrefix$pname.mask.$c" -> m }
      (head.copy(properties = cleared ++ added)
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve",
          Nil, Nil, 0L)), seq)
    }
  }

  /** Remove a declared policy (metadata-only). */
  def dropPolicy(pname: String): Long = retryCommit { head =>
    val keys = head.properties.keys.filter(_.startsWith(s"$PolicyPropPrefix$pname.")).toSeq
    if (keys.isEmpty) throw new IllegalArgumentException(s"no policy '$pname' on $name")
    val seq = head.lastSeq + 1
    (head.copy(properties = head.properties -- keys)
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve",
        Nil, Nil, 0L)), seq)
  }

  /** Declared policies: name → (row filter, column masks). */
  def policies: Map[String, (Option[String], Map[String, String])] =
    cachedMeta.properties.keys
      .filter(_.startsWith(PolicyPropPrefix))
      .map(_.stripPrefix(PolicyPropPrefix).takeWhile(_ != '.')).toSeq.distinct
      .map { p =>
        val props = cachedMeta.properties
        val maskPrefix = s"$PolicyPropPrefix$p.mask."
        p -> (props.get(s"$PolicyPropPrefix$p.filter"),
          props.collect { case (k, v) if k.startsWith(maskPrefix) =>
            k.stripPrefix(maskPrefix) -> v })
      }.toMap

  /** The MoR view under a declared policy: row filter applied (NULL
    * hides), masked columns replaced in ONE simultaneous projection
    * (every mask sees pre-mask values) and cast to their declared
    * types — same schema as [[read]], governed content.
    */
  def readGoverned(pname: String): DataFrame = {
    refresh()
    val (rowFilter, masks) = policies.getOrElse(pname,
      throw new IllegalArgumentException(s"no policy '$pname' on $name"))
    val base = read()
    val filtered = rowFilter
      .map(f => base.filter(coalesce(expr(f), lit(false))))
      .getOrElse(base)
    filtered.select(cachedMeta.schema.fields.toSeq.map { f =>
      masks.get(f.name).map { m =>
        val masked = expr(m).cast(f.dataType)
        // a literal mask would tighten nullability vs the declared
        // schema — the isNotNull-guard keeps every value and marks the
        // column nullable again (not analyzer-foldable)
        val aligned = if (f.nullable) when(masked.isNotNull, masked) else masked
        aligned.as(f.name)
      }.getOrElse(col(f.name))
    }: _*)
  }

  /** Fuse every declared CHECK — and the declared NOT NULL contract of
    * every non-nullable top-level column — into the batch as fail-fast
    * asserts: rides the write scan, no extra job. CHECK follows SQL
    * semantics (NULL predicate results pass, only explicit FALSE
    * throws); the nullability assert throws on any NULL reaching a
    * NOT NULL column, which is what makes [[tightenNullability]]'s
    * one-scan proof durable — after the flip, no ingest write can
    * reintroduce a NULL.
    */
  private def enforceChecks(
      df: DataFrame, schema: StructType, props: Map[String, String]): DataFrame = {
    val checked = props.toSeq.filter(_._1.startsWith(ConstraintPropPrefix)).sortBy(_._1)
      .foldLeft(df) { case (d, (k, p)) =>
        val n = k.stripPrefix(ConstraintPropPrefix)
        d.filter(assert_true(coalesce(expr(p), lit(true)),
          lit(s"CHECK constraint '$n' of $name violated: $p")).isNull)
      }
    schema.fields.filterNot(_.nullable).foldLeft(checked) { (d, f) =>
      d.filter(assert_true(col(f.name).isNotNull,
        lit(s"NOT NULL constraint of $name.${f.name} violated: write contains NULL")).isNull)
    }
  }

  private def commitWrite(
      df: DataFrame,
      deleteKeys: Option[DataFrame],
      keyCols: Seq[String],
      operation: String,
      summary: Long => Map[String, String] = _ => Map.empty): Long = {
    // the upsert/applyChanges shape reads the batch twice (data write +
    // delete-key write, the keys a projection of the same deduped plan):
    // cache it for the commit's duration so the dedup shuffle runs once,
    // not once per write (and once more per optimistic retry)
    val cacheBatch = df != null && deleteKeys.isDefined
    if (cacheBatch) df.persist()
    try commitWriteInner(df, deleteKeys, keyCols, operation, summary)
    finally if (cacheBatch) df.unpersist()
  }

  private def commitWriteInner(
      df: DataFrame,
      deleteKeys: Option[DataFrame],
      keyCols: Seq[String],
      operation: String,
      summary: Long => Map[String, String]): Long = retryCommit { head =>
    if (operation != "delete") requireLineageSafe(head, operation)
    val seq = head.lastSeq + 1
    val commitId = UUID.randomUUID().toString
    // remember the delete-key columns in table properties so the key
    // schema survives compaction folding every delete file away — and
    // so this commit's data files already record key-column stats, the
    // manifest stat that lets reads prune history files by key range
    val withKeyProp =
      if (keyCols.nonEmpty && !head.properties.contains(DeleteKeyColumnsProp))
        head.copy(properties = head.properties + (DeleteKeyColumnsProp -> keyCols.mkString(",")))
      else head
    val (dataFiles, count, fileStats, dataMetrics) =
      if (df != null)
        writeDataFiles(
          enforceChecks(conformToSchema(df, head.schema), head.schema, head.properties)
            .withColumn(SeqCol, lit(seq)),
          commitId, withKeyProp, nFiles = None, sortBy = writeSortBy(head.properties))
      else (Seq.empty[String], 0L, Map.empty[String, Map[String, (String, String)]],
        Map.empty[String, (Long, Long)])
    val (deleteFiles, deleteStats, deleteMetrics) = deleteKeys match {
      case Some(keys) =>
        val out = s"$location/deletes/$commitId"
        val keyRows = keys.withColumn(SeqCol, lit(seq))
        val keysW = if (isSmallBatch(keyRows)) keyRows.coalesce(1) else keyRows
        graft.util.Phase.timed("delete.job")(fastWrite(keysW).parquet(out))
        val listed = graft.util.Phase.timed("delete.list")(listParquetInfos(out))
        val infos = graft.util.Phase.timed("delete.footers")(listed.map { case (f, bytes) =>
          val (rows, stats) = footerInfo(f, keyStatColumns(keyCols, head.schema).toMap)
          (f, rows, bytes, stats)
        })
        (listed.map(_._1),
          infos.collect { case (f, _, _, s) if s.nonEmpty => f -> s }.toMap,
          infos.map { case (f, rows, bytes, _) => f -> (rows, bytes) }.toMap)
      case None => (Nil, Map.empty[String, Map[String, (String, String)]],
        Map.empty[String, (Long, Long)])
    }
    (withKeyProp.withSnapshot(Snapshot(seq, System.currentTimeMillis(), operation,
      dataFiles, deleteFiles, count, fileStats ++ deleteStats, summary = summary(count),
      fileMetrics = dataMetrics ++ deleteMetrics)), seq)
  }

  // ------------------------------------------------------------- reads

  /** Merge-on-Read view (reference R3): data files minus equality
    * deletes. A row written at seq S survives unless some delete for its
    * key has delete-seq > S (a commit's own data survives its paired
    * delete at the same seq). The raw delete rows are broadcast into
    * one conditional anti-join — deletes are assumed small relative to
    * data; past the byte guard they are first folded to one row per
    * key ([[applyDeletes]]). Compaction folds them in and resets this
    * cost. The unfiltered [[scan]].
    */
  def read(): DataFrame = scan(Nil)

  /** The one Merge-on-Read scan: the current table state restricted to
    * the rows matching `filters` (ANDed; the DSv2 pushdown vocabulary,
    * each translatable by [[IceliteTable.filterColumn]]). [[planFiles]]
    * keeps the read to the files that can match; the filters then bound
    * the data rows before position deletes, DVs and equality deletes
    * merge. A filter may name a derived partition column of the current
    * or a retired spec: it is recomputed from its base column, exact for
    * files of every spec generation. [[read]], [[readAt]], the SQL scan
    * and [[merge]]'s target scan all run this body.
    */
  def scan(filters: Seq[Filter]): DataFrame = {
    val m = cachedMeta
    scanAs(m.snapshots, m.schema, Long.MaxValue, filters)
  }

  /** Time travel (Iceberg snapshot read): table state as of commit
    * `asOfSeq`. History reaches back to the last rewrite snapshot
    * (compaction/truncate collapse earlier history by design — the
    * same trade Iceberg makes when old snapshots are expired).
    */
  /** Time travel by TIMESTAMP (Iceberg's `FOR SYSTEM_TIME AS OF`): the
    * table state at the newest commit whose wall-clock timestamp is
    * ≤ `tsMillis` — resolves to a seq from metadata alone, then reads
    * via [[readAt]]. Errors when the timestamp precedes all retained
    * history (same contract as Iceberg: expired snapshots cannot be
    * resurrected).
    */
  def readAsOf(tsMillis: Long): DataFrame = {
    val snaps = cachedMeta.snapshots.filter(_.timestampMs <= tsMillis)
    if (snaps.isEmpty)
      throw new IllegalArgumentException(
        s"no snapshot of $name at or before timestamp $tsMillis " +
          s"(oldest retained: ${cachedMeta.snapshots.headOption.map(_.timestampMs)})")
    readAt(snaps.map(_.seq).max)
  }

  def readAt(asOfSeq: Long): DataFrame = {
    val m = cachedMeta
    // a rewrite/truncate/cold-fold REPLACES collapsed history, so the
    // oldest retained seq moving past 1 means earlier states are gone;
    // answering them with an empty frame would silently misreport
    // every surviving row as "inserted since" — refuse instead (the
    // readAsOf contract: expired snapshots cannot be resurrected).
    // asOfSeq = 0 on a never-rewritten table stays the legitimate
    // "before the first commit" empty read.
    m.snapshots.map(_.seq).minOption.foreach { oldest =>
      if (asOfSeq < oldest && oldest > 1)
        throw new IllegalArgumentException(
          s"snapshot $asOfSeq of $name is not retained — history below " +
            s"$oldest was collapsed by a rewrite/truncate and cannot be resurrected")
    }
    // a partition overwrite or CoW update prunes dead files out of
    // PRIOR snapshots in place (their seqs survive, their bytes don't)
    // — serving a seq below it would silently return the rewritten
    // files' rows MISSING instead of as-of-then. Refuse like any
    // collapsed history.
    m.snapshots.filter(s =>
        s.operation == "overwrite-partitions" || s.operation == "rewrite-update")
      .map(_.seq).maxOption.foreach { ow =>
        if (asOfSeq < ow)
          throw new IllegalArgumentException(
            s"snapshot $asOfSeq of $name is not reconstructible — the in-place " +
              s"file rewrite at seq $ow pruned prior snapshots' files")
      }
    scanAs(m.snapshots.filter(_.seq <= asOfSeq), schemaAt(asOfSeq), asOfSeq, Nil)
  }

  /** Incremental consumption: the row VERSIONS appended after
    * `sinceSeq` (inserts + new upsert images, tagged with their commit
    * seq in `_graft_seq`). Pair with [[readDeleteKeysSince]] for a
    * complete change feed — delete-only commits produce no data files,
    * so this alone never reflects removals. Caveats for consumers:
    * dedup on key / latest seq wins (at-least-once downstream), and a
    * compaction rewrite re-tags every surviving row with the rewrite
    * seq — after maintenance, resync from the full table rather than
    * consuming the rewrite as an increment.
    */
  def readAppendedSince(sinceSeq: Long): DataFrame = {
    val m = cachedMeta
    // scoped guard: a pos delete at seq P can only target files written
    // at seq ≤ P, so one at or below the consumer's checkpoint is
    // already reflected in the state the consumer resynced from — only
    // NEWER pos-delete commits make the feed unservable
    requireNoPosDeletes(m, "incremental feed", afterSeq = sinceSeq)
    val snaps = m.snapshots.filter(_.seq > sinceSeq)
    readFiles(snaps.flatMap(_.dataFiles))
  }

  /** The incremental feed and changelog are KEY-event protocols, and a
    * position delete removes physical rows with no key: its removals
    * are inexpressible, so serving the feed anyway would silently hand
    * consumers resurrected rows. Refuse instead (same contract as
    * truncate); compaction folds pos deletes away and re-enables.
    * Checks the CALLER's captured meta so the guard can never validate
    * a different snapshot list than the one being read.
    */
  private def requireNoPosDeletes(
      m: TableMeta, what: String, afterSeq: Long = Long.MinValue): Unit =
    m.snapshots.find(s => s.seq > afterSeq && s.posDeleteFiles.nonEmpty).foreach { s =>
      throw new IllegalStateException(
        s"$what over $name: live position-delete snapshot ${s.seq} — " +
          "physical-row deletes have no key events; compact() to fold them, " +
          "then resync from the full table")
    }

  /** Keys equality-deleted (or replaced by upsert) after `sinceSeq`,
    * tagged with the deleting commit's seq — the removal half of the
    * incremental feed. The empty result keeps the key schema recorded
    * in table properties at the first delete commit (so a consumer's
    * `.select("_id")` works on quiet periods and after compaction
    * folded all delete files away); a table that never saw a delete
    * yields just the seq column.
    */
  def readDeleteKeysSince(sinceSeq: Long): DataFrame = {
    requireNoPosDeletes(cachedMeta, "incremental delete feed", afterSeq = sinceSeq)
    val files = cachedMeta.snapshots.filter(_.seq > sinceSeq).flatMap(_.deleteFiles)
    if (files.nonEmpty) readEqDeletes(files)
    else {
      val schema = cachedMeta.properties.get(DeleteKeyColumnsProp) match {
        case Some(cols) =>
          cols.split(',').foldLeft(new StructType()) { (acc, c) =>
            acc.add(cachedMeta.schema(c))
          }.add(SeqCol, "long")
        case None => new StructType().add(SeqCol, "long")
      }
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** CDF-style changelog read (Iceberg changelog scan with
    * identifier-column update pairing; Delta CDF): every row-level
    * change committed in `(fromSeq, toSeq]`, tagged
    * `_change_type` ∈ {insert, update_preimage, update_postimage,
    * delete} and `_commit_seq`. Deletes and update pre-images carry
    * the row's last live version before the deleting commit.
    *
    * Scale shape: full history is consulted ONLY for keys that have a
    * delete event in range — historical data/delete file lists are
    * first PRUNED by key-column footer stats against the affected-key
    * min/max (a narrow change range over a 100 TB table reads a file
    * subset, not the table), then one semi-join of the pruned scan
    * against the (change-volume-bounded, usually broadcastable)
    * affected-key set, then ONE window pass over those keys' event
    * logs classifies every emission (`lag`×2 + `lead`; a same-seq
    * equality delete + data row is an upsert pair). Rows never pass
    * through the driver.
    *
    * Maintenance snapshots re-tag rows (rewrite) or drop files without
    * delete events (truncate), so a range crossing one is not a
    * derivable changelog — callers get an error and should resync; a
    * range reaching BEFORE the oldest retained snapshot (its commits
    * expired by compaction/snapshot expiry) errors the same way
    * instead of silently under-reporting. Assumes keys are unique
    * within a commit (upsert guarantees this; plain `append` of
    * duplicate keys in ONE commit makes same-seq event order
    * ambiguous).
    */
  def readChanges(fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq <= toSeq, s"fromSeq $fromSeq > toSeq $toSeq")
    val m = cachedMeta
    // expired history: seqs in range older than the oldest retained
    // snapshot were collapsed by a rewrite and GC'd — not derivable
    m.snapshots.headOption.foreach { oldest =>
      if (fromSeq < toSeq && fromSeq + 1 < oldest.seq)
        throw new IllegalStateException(
          s"changelog range ($fromSeq, $toSeq] reaches before the oldest " +
            s"retained snapshot ${oldest.seq} of $name: that history has " +
            "expired (compaction/snapshot expiry) — resync from the full table")
    }
    val inRange = m.snapshots.filter(s => s.seq > fromSeq && s.seq <= toSeq)
    inRange.find(s => s.operation.startsWith("rewrite") || s.operation == "truncate" ||
        s.operation == "rollback" || s.operation.startsWith("overwrite"))
      .foreach { s =>
        throw new IllegalStateException(
          s"changelog range ($fromSeq, $toSeq] crosses maintenance snapshot " +
            s"${s.seq} (${s.operation}): layout rewrites re-tag row seqs and " +
            "rollbacks erase commits — resync from the full table instead")
      }
    // position deletes RESOLVE to the rows they killed by coordinate
    // join (Iceberg's changelog scan does the same): the referenced
    // data files are re-read with physical coordinates and inner-
    // joined to the stored (file, pos) tuples, recovering each deleted
    // row's payload as an exact pre-image. Only the referenced files
    // are scanned (the coordinate file list is metadata-sized).
    val posInRange = inRange.flatMap(_.posDeleteFiles)
    val posAll = m.snapshots.filter(_.seq <= toSeq).flatMap(_.posDeleteFiles)
    def resolvePos(posFiles: Seq[String]): DataFrame = {
      val coords = readKnown(PosDeleteSchema, posFiles)
        .select(col(PosFileCol), col(PosCol), col(SeqCol).as("_pos_seq"))
      val referenced = coords.select(col(PosFileCol)).distinct()
        .collect().map(_.getString(0)).toSet // bounded by table file count
      val files = m.snapshots.filter(_.seq <= toSeq).flatMap(_.dataFiles)
        .filter(referenced.contains)
      readFilesAs(files, m.schema, Long.MaxValue, withPos = true)
        .join(deleteSide(coords, estimateBytes(posFiles)), Seq(PosFileCol, PosCol))
    }
    val payloadCols = m.schema.fieldNames.toSeq
    def emit(df: DataFrame, tpe: Column, seqCol: Column): DataFrame =
      df.select(payloadCols.map(col) ++ Seq(tpe.as(ChangeTypeCol), seqCol.as(CommitSeqCol)): _*)

    val outSchema = m.schema.add(ChangeTypeCol, "string").add(CommitSeqCol, "long")
    if (inRange.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)

    val addedInRange = readFiles(inRange.flatMap(_.dataFiles))
    val delFilesInRange = inRange.flatMap(_.deleteFiles)
    if (delFilesInRange.isEmpty && posInRange.isEmpty)
      return emit(addedInRange, lit("insert"), col(SeqCol))
    // key columns: the recorded table property, else derivable from
    // in-range delete files; absent only on keyless tables
    val keyColsOpt = m.properties.get(DeleteKeyColumnsProp).map(_.split(',').toSeq)
      .orElse(if (delFilesInRange.nonEmpty) Some(keyColumnsOfDeletes(delFilesInRange))
        else None)
    if (keyColsOpt.isEmpty) {
      // KEYLESS table: every added row is an insert and every in-range
      // pos delete is a resolved-row delete event (an updateWhere
      // commit reads as delete + insert at one seq — physical rows of
      // a keyless table carry no pairing identity)
      val inserts = emit(addedInRange, lit("insert"), col(SeqCol))
      return inserts.unionByName(
        emit(resolvePos(posInRange), lit("delete"), col("_pos_seq")))
    }
    // KEYED table: always the per-key event log — even a pos-delete-
    // only range classifies through it, so an incremental per-commit
    // consumer sees the same change types a wide-range reader does.
    val keyCols = keyColsOpt.get
    def emptyKeyed: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType((keyCols.map(k => m.schema(k)) :+
        org.apache.spark.sql.types.StructField(SeqCol,
          org.apache.spark.sql.types.LongType)).toArray))
    // affected keys come from the IN-RANGE delete files (each delete
    // row carries its commit seq) plus the keys of rows pos-deleted in
    // range; their min/max per prunable key column then prunes the
    // historical file lists CONJUNCTIVELY before any data IO. Resolved
    // pos deletes join the per-key event log as delete events, so the
    // lag/lead machinery sees the row leave at the pos-delete seq —
    // pre-images stay exact when physical and keyed deletes interleave.
    // The resolution is projected to (keys, seq) and materialized ONCE
    // (localCheckpoint): it feeds the bounds agg, the affected-key set
    // and the event log, and re-running the coordinate join per subtree
    // would multiply the dominant IO of the read.
    val resolvedPos = if (posAll.isEmpty) None
      else Some(resolvePos(posAll)
        .select(keyCols.map(col) :+ col("_pos_seq"): _*).localCheckpoint())
    val delInRange = if (delFilesInRange.isEmpty) emptyKeyed
      else readEqDeletes(delFilesInRange)
    val affectedKeySrc = resolvedPos match {
      case Some(rp) => delInRange.select(keyCols.map(col): _*)
        .unionByName(rp.filter(col("_pos_seq") > fromSeq).select(keyCols.map(col): _*))
      case None => delInRange.select(keyCols.map(col): _*)
    }
    val affected = affectedKeySrc.distinct()
    val (histDataFiles, histDelFiles) =
      planFiles(m.snapshots.filter(_.seq <= toSeq), keyRangeFilters(affectedKeySrc, keyCols))
    val delAll = if (histDelFiles.isEmpty) emptyKeyed
      else readEqDeletes(histDelFiles)

    // keys never deleted in range: plain inserts, no history needed
    val plainInserts = emit(
      addedInRange.join(affected, keyCols, "left_anti"), lit("insert"), col(SeqCol))

    // event log for affected keys: kind 0 = delete, 1 = data; at equal
    // seq the delete sorts first (upsert semantics: own-seq data survives)
    val payload = struct(payloadCols.map(col): _*)
    val dataHist = readFiles(histDataFiles)
      .join(affected, keyCols, "left_semi")
    val dEv = dataHist.select(
      keyCols.map(col) ++ Seq(col(SeqCol).as("_ev_seq"), lit(1).as("_ev_kind"), payload.as("_ev_p")): _*)
    val pType = dEv.schema("_ev_p").dataType
    val xEv = delAll.join(affected, keyCols, "left_semi").select(
      keyCols.map(col) ++ Seq(col(SeqCol).as("_ev_seq"), lit(0).as("_ev_kind"),
        lit(null).cast(pType).as("_ev_p")): _*)
    // resolved pos deletes (any seq ≤ toSeq) as delete events for
    // affected keys: a key pos-deleted BEFORE the range must show its
    // row leaving then, or a later equality delete would fabricate a
    // pre-image for an already-gone row
    val pEv = resolvedPos.map(_.join(affected, keyCols, "left_semi").select(
      keyCols.map(col) ++ Seq(col("_pos_seq").as("_ev_seq"), lit(0).as("_ev_kind"),
        lit(null).cast(pType).as("_ev_p")): _*))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_ev_seq"), col("_ev_kind"))
    val g = pEv.foldLeft(dEv.unionByName(xEv))(_ unionByName _)
      .withColumn("_pk1", lag("_ev_kind", 1).over(w))
      .withColumn("_ps1", lag("_ev_seq", 1).over(w))
      .withColumn("_pp1", lag("_ev_p", 1).over(w))
      .withColumn("_pk2", lag("_ev_kind", 2).over(w))
      .withColumn("_nk", lead("_ev_kind", 1).over(w))
      .withColumn("_ns", lead("_ev_seq", 1).over(w))
      .filter(col("_ev_seq") > fromSeq)
    // data event: an upsert pair (same-seq delete whose own predecessor
    // was live data) is a post-image; anything else is an insert
    val posts = emit(
      g.filter(col("_ev_kind") === 1).select(col("_ev_seq"), col("_ev_p").as("_row"),
        (col("_pk1") === 0 && col("_ps1") === col("_ev_seq") && col("_pk2") === 1).as("_upd"))
        .select(col("_ev_seq"), col("_row.*"), col("_upd")),
      when(col("_upd"), "update_postimage").otherwise("insert"), col("_ev_seq"))
    // delete event with a live predecessor: pre-image row; paired with
    // a same-seq data event it is an update, otherwise a delete
    val pres = emit(
      g.filter(col("_ev_kind") === 0 && col("_pk1") === 1)
        .select(col("_ev_seq"), col("_pp1").as("_row"),
          (col("_nk") === 1 && col("_ns") === col("_ev_seq")).as("_upd"))
        .select(col("_ev_seq"), col("_row.*"), col("_upd")),
      when(col("_upd"), "update_preimage").otherwise("delete"), col("_ev_seq"))
    plainInserts.unionByName(posts).unionByName(pres)
  }

  /** Delete-side join strategy guard: the MoR merge broadcasts the
    * delete set while its at-rest bytes stay under this bound, and
    * past it folds the set to one row per key and falls back to a
    * shuffle join — a churn-heavy table between compactions must
    * degrade to a (correct, slower) shuffle, not blow the executor
    * broadcast limit. Compaction folds deletes away and restores the
    * broadcast path.
    */
  private[table] var maxBroadcastDeleteBytes: Long = 256L << 20

  /** Estimated in-memory bytes per AGGREGATED delete-side row (key
    * columns + max-seq + row overhead) — what converts an ANALYZE NDV
    * estimate into a broadcast-size estimate.
    */
  private[table] var estDeleteKeyRowBytes: Long = 64L

  /** Distinct key-tuple estimate from the latest ANALYZE snapshot:
    * per-column KMV NDVs, product-combined for composite keys (the
    * independence upper bound — over-estimating keeps the decision on
    * the safe, shuffle side). None when the table was never analyzed
    * or the analyze run did not cover every key column — the planner
    * input exists only where the stats snapshot actually speaks.
    */
  private def statsKeyNdv(keyCols: Seq[String]): Option[Long] =
    cachedMeta.snapshots.reverse.find(_.operation == "analyze").flatMap { s =>
      val covered = s.summary.get("stats.columns")
        .exists(cs => keyCols.forall(cs.split(',').toSet))
      if (!covered || keyCols.isEmpty) None
      else Some(keyCols.map(c => math.max(1L, s.summary(s"stats.$c.ndv").toLong))
        .reduce((a, b) => if (a > Long.MaxValue / b) Long.MaxValue else a * b))
    }

  /** Delete-side join strategy: prefer the ANALYZE stats estimate
    * when one covers the key columns — the FOLDED delete set has at
    * most ~NDV(key) rows, so a churn-heavy table whose raw delete
    * files exceed the byte guard (the same key rewritten thousands of
    * times) still broadcasts the small folded set; fall back to the
    * at-rest byte threshold when no stats snapshot speaks. `keyCols`
    * is None for position deletes (coordinates have no column stats).
    */
  private def deleteSide(
      dels: DataFrame, bytes: Long, keyCols: Option[Seq[String]] = None): DataFrame = {
    val fits = keyCols.flatMap(statsKeyNdv) match {
      case Some(ndv) => ndv <= maxBroadcastDeleteBytes / estDeleteKeyRowBytes
      case None => bytes <= maxBroadcastDeleteBytes
    }
    if (fits) broadcast(dels) else dels
  }

  /** MoR survivor filter shared by every read path (the Iceberg scan
    * rule): a row written at seq S is dropped by an equality delete
    * for its key with seq > S, so a commit's own data survives its
    * paired delete at the same seq. One conditional anti-join,
    * `data LEFT ANTI JOIN dels ON keys AND dels.seq > data.seq`, over
    * the raw delete rows — no aggregate, so no shuffle stage ahead of
    * the broadcast. Past [[maxBroadcastDeleteBytes]] the delete rows
    * are first folded to the per-key max seq, which keeps the answer
    * and bounds the join side by the key count. NULL keys never match,
    * so NULL-keyed rows survive.
    */
  private def applyDeletes(data: DataFrame, deleteFiles: Seq[String]): DataFrame =
    if (deleteFiles.isEmpty) data
    else {
      val delSchema = footerSchema(deleteFiles.head)
      val keyCols = delSchema.fieldNames.filterNot(_ == SeqCol).toSeq
      val bytes = estimateBytes(deleteFiles)
      val raw = readKnown(delSchema, deleteFiles)
      val dels =
        if (bytes > maxBroadcastDeleteBytes)
          raw.groupBy(keyCols.map(col): _*).agg(max(col(SeqCol)).as(DelSeqCol))
        else raw.withColumnRenamed(SeqCol, DelSeqCol)
      // delete-side keys renamed apart so the condition resolves each
      // name to exactly one side
      val delKey = keyCols.indices.map(i => s"_del_key_$i")
      val side = dels.select(keyCols.zip(delKey).map { case (k, d) => col(k).as(d) } :+
        col(DelSeqCol): _*)
      val on = keyCols.zip(delKey).map { case (k, d) => col(k) === col(d) }
        .reduce(_ && _) && col(DelSeqCol) > col(SeqCol)
      data.join(deleteSide(side, bytes, Some(keyCols)), on, "left_anti")
    }

  /** Remove position-deleted PHYSICAL rows: anti-join on the
    * (file_path, pos) coordinates carried by the scan (`data` must
    * have been read `withPos`). Coordinate sets are small relative to
    * data (bounded by rows ever point-deleted), so the delete side
    * broadcasts under the same size guard as the equality side.
    */
  private def applyPosDeletes(data: DataFrame, posDeleteFiles: Seq[String]): DataFrame =
    if (posDeleteFiles.isEmpty) data
    else {
      val dels = readKnown(PosDeleteSchema, posDeleteFiles)
        .select(col(PosFileCol), col(PosCol)).dropDuplicates(PosFileCol, PosCol)
      data.join(deleteSide(dels, estimateBytes(posDeleteFiles)),
        Seq(PosFileCol, PosCol), "left_anti")
    }

  /** Effective position-delete state for a snapshot scope: the NEWEST
    * DV consolidation ([[consolidateDeleteVectors]]) supersedes every
    * coordinate file at or before its seq; coordinate files committed
    * after it still apply as coordinates until the next consolidation.
    * Old snapshots keep their coordinate lists, so time travel BEFORE
    * the consolidation (whose scope excludes the DV snapshot) and
    * changelog derivation still resolve the original coordinates.
    */
  private def posDeleteState(snaps: Seq[Snapshot]): (Seq[String], Seq[String]) = {
    // a FULL consolidation snapshot counts as a DV generation even
    // when it wrote no bitmap (every delete was inert): it still
    // supersedes all coordinates at or before its seq
    val dvSnap = snaps.filter(s =>
      s.dvFiles.nonEmpty || s.operation == "rewrite-dv-full").lastOption
    (dvSnap.map(_.dvFiles).getOrElse(Nil),
      snaps.filter(s => dvSnap.forall(s.seq > _.seq)).flatMap(_.posDeleteFiles))
  }

  /** Effective EQUALITY-delete state for a snapshot scope: a FULL
    * consolidation ([[consolidateDeletesFull]], op `rewrite-dv-full`)
    * resolved every equality delete at or before its seq into the DV
    * bitmaps, so only delete files committed AFTER it — the hot tail —
    * still anti-join at read time. Old snapshots keep their delete
    * lists, so time travel and changelog scopes BEFORE the
    * consolidation still resolve the original files.
    */
  private def eqDeleteState(snaps: Seq[Snapshot]): Seq[String] = {
    val full = snaps.filter(_.operation == "rewrite-dv-full").lastOption
    snaps.filter(s => full.forall(s.seq > _.seq)).flatMap(_.deleteFiles)
  }

  /** True when the scan must carry (file, pos) coordinates for `snaps`. */
  private def needPosCols(snaps: Seq[Snapshot]): Boolean = {
    val (dvs, coords) = posDeleteState(snaps)
    dvs.nonEmpty || coords.nonEmpty
  }

  /** Apply DELETION VECTORS: per-file bitmaps broadcast to the scan, a
    * codegen'd membership test ([[DvContains]]) drops deleted rows
    * scan-locally — no (file, pos) anti-join shuffle. Rows from files
    * with no DV keep a null bitmap and pass. The broadcast hint is
    * SIZE-GATED under the same bound as the equality delete side
    * (Spark honors an explicit hint regardless of
    * autoBroadcastJoinThreshold, so an unguarded hint on a DV set that
    * outgrew the budget would fail the job instead of degrading to the
    * shuffle join — the r14-ADVICE triangle lesson applied here).
    */
  private def applyDv(data: DataFrame, dvFiles: Seq[String]): DataFrame =
    if (dvFiles.isEmpty) data
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val dvs = deleteSide(
        readKnown(DvSchema, dvFiles).select(col(PosFileCol), col(DvCol)), estimateBytes(dvFiles))
      val hit = ColumnBridge.column(DvContains(
        ColumnBridge.expression(col(DvCol)), ColumnBridge.expression(col(PosCol))))
      data.join(dvs, Seq(PosFileCol), "left")
        .filter(!coalesce(hit, lit(false)))
        .drop(DvCol)
    }

  /** DV + coordinate position deletes for a snapshot scope, in
    * supersession order — the one entry point every MoR read variant
    * uses, so consolidation can never be bypassed by a pruned path.
    */
  private def applyPosState(data: DataFrame, snaps: Seq[Snapshot]): DataFrame = {
    val (dvs, coords) = posDeleteState(snaps)
    applyPosDeletes(applyDv(data, dvs), coords)
  }

  /** [[scan]] under an explicit target schema valid at `asOf` — the
    * current schema, or for [[readAt]] the schema as of the travel seq
    * (later-renamed columns under their then-current names,
    * later-dropped columns present).
    */
  private def scanAs(snaps: Seq[Snapshot], target: StructType, asOf: Long,
      filters: Seq[Filter]): DataFrame = {
    val m = cachedMeta
    val (dataFiles, deleteFiles) = planFiles(snaps, filters)
    val conds = filters.map(f => IceliteTable.filterColumn(f).getOrElse(
      throw new IllegalArgumentException(s"scan of $name: filter $f has no column form")))
    val derived = (m.partitioning ++ parseRetired(m.properties))
      .filter(p => filters.exists(_.references.contains(partColName(p))))
    requireSessionTz(derived)
    // pos coordinates ride the scan only when a pos delete or DV is in
    // scope — the common (no-pos-delete) plan is unchanged; stored
    // derived columns are projected away, so filtered ones are recomputed
    val data = derived.foldLeft(readFilesAs(dataFiles, target, asOf,
      withPos = needPosCols(snaps)))((d, p) => d.withColumn(partColName(p), transformColumn(p)._2))
    val eqLive = eqDeleteState(snaps).toSet
    applyDeletes(applyPosState(conds.foldLeft(data)(_ filter _), snaps),
      deleteFiles.filter(eqLive))
      .select(target.fieldNames.map(col).toSeq: _*)
  }

  /** Read including the hidden seq + derived partition columns (for
    * tests, compaction and incremental consumers).
    */
  def readRaw(): DataFrame = readFiles(cachedMeta.liveDataFiles)

  // ------------------------------------------- metadata tables (Iceberg
  // exposes `table.history` / `table.files`; same introspection here)

  /** Snapshot history as a DataFrame — one row per live snapshot:
    * (seq, committed_at, operation, n_data_files, n_delete_files,
    * record_count). Driver-side metadata only; no data IO.
    */
  def historyTable(): DataFrame = {
    import spark.implicits._
    cachedMeta.snapshots.map { s =>
      (s.seq, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.dataFiles.size, s.deleteFiles.size, s.recordCount)
    }.toDF("seq", "committed_at", "operation",
      "n_data_files", "n_delete_files", "record_count")
  }

  /** Iceberg's `snapshots` metadata table — one row per retained
    * snapshot with its commit SUMMARY and added/cumulative totals:
    * (seq, committed_at, operation, added_data_files,
    * added_delete_files, added_pos_delete_files, added_records,
    * added_file_bytes, total_data_files, total_records, summary).
    * `added_records` is the snapshot's recordCount (data rows written
    * by that commit — 0 for delete-only commits); `total_*` are
    * cumulative over the RETAINED log, which after a rewrite restarts
    * at the rewrite snapshot exactly as Iceberg totals restart from
    * surviving manifests. `added_file_bytes` is null when any of the
    * snapshot's files predates metrics capture (never guessed).
    * Driver-side metadata only; no data IO.
    */
  def snapshotsTable(): DataFrame = {
    import spark.implicits._
    val m = cachedMeta
    var cumFiles = 0L
    var cumRecords = 0L
    m.snapshots.map { s =>
      cumFiles += s.dataFiles.size
      cumRecords += s.recordCount
      val bytes =
        if (s.dataFiles.forall(s.fileMetrics.contains))
          Some(s.dataFiles.map(f => s.fileMetrics(f)._2).sum)
        else None
      (s.seq, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.dataFiles.size.toLong, s.deleteFiles.size.toLong,
        s.posDeleteFiles.size.toLong, s.recordCount, bytes,
        cumFiles, cumRecords, s.summary)
    }.toDF("seq", "committed_at", "operation", "added_data_files",
      "added_delete_files", "added_pos_delete_files", "added_records",
      "added_file_bytes", "total_data_files", "total_records", "summary")
  }

  /** Iceberg's `manifests`-style per-file metrics table — one row per
    * live file with the (row_count, size_bytes) captured at commit
    * time: (file, content, seq, operation, record_count,
    * file_size_bytes). Metrics come from TABLE METADATA alone (the
    * commit path records them from the footer/listing it already
    * reads) — planning a maintenance pass over 100 TB touches no data
    * file. Files committed before metrics capture surface nulls.
    */
  def manifestsTable(): DataFrame = {
    import spark.implicits._
    cachedMeta.snapshots.flatMap { s =>
      def m(f: String) = s.fileMetrics.get(f)
      s.dataFiles.map(f => (f, "data", s.seq, s.operation, m(f).map(_._1), m(f).map(_._2))) ++
        s.deleteFiles.map(f => (f, "delete", s.seq, s.operation, m(f).map(_._1), m(f).map(_._2))) ++
        s.posDeleteFiles.map(f =>
          (f, "pos-delete", s.seq, s.operation, m(f).map(_._1), m(f).map(_._2)))
    }.toDF("file", "content", "seq", "operation", "record_count", "file_size_bytes")
  }

  /** ANALYZE — column statistics computed in ONE aggregation over the
    * current MoR view and published as a metadata-only `analyze`
    * snapshot whose summary carries the stats (the Iceberg
    * compute-table-stats / puffin shape: statistics travel in table
    * metadata, atomically versioned alongside the data they describe).
    * Per column: non-null count and a KMV distinct estimate over the
    * portable md5-prefix hash of the value's CANONICAL string form —
    * the same mergeable sketch the query surface exposes. Cross-engine
    * contract: the published numbers are bit-reproducible by a
    * relational recomputation in another engine for every analyzed
    * type. Integral, string, decimal and boolean columns hash their
    * string cast (engines agree on those). Float/double columns hash
    * a normalized C99 hex-float (`%a`) encoding instead of the
    * engine's decimal rendering — shortest-decimal renderings diverge
    * across engines outside the plain-decimal range (E-notation
    * thresholds differ), but the hex mantissa/exponent form is exact
    * and engine-portable once normalized (strip the `+` exponent sign
    * and the vacuous `.0` fraction; NaN/±inf/zero map to fixed
    * tokens, collapsing -0.0 with 0.0). The DuckDB side of the
    * `table_analyze` gate recomputes the identical encoding via
    * `printf('%a', v)`, proven bit-equal over the full double range.
    *
    * Scale: one scan with map-side partial aggregation (≤ k longs per
    * column through the shuffle), a 1-row collect, one metadata
    * rename; zero data files written. Returns the analyze snapshot's
    * seq. An analyze snapshot adds no rows, so changelog consumers
    * see nothing (an empty commit, like a no-op append).
    */
  def analyze(cols: Seq[String], k: Int = 256): Long = {
    require(cols.nonEmpty, "analyze needs at least one column")
    val sch = cachedMeta.schema
    cols.foreach(c => require(sch.fieldNames.contains(c), s"no column '$c' in $name"))
    val (n, per) = statsAggregate(read(), sch, cols, k)
    publishStats(cols, k, cols.map { c =>
      val (nn, vals, mn, mx) = per(c)
      ColStats(c, n, n - nn, vals, mn, mx)
    })
  }

  /** One column's merged statistics state: the mergeable tuple
    * (row count, null count, KMV retained minima, value bounds). The
    * NDV estimate and sketch size derive from `kmv` at publish time.
    * Bounds are canonical-repr strings ([[IceliteTable.canonRepr]]),
    * `None` when the column has no non-null value or its type has no
    * portable ordered encoding.
    */
  private case class ColStats(col: String, nRows: Long, nNulls: Long, kmv: Seq[Long],
    min: Option[String], max: Option[String])

  /** The ANALYZE aggregation over an arbitrary frame: total row count
    * plus, per column, (non-null count, KMV retained minima over the
    * canonical portable hash, canonical min/max bounds). Shared by the
    * full scan and the incremental delta scan so both paths hash and
    * bound identically.
    */
  /** Clamped equi-width bucket of `c` under FROZEN integer bounds:
    * `((v − lo)·B) div (hi − lo + 1)`, edges absorbing out-of-range
    * values — all-integer, so engine-portable, and bounds-frozen, so
    * bucket counts are MERGEABLE (they simply add across segments).
    */
  private def bucketOf(c: String, lo: Long, hi: Long, b: Int): Column = {
    val span = hi - lo + 1
    val raw = expr(s"((cast(`$c` as bigint) - ${lo}L) * ${b}L) div ${span}L")
    greatest(least(raw, lit(b.toLong - 1)), lit(0L))
  }

  private def statsAggregate(
      df: DataFrame, sch: StructType, cols: Seq[String], k: Int)
      : (Long, Map[String, (Long, Seq[Long], Option[String], Option[String])]) = {
    def canonicalStr(c: String): Column = sch(sch.fieldIndex(c)).dataType match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
        val d = col(c).cast("double")
        when(d.isNull, lit(null).cast("string"))
          .when(d.isNaN, lit("nan"))
          .when(d === Double.PositiveInfinity, lit("inf"))
          .when(d === Double.NegativeInfinity, lit("-inf"))
          .when(d === 0.0, lit("0")) // collapses -0.0
          .otherwise(regexp_replace(format_string("%a", d), "\\.0p", "p"))
      case _ => col(c).cast("string")
    }
    def hashOf(c: String) =
      conv(substring(md5(canonicalStr(c)), 1, 8), 16, 10).cast("long")
    // min/max only for types whose value ordering has a portable
    // canonical encoding; others publish no bounds (the typed value,
    // not the canonical string, is what min/max ranks — the canonical
    // repr of the winner is computed driver-side)
    def boundAgg(c: String): Option[(Column, Column)] =
      if (IceliteTable.boundedType(sch(sch.fieldIndex(c)).dataType))
        Some((min(col(c)), max(col(c)))) else None
    val aggs = count(lit(1)).as("_n") +:
      cols.flatMap { c =>
        Seq(count(col(c)).as(s"_nn_$c"),
          graft.functions.KmvSketchAgg.kmvSketchValues(hashOf(c), k).as(s"_kmv_$c")) ++
          boundAgg(c).toSeq.flatMap { case (mn, mx) =>
            Seq(mn.as(s"_mn_$c"), mx.as(s"_mx_$c")) }
      }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = r.getLong(0)
    var i = 1
    val per = cols.map { c =>
      val nn = r.getLong(i)
      val kmv = r.getStruct(i + 1).getSeq[Long](2)
      val dt = sch(sch.fieldIndex(c)).dataType
      val (mn, mx) =
        if (IceliteTable.boundedType(dt)) {
          val b = (if (r.isNullAt(i + 2)) None else Some(IceliteTable.canonRepr(r.get(i + 2), dt)),
            if (r.isNullAt(i + 3)) None else Some(IceliteTable.canonRepr(r.get(i + 3), dt)))
          i += 4; b
        } else { i += 2; (None, None) }
      c -> ((nn, kmv, mn, mx))
    }.toMap
    (n, per)
  }

  /** Per-column clamped bucket counts over `df` under FROZEN bounds —
    * one aggregation of B×C scan-local conditional sums, a 1-row
    * collect. Shared by the full histogram build and the incremental
    * delta fold so both paths bucket identically.
    */
  private def histAggregate(
      df: DataFrame, spec: Seq[(String, Long, Long)], b: Int): Map[String, Seq[Long]] = {
    val aggs = spec.flatMap { case (c, lo, hi) =>
      val bkt = bucketOf(c, lo, hi, b)
      (0 until b).map(i => sum(when(bkt === i.toLong, 1L).otherwise(0L)).as(s"_h_${c}_$i"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    spec.zipWithIndex.map { case ((c, _, _), ci) =>
      c -> (0 until b).map(i =>
        if (r.isNullAt(ci * b + i)) 0L else r.getLong(ci * b + i)).toSeq
    }.toMap
  }

  private def histSummary(
      spec: Seq[(String, Long, Long)], b: Int, counts: Map[String, Seq[Long]]): Map[String, String] =
    spec.flatMap { case (c, lo, hi) => Seq(
      s"hist.$c.lo" -> lo.toString,
      s"hist.$c.hi" -> hi.toString,
      s"hist.$c.counts" -> counts(c).mkString(","))
    }.toMap ++ Map(
      "hist.columns" -> spec.map(_._1).mkString(","),
      "hist.buckets" -> b.toString)

  /** Equi-width HISTOGRAM statistics (the selectivity-estimation input
    * a cost-based planner reads next after NDV): per-column clamped
    * bucket counts under bounds FROZEN from the latest [[analyze]]
    * snapshot — `((v − lo)·B) div (hi − lo + 1)`, all-integer and so
    * bit-reproducible cross-engine. Integral columns only (exact
    * bucket arithmetic); the column must carry analyze bounds.
    * Publishing extends the analyze snapshot's summary, so stats and
    * histogram travel together and [[analyzeIncremental]] folds BOTH:
    * frozen bounds make bucket counts purely additive across appends
    * (out-of-range late values clamp to the edge buckets — visible
    * skew at the edges says "re-analyze", never a wrong count).
    * One scan, B×C conditional sums, a metadata-only commit.
    */
  def analyzeHistogram(cols: Seq[String], buckets: Int = 16): Long = {
    require(cols.nonEmpty, "analyzeHistogram needs at least one column")
    require(buckets >= 2 && buckets <= 1024, s"bucket count $buckets out of range [2, 1024]")
    val m = cachedMeta
    val last = m.snapshots.reverse.find(_.operation == "analyze").getOrElse(
      throw new IllegalStateException(
        s"analyzeHistogram on $name: run analyze first (bounds come from its snapshot)"))
    import org.apache.spark.sql.types._
    val spec = cols.map { c =>
      m.schema.find(_.name == c) match {
        case Some(f) if Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) => ()
        case Some(_) => throw new IllegalArgumentException(
          s"analyzeHistogram on $name: '$c' is not integral (exact bucket math only)")
        case None => throw new IllegalArgumentException(s"no column '$c' in $name")
      }
      val lo = last.summary.getOrElse(s"stats.$c.min",
        throw new IllegalStateException(
          s"analyzeHistogram on $name: '$c' has no analyze bounds (not analyzed, or all-null)"))
      val hi = last.summary(s"stats.$c.max")
      (c, lo.toLong, hi.toLong)
    }
    val counts = histAggregate(read(), spec, buckets)
    retryCommit { head =>
      val seq = head.lastSeq + 1
      (head.withSnapshot(Snapshot(seq, System.currentTimeMillis(), "analyze",
        Nil, Nil, 0, summary = last.summary ++ histSummary(spec, buckets, counts))), seq)
    }
  }

  /** Latest histogram statistics as a metadata table — one row per
    * (column, bucket) with the bucket's EXACT value interval (the
    * integer inverse of the bucket mapping) and count; pure metadata,
    * no data IO. Empty if no histogram was published.
    */
  def histogramTable(): DataFrame = {
    import spark.implicits._
    val rows = cachedMeta.snapshots.reverse.find(_.operation == "analyze") match {
      case Some(s) if s.summary.get("hist.columns").exists(_.nonEmpty) =>
        val b = s.summary("hist.buckets").toInt
        s.summary("hist.columns").split(',').toSeq.flatMap { c =>
          val lo = s.summary(s"hist.$c.lo").toLong
          val hi = s.summary(s"hist.$c.hi").toLong
          val span = hi - lo + 1
          val counts = s.summary(s"hist.$c.counts").split(',').map(_.toLong)
          def ceilDiv(x: Long, y: Long) = (x + y - 1) / y
          (0 until b).map { i =>
            (c, i.toLong,
              lo + ceilDiv(i.toLong * span, b.toLong),
              lo + ceilDiv((i + 1).toLong * span, b.toLong) - 1,
              counts(i))
          }
        }
      case _ => Seq.empty[(String, Long, Long, Long, Long)]
    }
    rows.toDF("column", "bucket", "bucket_lo", "bucket_hi", "cnt")
  }

  /** Commit merged column stats as a metadata-only `analyze` snapshot.
    * Alongside the derived numbers, the summary carries the MERGEABLE
    * sketch state itself (`stats.<col>.kmv`, the ≤ k retained minima,
    * ~2 KB per column) — what makes [[analyzeIncremental]] possible.
    * `extra` entries (the folded histogram) ride along verbatim.
    */
  private def publishStats(cols: Seq[String], k: Int, stats: Seq[ColStats],
      extra: Map[String, String] = Map.empty): Long = {
    val summary = stats.flatMap { s =>
      val est =
        if (s.kmv.size < k) s.kmv.size.toLong
        else (k - 1).toLong * graft.functions.KmvSketchAgg.HashDomain / s.kmv.last
      Seq(
        s"stats.${s.col}.n_rows" -> s.nRows.toString,
        s"stats.${s.col}.n_nulls" -> s.nNulls.toString,
        s"stats.${s.col}.ndv" -> est.toString,
        s"stats.${s.col}.sketch_size" -> s.kmv.size.toString,
        s"stats.${s.col}.kmv" -> s.kmv.mkString(",")) ++
        s.min.map(v => s"stats.${s.col}.min" -> v) ++
        s.max.map(v => s"stats.${s.col}.max" -> v)
    }.toMap ++ Map("stats.columns" -> cols.mkString(","), "stats.k" -> k.toString) ++ extra
    retryCommit { head =>
      val seq = head.lastSeq + 1
      (head.withSnapshot(Snapshot(seq, System.currentTimeMillis(), "analyze",
        Nil, Nil, 0, summary = summary)), seq)
    }
  }

  /** Incremental ANALYZE — fold statistics forward over ONLY the data
    * files committed since the last analyze snapshot, never rescanning
    * the analyzed bulk. Every published statistic is a mergeable
    * reduction: row/null counts add, and the KMV sketch merge (k
    * smallest of the union of two retained-minima sets) is EXACTLY the
    * sketch a full recompute would build — any hash among the k
    * smallest overall is among the k smallest of whichever segment it
    * arrived in. So incremental ≡ full, bit-for-bit, proven by
    * `IceliteTableSpec` and the `table_analyze_incremental` gate
    * (DuckDB recomputes the merged stats from the full union).
    *
    * The fold is only sound over pure appends: a delete commit since
    * the last analyze removes rows the stored counters already
    * include, and sketches cannot subtract — those fall back to one
    * full [[analyze]] (same columns, same k), which re-bases the
    * incremental chain. A call with nothing new committed returns the
    * existing analyze seq without writing a snapshot.
    *
    * Scale: steady-state stats maintenance on a 100 TB table costs one
    * scan of the NEW files per call (the delta, typically MBs), a
    * ≤ k-longs-per-column shuffle, and a metadata rename — vs a full
    * rescan per refresh. This is the table-side analog of the ingest
    * index lifecycles: statistics build once and fold on append.
    */
  def analyzeIncremental(): Long = {
    val m = cachedMeta
    val last = m.snapshots.reverse.find(_.operation == "analyze").getOrElse(
      throw new IllegalStateException(
        s"analyzeIncremental on $name: no analyze snapshot to fold onto"))
    val cols = last.summary("stats.columns").split(',').toSeq
    val k = last.summary.get("stats.k").map(_.toInt).getOrElse(256)
    val newSnaps = m.snapshots.filter(_.seq > last.seq)
    // sketches can't subtract: any delete since the base → full re-analyze
    val impure = newSnaps.exists(s => s.deleteFiles.nonEmpty || s.posDeleteFiles.nonEmpty)
    // a pre-bounds base snapshot (bounded column with non-null rows but
    // no stored min) can't merge bounds either — re-base with one full pass
    def boundless(c: String) =
      IceliteTable.boundedType(m.schema(m.schema.fieldIndex(c)).dataType) &&
        last.summary(s"stats.$c.n_rows").toLong > last.summary(s"stats.$c.n_nulls").toLong &&
        !last.summary.contains(s"stats.$c.min")
    if (impure || !last.summary.contains(s"stats.${cols.head}.kmv") || cols.exists(boundless))
      return analyze(cols, k)
    val newFiles = newSnaps.flatMap(_.dataFiles)
    if (newFiles.isEmpty) return last.seq
    val delta = readFiles(newFiles)
    val (dn, per) = statsAggregate(delta, m.schema, cols, k)
    // a published histogram folds too: its bounds are FROZEN, so the
    // delta's clamped bucket counts simply add (one extra delta-only
    // scan); a delete-triggered full re-analyze drops the histogram —
    // re-run analyzeHistogram to re-base it
    val extra = last.summary.get("hist.columns").filter(_.nonEmpty) match {
      case Some(hc) =>
        val b = last.summary("hist.buckets").toInt
        val spec = hc.split(',').toSeq.map(c =>
          (c, last.summary(s"hist.$c.lo").toLong, last.summary(s"hist.$c.hi").toLong))
        val dCounts = histAggregate(delta, spec, b)
        histSummary(spec, b, spec.map { case (c, _, _) =>
          val prior = last.summary(s"hist.$c.counts").split(',').map(_.toLong)
          c -> prior.zip(dCounts(c)).map { case (a, d) => a + d }.toSeq
        }.toMap)
      case None => Map.empty[String, String]
    }
    publishStats(cols, k, extra = extra, stats = cols.map { c =>
      val (dnn, dvals, dmn, dmx) = per(c)
      val prior = last.summary(s"stats.$c.kmv") match {
        case "" => Seq.empty[Long]
        case s => s.split(',').toSeq.map(_.toLong)
      }
      val dt = m.schema(m.schema.fieldIndex(c)).dataType
      // bounds merge: min of mins / max of maxes under the TYPED
      // ordering (canonical reprs round-trip exactly, so comparing
      // parsed values is comparing the original aggregates)
      val pmn = last.summary.get(s"stats.$c.min")
      val pmx = last.summary.get(s"stats.$c.max")
      ColStats(c,
        last.summary(s"stats.$c.n_rows").toLong + dn,
        last.summary(s"stats.$c.n_nulls").toLong + (dn - dnn),
        (prior ++ dvals).distinct.sorted.take(k),
        IceliteTable.mergeBound(pmn, dmn, dt, isMin = true),
        IceliteTable.mergeBound(pmx, dmx, dt, isMin = false))
    })
  }

  /** Latest ANALYZE statistics as a metadata table, one row per
    * analyzed column — what a cost-based planner consumes. Rows parse
    * from the analyze snapshot's summary: pure table metadata, no
    * data IO at any table size. Empty if the table was never analyzed.
    */
  def statsTable(): DataFrame = {
    import spark.implicits._
    val rows = cachedMeta.snapshots.reverse.find(_.operation == "analyze") match {
      case None => Seq.empty[(String, Long, Long, Long, Long, Option[String], Option[String])]
      case Some(s) =>
        s.summary("stats.columns").split(',').toSeq.map { c =>
          (c, s.summary(s"stats.$c.n_rows").toLong,
            s.summary(s"stats.$c.n_nulls").toLong,
            s.summary(s"stats.$c.ndv").toLong,
            s.summary(s"stats.$c.sketch_size").toLong,
            s.summary.get(s"stats.$c.min"),
            s.summary.get(s"stats.$c.max"))
        }
    }
    rows.toDF("column", "n_rows", "n_nulls", "ndv_estimate", "sketch_size",
      "min_repr", "max_repr")
  }

  /** Live files as a DataFrame — one row per data/delete file with its
    * committing snapshot and any recorded partition-column min/max
    * (the manifest view a maintenance job plans from).
    */
  def filesTable(): DataFrame = {
    import spark.implicits._
    cachedMeta.snapshots.flatMap { s =>
      val stats = (f: String) => s.fileStats.getOrElse(f, Map.empty)
        .map { case (c, (mn, mx)) => (c, mn, mx) }.toSeq.sortBy(_._1)
      s.dataFiles.map(f => (f, "data", s.seq, s.operation, stats(f))) ++
        s.deleteFiles.map(f => (f, "delete", s.seq, s.operation, stats(f))) ++
        s.posDeleteFiles.map(f => (f, "pos-delete", s.seq, s.operation, stats(f)))
    }.toDF("file", "content", "seq", "operation", "partition_stats")
  }

  private def readFiles(files: Seq[String]): DataFrame =
    readFilesAs(files, cachedMeta.schema, Long.MaxValue)

  /** Read data files under `target` (names valid at `asOf`),
    * translating RENAMED columns per file epoch: a file written at
    * seq f stores a column under the name it had AT f, so files are
    * grouped by their translated name vector and each group is read
    * with its own schema, aliased back to the target names. A `None`
    * in the name vector marks a column (re-)ADDED after the file was
    * written — it is projected as NULL and kept OUT of the read
    * schema, which both enforces fresh-field semantics (a prior
    * life's bytes under the same name stay dead) and avoids
    * duplicate-name read schemas after rename(a→b) + add(a). With no
    * ops in scope this is one flat multi-file read — the common case
    * pays nothing. The committed schema fills evolution gaps with
    * nulls; derived partition columns live in-file and are projected
    * away (recomputable from the base column).
    */
  private def readFilesAs(
      files: Seq[String], target: StructType, asOf: Long,
      withPos: Boolean = false,
      meta: TableMeta = null): DataFrame = {
    // commit bodies that SCAN (deleteWhere/updateWhere) pass the head
    // they are committing against, so the epoch translation and spec
    // can never lag the schema the caller resolved
    val m = if (meta == null) cachedMeta else meta
    val full0 = target.add(SeqCol, "long")
    val full = if (withPos) full0.add(PosFileCol, "string").add(PosCol, "long") else full0
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
    // physical row coordinates for position deletes come straight from
    // the scan's metadata struct — no materialized pos column in files.
    // The file path is RELATIVIZED to `data/<commit>/<part>` (the last
    // `/data/` segment is always the table's data dir: commit ids are
    // UUIDs and part names are parquet's) so stored coordinates survive
    // a table relocation, like every other path in table metadata.
    val posCols = if (withPos)
      Seq(concat(lit("data/"), substring_index(col("_metadata.file_path"), "/data/", -1))
          .as(PosFileCol),
        col("_metadata.row_index").as(PosCol))
    else Nil
    // per target column: (stored top-level name or None, nested
    // field vector (target, stored name or None, narrow type or None)
    // — Nil for non-structs and identity mappings, pre-widen stored
    // type or None)
    type ColMap = (Option[String],
      Seq[(String, Option[String], Option[org.apache.spark.sql.types.DataType])],
      Option[org.apache.spark.sql.types.DataType])
    def readGroup(names: Seq[ColMap], fs: Seq[String]): DataFrame = {
      // a nested-evolved struct reads under its STORED shape (present
      // fields only, stored names, pre-widen narrow types) and is
      // rebuilt to the target shape in the projection
      def storedType(f: org.apache.spark.sql.types.StructField,
          nested: Seq[(String, Option[String],
            Option[org.apache.spark.sql.types.DataType])]) = f.dataType match {
        case st: StructType if nested.nonEmpty =>
          StructType(st.fields.toSeq.zip(nested).collect {
            case (sf, (_, Some(sn), w)) =>
              sf.copy(name = sn, dataType = w.getOrElse(sf.dataType))
          }.toArray)
        case dt => dt
      }
      val present = target.fields.toSeq.zip(names).collect {
        case (f, (Some(n), nested, widenFrom)) =>
          f.copy(name = n, dataType = widenFrom.getOrElse(storedType(f, nested)))
      }
      val readSchema = StructType(present.toArray).add(SeqCol, "long")
      spark.read
        .schema(addPartitionFields(readSchema, m.partitioning))
        .parquet(fs.map(abs): _*)
        .select((target.fields.toSeq.zip(names).map {
          // pre-widen epoch: read under the stored NARROW type, cast up
          // in the projection (lossless by the widens lattice)
          case (f, (Some(n), Nil, Some(_))) => col(n).cast(f.dataType).as(f.name)
          case (f, (Some(n), Nil, None)) => col(n).as(f.name)
          case (f, (Some(n), nested, _)) =>
            val st = f.dataType.asInstanceOf[StructType]
            val rebuilt = struct(st.fields.toSeq.zip(nested).map {
              case (sf, (_, Some(sn), w)) =>
                val g = col(n).getField(sn)
                (if (w.isDefined) g.cast(sf.dataType) else g).as(sf.name)
              case (sf, (_, None, _)) => lit(null).cast(sf.dataType).as(sf.name)
            }: _*)
            // a NULL struct must stay NULL, not become a struct of nulls
            when(col(n).isNull, lit(null).cast(f.dataType))
              .otherwise(rebuilt).as(f.name)
          // absent from this epoch's files: the declared initial
          // default if one exists (addColumnWithDefault), else null
          case (f, (None, _, _)) =>
            defaultLit(m.properties, f.name).getOrElse(lit(null))
              .cast(f.dataType).as(f.name)
        } :+ col(SeqCol)) ++ posCols: _*)
    }
    if (schemaOps(m.properties).forall(_.seq > asOf))
      readGroup(target.fieldNames.toSeq.map(n => (Some(n), Nil, None)), files)
    else {
      val seqOf = m.snapshots.flatMap(s => s.dataFiles.map(_ -> s.seq)).toMap
      files.groupBy { f =>
        val fileSeq = seqOf.getOrElse(f, Long.MaxValue)
        target.fields.toSeq.map { tf =>
          val (top, widenFrom) = topAtFileSeq(tf.name, asOf, fileSeq)
          val nested = (top, tf.dataType) match {
            case (Some(_), st: StructType) => nestedNamesAtFileSeq(tf.name, st, asOf, fileSeq)
            case _ => Nil
          }
          (top, nested, widenFrom): ColMap
        }
      }.toSeq.map { case (names, fs) => readGroup(names, fs) }
        .reduce(_ unionByName _)
    }
  }

  /** Snapshot DIFF by key — the audit answer when the changelog
    * between two points wasn't retained (or the table predates CDF):
    * classify every key as insert / update / delete between
    * `fromSeq` and `toSeq` by FULL-OUTER joining the two time-travel
    * reads; unchanged keys drop out. Returns the key columns
    * (coalesced across sides), `change`, and `before`/`after` row
    * structs. Unlike [[readChanges]] this sees only NET change (a
    * key updated five times shows once), which is exactly what a
    * reconciliation job wants.
    *
    * Scale: one key-partitioned full-outer join of two pruned
    * snapshot reads — both sides shuffle once on the key; the
    * unchanged-row filter runs inside the join's projection, so only
    * net-changed rows survive the operator.
    */
  def diffSnapshots(fromSeq: Long, toSeq: Long, keyCols: Seq[String]): DataFrame = {
    val schema = cachedMeta.schema
    val valueCols = schema.fieldNames.filterNot(keyCols.contains).toSeq
    val a = readAt(fromSeq).alias("a")
    val b = readAt(toSeq).alias("b")
    val on = keyCols.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
    val inA = col(s"a.${keyCols.head}").isNotNull
    val inB = col(s"b.${keyCols.head}").isNotNull
    val differs = valueCols.map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    a.join(b, on, "full_outer")
      .withColumn("change",
        when(!inA, lit("insert")).when(!inB, lit("delete"))
          .when(differs, lit("update")).otherwise(lit("none")))
      .filter(col("change") =!= "none")
      .select(keyCols.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++ Seq(
        col("change"),
        when(inA, struct(schema.fieldNames.toSeq.map(c => col(s"a.$c").as(c)): _*))
          .as("before"),
        when(inB, struct(schema.fieldNames.toSeq.map(c => col(s"b.$c").as(c)): _*))
          .as("after")): _*)
  }

  // ----------------------------------------------------- maintenance

  /** Latest sync-progress summary PER MARKER KEY among `snaps` (see
    * [[IceliteTable.SyncProgressPrefix]]) — what a rewrite that folds
    * those snapshots away must re-publish. Folded per key, not per
    * snapshot: distinct markers (a sync HWM and a streaming-sink batch
    * id, say) advance in different commits, and taking only the
    * latest marker-BEARING snapshot's map would silently drop every
    * other marker — a compaction would then reset the streaming
    * sink's exactly-once watermark and re-apply replayed batches.
    */
  private def carrySyncProgress(snaps: Seq[Snapshot]): Map[String, String] =
    snaps.foldLeft(Map.empty[String, String]) { (acc, s) =>
      acc ++ s.summary.filter(_._1.startsWith(IceliteTable.SyncProgressPrefix))
    }

  /** Compaction (reference S8): rewrite the current MoR view into fresh
    * right-sized files (targetFileMB each, 256 MB default like the
    * reference) and replace all live files in one `rewrite` snapshot.
    * Also the schedule point for snapshot expiry.
    */
  def compact(targetFileMB: Int = 256): Long = compact(targetFileMB, Nil, None)

  /** Compaction with optional Z-ORDER clustering (Iceberg's zorder
    * rewrite): rows are range-partitioned and sorted by the bit-
    * interleaved rank of `zorderBy` columns, so every output file
    * covers a tight min/max range on EVERY zorder dimension at once —
    * range reads then skip files on any of them, not just the first
    * sort key. `zorderBy` columns must be integral (the interleave is
    * a rank computation; normalization is layout-only and never
    * affects row values). `numFilesOverride` pins the output file
    * count (ops/testing knob; default sizes from bytes/targetFileMB).
    */
  def compact(
      targetFileMB: Int,
      zorderBy: Seq[String],
      numFilesOverride: Option[Int]): Long = {
    refresh() // rewrite what is PUBLISHED, not a stale cache
    val rewriting = cachedMeta.snapshots.map(_.seq)
    zorderBy.foreach { c =>
      val f = cachedMeta.schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"zorder column '$c' is not a column of $name"))
      f.dataType match {
        case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType => ()
        case dt => throw new IllegalArgumentException(
          s"zorder column '$c' has non-integral type $dt")
      }
    }
    val current = read().cache()
    try {
      val bytes = estimateBytes(cachedMeta.liveDataFiles)
      val nFiles = numFilesOverride.getOrElse(
        math.max(1, math.ceil(bytes.toDouble / (targetFileMB.toLong << 20)).toInt))
      // per-column ranges for rank normalization (one tiny agg job);
      // layout-only — row VALUES are untouched
      val zRanges: Seq[(String, Long, Long)] =
        if (zorderBy.isEmpty) Nil
        else {
          val aggs = zorderBy.flatMap(c =>
            Seq(min(col(c).cast("long")).as(s"_mn_$c"), max(col(c).cast("long")).as(s"_mx_$c")))
          val r = current.agg(aggs.head, aggs.tail: _*).collect().head
          zorderBy.zipWithIndex.map { case (c, i) =>
            (c, Option(r.get(2 * i)).map(_.asInstanceOf[Long]).getOrElse(0L),
              Option(r.get(2 * i + 1)).map(_.asInstanceOf[Long]).getOrElse(0L))
          }
        }
      retryCommit { head =>
        // a full rewrite REPLACES the snapshot list — publishing over a
        // head that gained (or lost) commits since `current` was read
        // would silently erase them
        if (head.snapshots.map(_.seq) != rewriting)
          throw new IllegalStateException(
            s"concurrent commit during compaction of $name " +
              s"(read seqs $rewriting, head has ${head.snapshots.map(_.seq)})")
        val seq = head.lastSeq + 1
        val commitId = UUID.randomUUID().toString
        val (files, count, stats, metrics) = writeDataFiles(
          conformToSchema(current, head.schema).withColumn(SeqCol, lit(seq)),
          commitId, head, Some(nFiles),
          zorder = zRanges,
          sortBy = if (zorderBy.isEmpty) sortOrderColumns(head.properties) else Nil)
        val withZ =
          if (zorderBy.isEmpty) head
          else head.copy(properties =
            head.properties + (ZorderColumnsProp -> zorderBy.mkString(",")))
        (withZ.rewritten(Snapshot(seq, System.currentTimeMillis(), "rewrite",
          files, Nil, count, stats,
          // a full rewrite REPLACES the snapshot list; sync progress
          // markers ride on the rewrite or a crashed initial sync
          // loses its resume point (truncate alone resets them)
          summary = carrySyncProgress(head.snapshots),
          fileMetrics = metrics)), seq)
      }
    } finally current.unpersist()
  }

  /** Cold-scoped compaction (reference plan.md Phase 4: "Filter to cold
    * partitions only"): rewrite ONLY the files of snapshots more than
    * `keepHotCommits` commits behind the head, folding in every delete
    * that affects them, and leave the hot tail untouched. At 100 TB
    * this is the difference between a bounded maintenance job and
    * rewriting the table — compaction cost tracks the cold backlog,
    * not table size, and a hot ingest tail never gets churned.
    *
    * Correctness: rewritten rows KEEP their original `_graft_seq`, so
    * LWW resolution against hot data and hot deletes is unchanged.
    * Only COLD deletes (seq ≤ cutoff) are folded in — they can affect
    * no hot row (hot rows all carry seq > cutoff) and are dropped
    * outright after the fold. Hot deletes are NOT folded: they keep
    * applying at read time, so `readAt(cutoff)` still shows rows that
    * were only deleted later (history must not see future deletes).
    *
    * Idempotent: a cold prefix that is already a single `rewrite-cold`
    * snapshot is a no-op — steady-state maintenance with no new cold
    * commits costs one metadata read, not a table rewrite.
    *
    * Returns the cutoff seq, or None when there is nothing to fold.
    */
  def compactCold(keepHotCommits: Int = 2, targetFileMB: Int = 256): Option[Long] = {
    refresh()
    val before = cachedMeta
    if (before.snapshots.size <= keepHotCommits) return None
    val cutoff = before.snapshots.dropRight(keepHotCommits).last.seq
    val coldSnaps = before.snapshots.filter(_.seq <= cutoff)
    val coldSeqs = coldSnaps.map(_.seq)
    // only snapshots CARRYING files matter for the no-op decision:
    // metadata-only snapshots (evolve/evolve-spec) aging into the cold
    // window must not trigger a spurious full cold rewrite
    val coldWithFiles =
      coldSnaps.filter(s =>
        s.dataFiles.nonEmpty || s.deleteFiles.nonEmpty || s.posDeleteFiles.nonEmpty ||
          s.dvFiles.nonEmpty)
    if (coldWithFiles.isEmpty) return None
    if (coldWithFiles.size == 1 && coldWithFiles.head.operation == "rewrite-cold")
      return None
    // a HOT position delete may target a COLD file by physical path;
    // rewriting that file would dangle the coordinate and resurrect
    // the row. Skip this cycle — the pos-delete commit ages into the
    // cold window and folds on a later run (self-healing), or a full
    // compact() folds everything now.
    if (before.snapshots.exists(s =>
        s.seq > cutoff && (s.posDeleteFiles.nonEmpty || s.dvFiles.nonEmpty))) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"cold compaction of $name skipped: position-delete/DV commit(s) newer than " +
          s"cold cutoff $cutoff may target cold files — will fold once they age in")
      return None
    }
    // a cold rewrite stamps files with the CUTOFF seq but writes them
    // under the CURRENT schema names/shape; schema ops newer than the
    // cutoff would make epoch translation (and time travel) read those
    // files under the wrong names — run a full compact() to migrate
    // instead
    if (schemaOps(before.properties).exists(_.seq > cutoff))
      throw new IllegalStateException(
        s"cold compaction of $name: schema evolution newer than cold cutoff " +
          s"$cutoff — run a full compact() to migrate the layout first")
    val coldDataFiles = coldSnaps.flatMap(_.dataFiles)
    // cold position deletes can only target cold files (a coordinate
    // references a file that existed at its commit seq ≤ cutoff), so
    // folding them here is complete; hot eq-deletes stay live and keep
    // applying at read time, unchanged
    val survivors = applyDeletes(
      applyPosState(
        readFilesAs(coldDataFiles, before.schema, Long.MaxValue,
          withPos = needPosCols(coldSnaps)),
        coldSnaps),
      eqDeleteState(coldSnaps))
      .select((before.schema.fieldNames :+ SeqCol).map(col).toSeq: _*)
      .cache()
    try {
      val count = survivors.count()
      // pre-fold cold bytes: an upper bound on the survivor set (never
      // the whole table — hot files don't count)
      val bytes = estimateBytes(coldDataFiles)
      val nFiles = math.max(1, math.ceil(bytes.toDouble / (targetFileMB.toLong << 20)).toInt)
      val commitId = UUID.randomUUID().toString
      // content is head-independent (rows keep their own seq), so the
      // files are written ONCE; only the metadata swap runs in the
      // optimistic-retry loop
      val (files, _, stats, metrics) =
        if (count > 0) writeDataFiles(survivors, commitId, before, Some(nFiles))
        else (Nil, 0L, Map.empty[String, Map[String, (String, String)]],
          Map.empty[String, (Long, Long)])
      retryCommit { head =>
        // the cold prefix is immutable (seqs only grow) unless another
        // maintenance rewrite raced us — then our folded set is stale
        // and this job must not publish
        val headCold = head.snapshots.filter(_.seq <= cutoff).map(_.seq)
        if (headCold != coldSeqs)
          throw new IllegalStateException(
            s"concurrent rewrite under cold compaction of $name " +
              s"(expected cold seqs $coldSeqs, head has $headCold)")
        // re-validate the hot-pos-delete guard against THIS head: a
        // deleteWhere racing in after the pre-read could hold
        // coordinates into the cold files being replaced
        if (head.snapshots.exists(s => s.seq > cutoff && s.posDeleteFiles.nonEmpty))
          throw new IllegalStateException(
            s"concurrent position delete under cold compaction of $name — " +
              "its coordinates may target a cold file; rerun after it ages in")
        // cold snapshots fold away — their latest sync-progress marker
        // moves to the synthetic snapshot (hot tagged commits keep
        // their own and win resume, being later in the list)
        val synthetic = Snapshot(cutoff, System.currentTimeMillis(), "rewrite-cold",
          files, Nil, count, stats, summary = carrySyncProgress(coldSnaps),
          fileMetrics = metrics)
        (head.copy(snapshots = synthetic +: head.snapshots.filter(_.seq > cutoff)), cutoff)
      }
      Some(cutoff)
    } finally survivors.unpersist()
  }

  /** Snapshot/file GC: delete orphaned data/delete dirs no longer
    * referenced by the head metadata, and metadata versions older than
    * `keepVersions`.
    *
    * GRACE TTL: an unreferenced dir younger than `orphanGraceMs` is
    * spared — the commit protocol supports concurrent committers, and a
    * racing writer's files exist BEFORE its metadata publish; GC'ing
    * them in that window would make the subsequent publish reference
    * missing data. The default matches [[IceliteTable.ClaimTtlMs]]:
    * past it, an unpublished commit's claim is breakable anyway, so its
    * files are true garbage.
    */
  /** Remove ORPHAN files (Iceberg's `remove_orphan_files` maintenance
    * action): physical commit directories under `data/` and `deletes/`
    * referenced by NO retained snapshot, no staged (WAP) manifest, and
    * older than `graceMs` — the debris of crashed writers (task output
    * that never committed), discarded stages, and file lists dropped
    * by layout rewrites. Purely physical: no snapshot is committed and
    * table content is untouched (exactly Iceberg's contract — the
    * action mutates storage, not metadata). The grace window is the
    * safety interlock against deleting an IN-FLIGHT writer's output
    * that simply hasn't committed yet; Iceberg defaults it to 3 days,
    * here it defaults to the claim TTL. Returns the number of orphan
    * directories removed.
    *
    * At 100 TB the sweep is one listing of the two commit-dir levels
    * (directory count ≈ commit count, not file count) checked against
    * a metadata-sized live set — no data IO at all.
    */
  def removeOrphans(graceMs: Long = ClaimTtlMs): Int = {
    val fs = fileSystem()
    val now = System.currentTimeMillis()
    refresh() // GC against the latest published head, not a stale cache
    // live = every file shape the head references (data, equality
    // deletes, POSITION deletes) plus STAGED appends awaiting their
    // audit (unreferenced by the head by design — a live staged
    // manifest shields its data dir from GC until publish/discard)
    val live = (cachedMeta.liveDataFiles ++ cachedMeta.liveDeleteFiles ++
      cachedMeta.livePosDeleteFiles ++ cachedMeta.liveDvFiles)
      .map(f => f.split('/').take(2).mkString("/")).toSet ++ // data/<uuid> | deletes/<uuid>
      stagedIds.map(id => s"data/$id").toSet
    var removed = 0
    Seq("data", "deletes").foreach { sub =>
      val dir = new Path(s"$location/$sub")
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val rel = s"$sub/${st.getPath.getName}"
        if (!live.contains(rel) && now - st.getModificationTime > graceMs) {
          fs.delete(st.getPath, true)
          removed += 1
        }
      }
    }
    // MANIFEST orphans: pointer files whose snapshot left the head
    // (rollback/truncate/fold) or that a lost commit attempt wrote and
    // abandoned. Same head-referenced semantics as data files — old
    // version JSONs may still name them, exactly as they name GC'd
    // data files. The grace window shields a racing committer's
    // just-written manifest awaiting its version publish.
    val headSnaps = cachedMeta.snapshots.toSet
    manifestPaths.entrySet().removeIf(e => !headSnaps.contains(e.getKey))
    val liveManifests = cachedMeta.snapshots
      .flatMap(s => Option(manifestPaths.get(s))).toSet
    val mdir = new Path(s"$location/metadata/manifests")
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
      val rel = s"metadata/manifests/${st.getPath.getName}"
      if (!liveManifests.contains(rel) && now - st.getModificationTime > graceMs) {
        fs.delete(st.getPath, false)
        removed += 1
      }
    }
    removed
  }

  /** Returns the number of metadata versions expired. */
  def expireSnapshots(keepVersions: Int = 3, orphanGraceMs: Long = ClaimTtlMs): Int = {
    val fs = fileSystem()
    removeOrphans(orphanGraceMs)
    val mdDir = new Path(s"$location/metadata")
    val versions = fs.listStatus(mdDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong).sorted
    val expired = versions.dropRight(keepVersions)
    expired.foreach { v =>
      fs.delete(new Path(s"$location/metadata/${versionFile(v)}"), false)
      fs.delete(new Path(s"$location/metadata/${versionFile(v)}.claim"), false)
    }
    expired.length
  }

  /** Rewrite MANIFESTS (Iceberg's `rewrite_manifests` maintenance
    * action mapped onto icelite's metadata shape): fold the per-commit
    * file lists of every snapshot older than the `keepRecent` most
    * recent into ONE merged base snapshot — no data file moves, one
    * metadata commit. A long-lived CDC table accretes one snapshot per
    * micro-batch; scan planning walks every snapshot's file list, so
    * unbounded history makes METADATA the scan-planning bottleneck
    * long before data does. After the fold, planning cost is
    * O(keepRecent + 1) manifests regardless of table age — at 100 TB
    * and years of commits, that is the difference between metadata
    * that fits an RPC and metadata that needs its own scan.
    *
    * Content is bit-identical: per-row seqs live IN the files, so LWW
    * against delete files is untouched. The fold trades history for
    * compactness exactly like compaction: time travel below the
    * merged seq and changelog ranges crossing it refuse (op name
    * `rewrite-manifests`). The latest ANALYZE snapshot is never
    * folded (its summary carries the table's stats); superseded older
    * ones fold away. Refused when schema evolution happened inside
    * the folded range — per-file rename/default translation keys off
    * each file's snapshot seq, which the fold would coarsen
    * ([[compact]] instead: it rewrites bytes under the current
    * schema, which is why it has no such restriction).
    */
  def rewriteManifests(keepRecent: Int = 2): Long = retryCommit { head =>
    val n = head.snapshots.size
    val latestAnalyze = head.snapshots.lastIndexWhere(_.operation == "analyze")
    val limit =
      if (latestAnalyze >= 0) math.min(n - math.max(keepRecent, 0), latestAnalyze)
      else n - math.max(keepRecent, 0)
    if (limit < 2) (head, head.lastSeq)
    else {
      val olds = head.snapshots.take(limit)
      val recents = head.snapshots.drop(limit)
      if (schemaOps(head.properties)
          .exists(op => op.seq > olds.head.seq && op.seq <= olds.last.seq))
        throw new IllegalStateException(
          s"rewrite-manifests on $name: schema evolution inside the folded range " +
            "would coarsen per-file epoch translation — compact() instead")
      // a DV generation inside the folded range cannot merge: the fold
      // flattens all seqs to one, which would wrongly supersede
      // post-DV coordinate files and lose the dv-full marker's
      // eq-supersession point — compact() folds deletes into bytes
      if (olds.exists(s => s.dvFiles.nonEmpty || s.operation == "rewrite-dv-full"))
        throw new IllegalStateException(
          s"rewrite-manifests on $name: deletion-vector snapshot inside the folded " +
            "range — compact() instead (it folds the delete state into data bytes)")
      val merged = Snapshot(olds.last.seq, olds.last.timestampMs, "rewrite-manifests",
        olds.flatMap(_.dataFiles), olds.flatMap(_.deleteFiles),
        olds.map(_.recordCount).sum,
        olds.map(_.fileStats)
          .foldLeft(Map.empty[String, Map[String, (String, String)]])(_ ++ _),
        posDeleteFiles = olds.flatMap(_.posDeleteFiles),
        summary = carrySyncProgress(olds),
        fileMetrics = olds.map(_.fileMetrics).foldLeft(Map.empty[String, (Long, Long)])(_ ++ _))
      (head.copy(snapshots = merged +: recents), olds.last.seq)
    }
  }

  /** Truncate: drop every live data/delete file in one rewrite snapshot
    * (reference invalidate handling: full rebuild starts from an empty
    * table — docs/design.md "Trigger full index rebuild" via
    * mongot-research). Old files are reclaimed by [[expireSnapshots]].
    */
  def truncate(): Long = retryCommit { head =>
    val seq = head.lastSeq + 1
    // carry ONLY the streaming sink's replay watermark: truncate
    // REWRITES history (prior snapshots drop), so without the carry a
    // checkpoint-replayed micro-batch would read last=-1 and re-commit
    // pre-truncate data — resurrecting rows the operator just deleted.
    // The CDC sync HWM keys must NOT carry: truncate is the rebuild
    // primitive (invalidate → truncate → re-initial-sync), and a
    // carried HWM would make the rebuild think it already synced.
    val keep = carrySyncProgress(head.snapshots)
      .filter { case (k, _) => k == IceliteTable.StreamBatchIdKey }
    (head.rewritten(Snapshot(seq, System.currentTimeMillis(), "truncate", Nil, Nil, 0L,
      summary = keep)), seq)
  }

  /** USER-property commit (`ALTER TABLE … SET/UNSET TBLPROPERTIES` —
    * comments, ownership, tags): free-form metadata only. Every
    * `graft.*` key and the non-prefixed behavior anchors (row-id
    * high-water mark, retired partition specs, pinned write timezone)
    * ride their own validated commit paths — letting a raw property
    * write touch them would corrupt schema history, lineage, or
    * date-transform stats, so they refuse here.
    */
  def setProperties(set: Map[String, String], unset: Seq[String] = Nil): Long = {
    val guarded = Set(IceliteTable.NextRowIdProp,
      IceliteTable.PartitioningRetiredProp, IceliteTable.TimeZoneProp)
    (set.keys ++ unset).find(k => k.startsWith("graft.") || guarded(k)).foreach { k =>
      throw new IllegalArgumentException(
        s"property '$k' of $name is engine-managed — use its dedicated API " +
          "(constraints, policies, sort order, schema evolution, lineage)")
    }
    retryCommit { head =>
      val seq = head.lastSeq + 1
      (head.copy(properties = head.properties -- unset ++ set)
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "properties", Nil, Nil, 0L)), seq)
    }
  }

  /** FULL-table overwrite in ONE atomic commit (`INSERT OVERWRITE` on
    * an unpartitioned table): the batch replaces every live row; prior
    * snapshots and their delete files leave the live view exactly as in
    * [[compact]] — history collapses, so time travel below the
    * overwrite refuses at the rewrite boundary, and a crash between
    * nothing and nothing can never leave a half-replaced table (the
    * files land first, the single metadata rename publishes them).
    */
  /** Arbitrary-predicate INSERT OVERWRITE (the `REPLACE WHERE` backfill
    * idiom): ONE atomic commit that position-deletes every visible row
    * matching `cond` and appends `df` — "reload this slice" without
    * the single-identity-partition discipline [[overwritePartitions]]
    * needs. The predicate evaluates on the translated MoR view, so it
    * is exact across rename/widen epochs and under live deletes; no
    * data file is rewritten (the old rows die by coordinates). Rows in
    * `df` are NOT forced to satisfy `cond` — SQL OverwriteByExpression
    * semantics (delete matching, insert batch), same as Iceberg.
    * Like every overwrite, changelog ranges crossing it refuse.
    *
    * Scale: one pruned MoR scan to classify (filter pushdown applies),
    * one coordinate write, one append — no shuffle beyond the write
    * clustering; a 100 TB backfill touches only matching-file scans
    * plus the new slice.
    */
  def replaceWhere(df: DataFrame, cond: Column): Long = {
    refresh()
    requireLineageSafe(cachedMeta, "replaceWhere")
    retryCommit { head =>
      val seq = head.lastSeq + 1
      val commitId = UUID.randomUUID().toString
      val data = readFilesAs(head.snapshots.flatMap(_.dataFiles), head.schema,
        Long.MaxValue, withPos = true, meta = head)
      val visible = applyDeletes(
        applyPosState(data, head.snapshots),
        eqDeleteState(head.snapshots))
      val coords = visible.filter(cond)
        .select(col(PosFileCol), col(PosCol)).withColumn(SeqCol, lit(seq))
        .cache()
      try {
        val nDel = coords.count()
        val posFiles = if (nDel == 0) Nil else {
          val out = s"$location/deletes/$commitId"
          coords.write.mode("errorifexists").parquet(out)
          listParquet(out)
        }
        val (files, count, stats, metrics) = writeDataFiles(
          enforceChecks(conformToSchema(df, head.schema), head.schema, head.properties)
            .withColumn(SeqCol, lit(seq)),
          commitId, head, nFiles = None, sortBy = writeSortBy(head.properties))
        (head.withSnapshot(Snapshot(seq, System.currentTimeMillis(), "overwrite-where",
          files, Nil, count, stats, posDeleteFiles = posFiles,
          fileMetrics = metrics)), seq)
      } finally coords.unpersist()
    }
  }

  def overwriteAll(df: DataFrame): Long = {
    refresh()
    requireLineageSafe(cachedMeta, "overwrite")
    retryCommit { head =>
      val seq = head.lastSeq + 1
      val commitId = UUID.randomUUID().toString
      val (files, count, stats, metrics) = writeDataFiles(
        enforceChecks(conformToSchema(df, head.schema), head.schema, head.properties)
          .withColumn(SeqCol, lit(seq)),
        commitId, head, nFiles = None, sortBy = writeSortBy(head.properties))
      (head.rewritten(Snapshot(seq, System.currentTimeMillis(), "rewrite-overwrite",
        files, Nil, count, stats,
        summary = carrySyncProgress(head.snapshots),
        fileMetrics = metrics)), seq)
    }
  }

  /** Dynamic partition OVERWRITE (Iceberg/Hive `INSERT OVERWRITE …
    * PARTITION` with dynamic resolution): every partition VALUE present
    * in `df` has its content replaced by the batch's rows for it;
    * partitions the batch doesn't touch are untouched — the idempotent
    * re-load shape backfill jobs are built on (re-running a day's load
    * replaces that day, never duplicates it).
    *
    * Requires a table partitioned by ONE identity transform whose base
    * column has a sound stat ordering (integral or string). File
    * classification is METADATA-ONLY, from the partition-column min/max
    * the manifests already carry: a file wholly inside a touched value
    * (min == max ∈ touched) is dropped without being read; a file that
    * MIGHT mix touched and untouched values (range intersects, or no
    * stats) has its surviving rows rewritten preserving their original
    * `_graft_seq` (so LWW against live equality deletes is unchanged —
    * delete files stay live and keep applying at read time); files
    * whose range excludes every touched value are kept as-is. At
    * 100 TB a daily re-load therefore touches ~1 partition of files,
    * not the table.
    *
    * One atomic commit: prior snapshots drop their dead files and the
    * new snapshot carries the batch + mixed-survivor files. Like
    * compaction, this collapses the overwritten partitions' history
    * (time travel before the overwrite no longer sees their old rows).
    * Refused when position deletes exist and a mixed file must be
    * rewritten (the coordinates would dangle) — fold them with
    * [[compact]] first.
    */
  def overwritePartitions(df: DataFrame, touchedOverride: Option[Set[String]] = None): Long = {
    refresh()
    val before = cachedMeta
    val parts = before.partitioning
    require(parts.size == 1 && parts.head.transform == "identity",
      s"overwritePartitions requires exactly one identity partition (got $parts)")
    val p = parts.head
    val pcol = IceliteTable.partColName(p)
    val numeric = identityComparator(p, before.schema).getOrElse(
      throw new IllegalArgumentException(
        s"partition column ${p.field} has no sound stat ordering for overwrite"))
    val beforeSeqs = before.snapshots.map(_.seq)
    val batchValues: Set[String] = df
      .select(col(p.field).cast("string")).na.drop().distinct()
      .collect().map(_.getString(0)).toSet
    // explicit touched set = the STATIC overwrite shape (`INSERT
    // OVERWRITE … PARTITION (p = v)`): the named partitions are
    // replaced even when the batch is empty for some of them (a static
    // overwrite with no rows CLEARS the partition); batch rows outside
    // the named set would silently survive their own partition's
    // overwrite, so they refuse
    val touched = touchedOverride.getOrElse(batchValues)
    touchedOverride.foreach { tv =>
      val stray = batchValues -- tv
      require(stray.isEmpty,
        s"static partition overwrite of $name: batch rows carry partition value(s) " +
          s"${stray.mkString(", ")} outside the overwritten set ${tv.mkString(", ")}")
    }
    // dynamic mode with an EMPTY batch is the standard no-op (zero
    // rows name zero partitions to replace — Hive/Iceberg semantics);
    // the static path always carries an explicit non-empty set
    if (touched.isEmpty) return cachedMeta.lastSeq

    def classify(stats: Map[String, (String, String)]): String =
      stats.get(pcol) match {
        case Some((mn, mx)) if mn == mx =>
          if (touched(mn)) "dead" else "keep"
        case Some((mn, mx)) =>
          if (touched.exists(v => IceliteTable.cmpStat(mn, v, numeric) <= 0 &&
            IceliteTable.cmpStat(v, mx, numeric) <= 0)) "mixed"
          else "keep"
        case None => "mixed" // no stats recorded: conservative rewrite
      }
    val classified: Map[String, String] = before.snapshots.flatMap(s =>
      s.dataFiles.map(f => f -> classify(s.fileStats.getOrElse(f, Map.empty)))).toMap
    val mixedFiles = classified.collect { case (f, "mixed") => f }.toSeq
    if (mixedFiles.nonEmpty &&
        (before.livePosDeleteFiles.nonEmpty || before.liveDvFiles.nonEmpty))
      throw new IllegalStateException(
        s"overwritePartitions on $name: position deletes/DVs may target a mixed " +
          "file being rewritten — compact() first to fold them")

    val seq = before.lastSeq + 1
    val commitId = UUID.randomUUID().toString
    // surviving rows of mixed files (original seqs preserved)
    val (survFiles, survCount, survStats, survMetrics) =
      if (mixedFiles.isEmpty)
        (Seq.empty[String], 0L, Map.empty[String, Map[String, (String, String)]],
          Map.empty[String, (Long, Long)])
      else {
        val (_, tc) = transformColumn(p)
        val surv = readFilesAs(mixedFiles, before.schema, Long.MaxValue, meta = before)
          .filter(!tc.cast("string").isin(touched.toSeq: _*) || tc.isNull)
        writeDataFiles(surv, s"$commitId-surv", before, None)
      }
    // the batch itself, stamped with the commit seq
    val (newFiles, newCount, newStats, newMetrics) = writeDataFiles(
      conformToSchema(df, before.schema).withColumn(SeqCol, lit(seq)),
      commitId, before, nFiles = None)

    retryCommit { head =>
      if (head.snapshots.map(_.seq) != beforeSeqs)
        throw new IllegalStateException(
          s"concurrent commit during partition overwrite of $name " +
            s"(read seqs $beforeSeqs, head has ${head.snapshots.map(_.seq)})")
      val gone = classified.collect { case (f, c) if c != "keep" => f }.toSet
      val pruned = head.snapshots.map(s => s.copy(
        dataFiles = s.dataFiles.filterNot(gone),
        fileStats = s.fileStats.filterNot { case (f, _) => gone(f) },
        fileMetrics = s.fileMetrics.filterNot { case (f, _) => gone(f) }))
      val snap = Snapshot(seq, System.currentTimeMillis(), "overwrite-partitions",
        survFiles ++ newFiles, Nil, survCount + newCount,
        survStats ++ newStats, fileMetrics = survMetrics ++ newMetrics)
      (head.copy(snapshots = pruned :+ snap), seq)
    }
  }

  /** Metadata-only schema evolution (reference S7 / design "schema
    * evolution": auto mode adds columns): merge new fields in, existing
    * files read the added columns as null. Every NEW name is logged as
    * an [[SchemaOp.Add]] birth record, so a name that had a previous
    * life (dropped, or renamed away — which [[graft.sync.ChangeStreamSync]]'s
    * auto-evolution can re-add when source post-images still carry the
    * old field) reads as null from pre-add files instead of silently
    * resurrecting their dead bytes, matching Iceberg's fresh-field-ID
    * semantics. Adds are rolled back by [[rollbackTo]] like any op.
    */
  def addColumns(added: StructType): Long = retryCommit { head =>
    val merged = graft.schema.SchemaInfer.mergeStructs(head.schema, added)
    val newNames = merged.fieldNames.filterNot(head.schema.fieldNames.contains)
    val seq = head.lastSeq + 1
    val ops = schemaOps(head.properties) ++ newNames.map(SchemaOp.Add(_, seq))
    val props =
      if (newNames.isEmpty) head.properties
      else head.properties + (SchemaOpsProp -> SchemaOp.render(ops))
    (head.withSchema(merged).copy(properties = props).withSnapshot(
      Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
  }

  /** Metadata-only column add WITH an initial default (Iceberg v3
    * `initial-default`): files written BEFORE the add serve `default`
    * for the new column instead of null — the backfill every schema
    * migration wants without rewriting a byte — while files written
    * after store real values. The default rides table properties
    * (typed literal), travels with renames, dies with drops and
    * rollbacks, and a later fresh re-add of the same name starts
    * clean (null-filled). Only the INITIAL default is implemented:
    * writes that omit the column still null-fill (Iceberg's separate
    * `write-default` is a write-path concern this table's explicit
    * [[conformToSchema]] contract does not need).
    *
    * Scale: identical to [[addColumns]] — one metadata commit, no
    * data I/O; the read-side cost is that PRE-ADD files leave the
    * flat fast path and read as their own group (the same group
    * split reborn columns already pay). Documented trade: after a
    * later DROP of the column, time travel to between add and drop
    * resurrects it null-filled for pre-add files (the default died
    * with the drop; Iceberg keeps per-schema-id defaults instead).
    */
  def addColumnWithDefault(
      colName: String,
      dataType: org.apache.spark.sql.types.DataType,
      default: Any): Long = retryCommit { head =>
    if (head.schema.fieldNames.contains(colName))
      throw new IllegalArgumentException(s"column '$colName' already exists in $name")
    val rendered = renderDefault(dataType, default)
    val seq = head.lastSeq + 1
    val ops = schemaOps(head.properties) :+ SchemaOp.Add(colName, seq)
    (head.withSchema(head.schema.add(colName, dataType))
      .copy(properties = head.properties +
        (SchemaOpsProp -> SchemaOp.render(ops)) +
        (DefaultPropPrefix + colName -> rendered))
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
  }

  private def renderDefault(
      dt: org.apache.spark.sql.types.DataType, v: Any): String =
    IceliteTable.renderDefaultValue(dt, v)

  /** Declared column DEFAULT as a literal, if any — for SQL surfaces
    * that pad omitted columns (MERGE INSERT column lists must fill
    * the declared default, not NULL, to match INSERT INTO semantics).
    */
  private[graft] def declaredDefault(colName: String): Option[Column] =
    defaultLit(meta.properties, colName)

  /** The default literal for a column, if declared (read-side fill). */
  private def defaultLit(
      props: Map[String, String], colName: String): Option[Column] =
    props.get(DefaultPropPrefix + colName).map { r =>
      val Array(t, v) = r.split(":", 2)
      t match {
        case "long" => lit(v.toLong)
        case "int" => lit(v.toInt)
        case "double" => lit(v.toDouble)
        case "boolean" => lit(v.toBoolean)
        case "string" => lit(v)
      }
    }

  /** Roll the table back to the state as of snapshot `toSeq` (Iceberg's
    * `rollback_to_snapshot`): metadata-only — snapshots after `toSeq`
    * leave the live list, their files become orphans reclaimed by
    * [[expireSnapshots]], and the NEXT commit continues the seq line
    * above the rolled-back head (seqs never reuse, so incremental
    * consumers see a gap, not a fork). Schema ops newer than `toSeq`
    * are rolled back with it (the op log is truncated and the schema
    * recomputed), keeping epoch translation consistent. Rolling back
    * past the oldest retained snapshot (history collapsed by
    * rewrite/expiry) is rejected.
    */
  def rollbackTo(toSeq: Long): Long = retryCommit { head =>
    if (toSeq >= head.lastSeq)
      throw new IllegalArgumentException(
        s"rollback of $name to $toSeq: not before current head ${head.lastSeq}")
    if (!head.snapshots.exists(_.seq <= toSeq))
      throw new IllegalArgumentException(
        s"rollback of $name to $toSeq: history before the oldest retained " +
          s"snapshot ${head.snapshots.headOption.map(_.seq).getOrElse(-1L)} has expired")
    val keptOps = schemaOps(head.properties).filter(_.seq <= toSeq)
    // recompute the schema as of toSeq by inverse-applying the ops
    // being rolled back (same walk as schemaAt, against the head meta;
    // later-ADDED columns are removed with their Add op, so the rolled
    // schema is exactly the toSeq schema)
    val rolledSchema = schemaOps(head.properties).reverse.filter(_.seq > toSeq)
      .foldLeft(head.schema) { (s, op) => inverseApply(s, op) }
    val seq = head.lastSeq + 1
    // defaults of rolled-back Adds leave with their column
    val keptNames = rolledSchema.fieldNames.toSet
    val prunedProps = head.properties.filter {
      case (k, _) if k.startsWith(DefaultPropPrefix) =>
        keptNames.contains(k.stripPrefix(DefaultPropPrefix))
      case _ => true
    }
    (head.copy(
      schema = rolledSchema,
      snapshots = head.snapshots.filter(_.seq <= toSeq) :+
        Snapshot(seq, System.currentTimeMillis(), "rollback", Nil, Nil, 0L),
      properties =
        if (keptOps.isEmpty) prunedProps - SchemaOpsProp
        else prunedProps + (SchemaOpsProp -> SchemaOp.render(keptOps))), seq)
  }

  /** Row-level UPDATE WHERE for keyless tables (Iceberg v2 UPDATE):
    * one commit position-deletes every visible row matching the
    * predicate AND appends the mutated images (`set` column → new
    * expression, evaluated against the pre-update row). Keyed tables
    * have [[merge]]; this is the shape an engine emits when there is
    * no key to equality-delete on. MoR both ways: neither the old
    * files nor anything else is rewritten.
    */
  def updateWhere(condition: Column, set: Map[String, Column]): Long =
    updateMatching(_.filter(condition), set)

  /** Generalized [[updateWhere]]: `classify` maps the visible MoR view
    * to the exact rows to mutate (it may join other frames — the SQL
    * `[NOT] key IN (subquery)` route). Coordinate-based like
    * [[deleteMatching]]: duplicate keys and NULLs need no discipline.
    */
  private[graft] def updateMatching(
      classify: DataFrame => DataFrame, set: Map[String, Column]): Long = retryCommit { head =>
    requireLineageSafe(head, "updateWhere") // updateWhereCoW is the lineage path
    set.keys.foreach { c =>
      if (!head.schema.fieldNames.contains(c))
        throw new IllegalArgumentException(s"update of $name: unknown column '$c'")
    }
    val seq = head.lastSeq + 1
    val commitId = UUID.randomUUID().toString
    val data = readFilesAs(head.snapshots.flatMap(_.dataFiles), head.schema,
      Long.MaxValue, withPos = true, meta = head)
    val visible = applyDeletes(
      applyPosState(data, head.snapshots),
      eqDeleteState(head.snapshots))
    val matching = classify(visible).cache()
    try {
      if (matching.isEmpty) (head, head.lastSeq)
      else {
        // coordinates of the old images → position-delete file
        val out = s"$location/deletes/$commitId"
        matching.select(col(PosFileCol), col(PosCol)).withColumn(SeqCol, lit(seq))
          .write.mode("errorifexists").parquet(out)
        // mutated images → data file (stamped with this commit's seq)
        // one simultaneous projection: every set-expression sees the
        // PRE-update row (SQL UPDATE semantics), never a half-applied one
        val updated = matching.select(head.schema.fieldNames.toSeq.map(n =>
          set.get(n).map(_.as(n)).getOrElse(col(n))): _*)
        val (files, count, stats, metrics) = writeDataFiles(
          enforceChecks(conformToSchema(updated, head.schema), head.schema, head.properties)
            .withColumn(SeqCol, lit(seq)),
          commitId, head, nFiles = None)
        (head.withSnapshot(Snapshot(seq, System.currentTimeMillis(), "update",
          files, Nil, count, stats, posDeleteFiles = listParquet(out),
          fileMetrics = metrics)), seq)
      }
    } finally matching.unpersist()
  }

  /** Copy-on-write UPDATE — the read-optimized twin of [[updateWhere]]
    * (Iceberg `write.update.mode = copy-on-write`; Delta's default
    * update path; reference target tables are plain Iceberg v2, where
    * both modes exist): files that may hold matching rows are
    * REWRITTEN with the update applied, producing ZERO delete files —
    * every later read pays no MoR merge for this update. CoW buys
    * read speed with write amplification; MoR the reverse — a table
    * serving many readers per write wants this mode, a churn-heavy
    * CDC target wants [[updateWhere]].
    *
    * The rewrite set is classified METADATA-ONLY when `statRange`
    * names a declared stat column ([[trackStats]]) with a bound the
    * caller guarantees `condition` implies: files whose recorded
    * [min, max] cannot intersect it keep their bytes untouched (the
    * Iceberg scan-planning prune applied to the CoW write set);
    * stat-less files rewrite conservatively. Within a rewritten file,
    * non-matching rows keep their original `_graft_seq` (later
    * equality deletes keep their LWW ordering), rows MASKED by an
    * existing equality delete fold away (compaction's delete folding
    * scoped to the rewritten files — a masked row must not resurrect
    * as an "updated" version), and matching rows stamp the new commit
    * seq: they are new row versions. Untouched files' delete
    * machinery is unchanged — the live delete files keep applying to
    * them, and re-applying to rewritten survivors is a no-op (each
    * survivor's seq already beats its key's max delete seq).
    *
    * Like every layout rewrite the commit is `rewrite-update`, so a
    * changelog range crossing it refuses ([[readChanges]]): MoR
    * [[updateWhere]] keeps the derivable changelog, CoW trades it
    * away — the documented mode choice. Refused while position
    * deletes are live (their coordinates would dangle into the
    * rewrite) — [[compact]] first.
    */
  def updateWhereCoW(
      condition: Column, set: Map[String, Column],
      statRange: Option[(String, Any, Any)] = None): Long = {
    refresh()
    val before = cachedMeta
    set.keys.foreach { c =>
      if (!before.schema.fieldNames.contains(c))
        throw new IllegalArgumentException(s"update of $name: unknown column '$c'")
    }
    if (before.livePosDeleteFiles.nonEmpty || before.liveDvFiles.nonEmpty)
      throw new IllegalStateException(
        s"copy-on-write update of $name: position deletes/DVs may target a file " +
          "being rewritten — compact() first to fold them")
    val beforeSeqs = before.snapshots.map(_.seq)
    val touched: Seq[String] = statRange match {
      case Some((c, lo, hi)) =>
        require(IceliteTable.statColumns(before.properties).exists(_.equalsIgnoreCase(c)),
          s"'$c' is not a declared stat column of $name (trackStats first)")
        val Seq((canonical, _)) = keyStatColumns(Seq(c), before.schema)
        planFiles(before.snapshots,
          Option(lo).map(sources.GreaterThanOrEqual(canonical, _)).toSeq ++
            Option(hi).map(sources.LessThanOrEqual(canonical, _)))._1
      case None => before.snapshots.flatMap(_.dataFiles)
    }
    if (touched.isEmpty) return before.lastSeq
    val seq = before.lastSeq + 1
    val commitId = UUID.randomUUID().toString
    val raw = readFilesAs(touched, before.schema, Long.MaxValue, meta = before)
    val visible = applyDeletes(raw, eqDeleteState(before.snapshots))
    // row lineage: a lineage-enabled table re-stamps _last_updated_seq
    // on exactly the rows the update modifies (callers never set it
    // directly — the commit seq is the table's to assign); _row_id is
    // an untouched column, so the rewrite carries it through — the
    // Iceberg v3 "lineage survives copy-on-write" contract
    val setL =
      if (before.schema.fieldNames.contains(LastUpdatedSeqCol) &&
          !set.contains(LastUpdatedSeqCol))
        set + (LastUpdatedSeqCol -> lit(seq))
      else set
    val rewritten = visible.select(before.schema.fieldNames.toSeq.map(n =>
      setL.get(n).map(e => when(condition, e).otherwise(col(n)).as(n)).getOrElse(col(n))) :+
      when(condition, lit(seq)).otherwise(col(SeqCol)).as(SeqCol): _*)
    val (files, count, stats, metrics) = writeDataFiles(
      enforceChecks(rewritten, before.schema, before.properties), commitId, before,
      nFiles = None)
    retryCommit { head =>
      if (head.snapshots.map(_.seq) != beforeSeqs)
        throw new IllegalStateException(
          s"concurrent commit during copy-on-write update of $name " +
            s"(read seqs $beforeSeqs, head has ${head.snapshots.map(_.seq)})")
      val gone = touched.toSet
      val pruned = head.snapshots.map(s => s.copy(
        dataFiles = s.dataFiles.filterNot(gone),
        fileStats = s.fileStats.filterNot { case (f, _) => gone(f) },
        fileMetrics = s.fileMetrics.filterNot { case (f, _) => gone(f) }))
      (head.copy(snapshots = pruned :+ Snapshot(seq, System.currentTimeMillis(),
        "rewrite-update", files, Nil, count, stats, fileMetrics = metrics)), seq)
    }
  }

  // --------------------------------------- write-audit-publish (WAP)

  /** STAGE an append without publishing (Iceberg's write-audit-publish
    * workflow): the data files land under `data/<stageId>` and a
    * staged manifest records them, but no snapshot is committed —
    * [[read]] does not see staged rows. Audit the exact staged bytes
    * with [[readStaged]], then [[publishStaged]] (atomic metadata-only
    * snapshot attach: the files are never rewritten) or
    * [[discardStaged]].
    *
    * Staged files are stamped with the seq they will publish at
    * (head.lastSeq + 1, recorded in the manifest), and publish REFUSES
    * if any other commit claimed that seq meanwhile (re-stage). That
    * restriction keeps MoR LWW seq semantics exact without a
    * publish-time rewrite — rows can never carry a seq from before
    * they existed, so an interleaved delete can't incorrectly erase
    * them. (Iceberg's wap.id cherry-pick allows reordering because its
    * sequence numbers live in manifest metadata, not rows.)
    */
  def stageAppend(df: DataFrame): String = stageAppendAt(df, None)

  /** [[stageAppend]] with an explicit publish seq — the branch-write
    * path stages commit k of a branch at `head + k`, so the staged
    * chain publishes in order with the zero-rewrite fast path when
    * main has not moved.
    */
  private def stageAppendAt(df: DataFrame, atSeq: Option[Long]): String = {
    refresh()
    val head = cachedMeta
    val stageId = s"stage-${UUID.randomUUID()}"
    val seq = atSeq.getOrElse(head.lastSeq + 1)
    val (files, count, stats, metrics) = writeDataFiles(
      enforceChecks(conformToSchema(df, head.schema), head.schema, head.properties)
        .withColumn(SeqCol, lit(seq)),
      stageId, head, nFiles = None, sortBy = writeSortBy(head.properties))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("expectedSeq", seq); root.put("recordCount", count)
    val farr = root.putArray("files"); files.foreach(farr.add)
    val fs = root.putObject("fileStats")
    stats.toSeq.sortBy(_._1).foreach { case (f, cols) =>
      val fo = fs.putObject(f)
      cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
        val co = fo.putObject(c); co.put("min", mn); co.put("max", mx)
      }
    }
    val fm = root.putObject("fileMetrics")
    metrics.toSeq.sortBy(_._1).foreach { case (f, (rows, bytes)) =>
      val fo = fm.putObject(f); fo.put("rows", rows); fo.put("bytes", bytes)
    }
    writeString(fileSystem(), stagedManifestPath(stageId), root.toPrettyString)
    stageId
  }

  /** The staged rows exactly as they will publish (the audit view). */
  def readStaged(stageId: String): DataFrame = {
    val (_, _, files, _, _) = stagedManifest(stageId)
    readFilesAs(files, cachedMeta.schema, Long.MaxValue)
      .select(cachedMeta.schema.fieldNames.map(col).toSeq: _*)
  }

  /** Atomically attach a staged append as the next snapshot. Fails if
    * another commit claimed the staged seq (re-stage and re-audit).
    */
  def publishStaged(stageId: String): Long = {
    val (expectedSeq, count, files, stats, metrics) = stagedManifest(stageId)
    val seq = retryCommit { head =>
      if (head.lastSeq + 1 != expectedSeq)
        throw new IllegalStateException(
          s"staged $stageId of $name expected to publish at seq $expectedSeq " +
            s"but the head moved to ${head.lastSeq} — discard and re-stage")
      (head.withSnapshot(Snapshot(expectedSeq, System.currentTimeMillis(), "append",
        files, Nil, count, stats, fileMetrics = metrics)), expectedSeq)
    }
    fileSystem().delete(stagedManifestPath(stageId), false)
    seq
  }

  /** Publish a staged append whose seq was claimed by a later commit —
    * the Iceberg cherry-pick analog. [[publishStaged]] is the
    * zero-rewrite fast path (metadata-only attach) but can only land
    * at the seq the rows were staged with, because the row-seq baked
    * into the staged files is what MoR LWW resolves against; once the
    * head moves, re-applying the AUDITED rows atop the new head
    * requires re-sequencing them — a rewrite bounded by the staged
    * batch (never the corpus), exactly like Iceberg re-applying the
    * append on the new base. On a KEYED table the re-apply is a keyed
    * upsert (data + equality-delete for the batch keys), so
    * interleaved versions of the same keys are SUPERSEDED — the same
    * outcome as staging after those commits — never duplicated; on a
    * keyless append table the rows simply re-attach.
    *
    * A stage that turns out to be already PUBLISHED (a crash between
    * publishStaged's metadata commit and its manifest cleanup) is
    * detected the same way [[discardStaged]] does: only the stale
    * manifest is removed — the files are live table data and the rows
    * must not land twice. The cherry-pick commit itself is stamped with
    * [[IceliteTable.CherryPickStageKey]] = stageId in its snapshot
    * summary, so a crash between that commit and its cleanup is ALSO
    * detected on retry (cleanup-only) — without the marker, a retry on
    * a keyless table would re-append the staged rows (the re-sequenced
    * files live under a fresh commit dir, invisible to the
    * `data/<stageId>/` check), and the caller could not tell
    * crash-before-commit (retry correct) from crash-after (duplicate).
    */
  def cherryPickStaged(stageId: String): Long = {
    stagedManifest(stageId) // existence check with a clear error
    refresh()
    val published = cachedMeta.snapshots
      .find(s => s.dataFiles.exists(_.startsWith(s"data/$stageId/")) ||
        s.summary.get(IceliteTable.CherryPickStageKey).contains(stageId))
    published match {
      case Some(snap) =>
        // crashed publish OR crashed cherry-pick: rows are live.
        // Remove the now-redundant staged copies (a published stage's
        // files ARE the live data, so only the manifest goes; a
        // cherry-picked stage's files were re-sequenced into the
        // commit's own dir, so the staged dir goes too).
        if (!snap.dataFiles.exists(_.startsWith(s"data/$stageId/")))
          fileSystem().delete(new Path(s"$location/data/$stageId"), true)
        fileSystem().delete(stagedManifestPath(stageId), false)
        snap.seq
      case None =>
        val keyCols = tableKeyColumns(cachedMeta.properties)
        val mark = (_: Long) => Map(IceliteTable.CherryPickStageKey -> stageId)
        val seq =
          if (keyCols.nonEmpty) upsert(readStaged(stageId), keyCols, summary = mark)
          else append(readStaged(stageId), summary = mark)
        fileSystem().delete(new Path(s"$location/data/$stageId"), true)
        fileSystem().delete(stagedManifestPath(stageId), false)
        seq
    }
  }

  /** Drop a staged append: delete its files and manifest; the table is
    * untouched (nothing was ever visible). If the stage turns out to be
    * PUBLISHED already (a crash between publish's metadata commit and
    * its manifest cleanup leaves the manifest behind), only the stale
    * manifest is removed — the files are live table data.
    */
  def discardStaged(stageId: String): Unit = {
    stagedManifest(stageId) // existence check with a clear error
    val fs = fileSystem()
    refresh()
    val published = cachedMeta.liveDataFiles.exists(_.startsWith(s"data/$stageId/"))
    if (!published) fs.delete(new Path(s"$location/data/$stageId"), true)
    fs.delete(stagedManifestPath(stageId), false)
  }

  /** Stage ids awaiting publish/discard (operational visibility). */
  def stagedIds: Seq[String] = {
    val fs = fileSystem()
    val md = new Path(s"$location/metadata")
    if (!fs.exists(md)) Nil
    else fs.listStatus(md).map(_.getPath.getName)
      .filter(n => n.startsWith("staged-stage-") && n.endsWith(".json"))
      .map(_.stripPrefix("staged-").stripSuffix(".json")).toSeq.sorted
  }

  private def stagedManifestPath(stageId: String): Path =
    new Path(s"$location/metadata/staged-$stageId.json")

  private def stagedManifest(stageId: String)
      : (Long, Long, Seq[String], Map[String, Map[String, (String, String)]],
        Map[String, (Long, Long)]) = {
    val fs = fileSystem()
    val p = stagedManifestPath(stageId)
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"no staged append '$stageId' on $name (published or discarded already?)")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readString(fs, p))
    import scala.jdk.CollectionConverters._
    val files = root.get("files").elements().asScala.map(_.asText()).toSeq
    val stats = Option(root.get("fileStats")).filter(_.isObject).map { fsNode =>
      fsNode.properties().asScala.map { fe =>
        fe.getKey -> fe.getValue.properties().asScala.map { ce =>
          ce.getKey -> (ce.getValue.get("min").asText(), ce.getValue.get("max").asText())
        }.toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, (String, String)]])
    val metrics = Option(root.get("fileMetrics")).filter(_.isObject).map { fmNode =>
      fmNode.properties().asScala.map { fe =>
        fe.getKey -> (fe.getValue.get("rows").asLong(), fe.getValue.get("bytes").asLong())
      }.toMap
    }.getOrElse(Map.empty[String, (Long, Long)])
    (root.get("expectedSeq").asLong(), root.get("recordCount").asLong(), files, stats,
      metrics)
  }

  // ------------------------------------------- refs (branches / tags)

  /** Create an immutable TAG on a retained snapshot (Iceberg's
    * snapshot tags): a named bookmark read back via [[readRef]].
    * Metadata-only — refs live in table properties and no snapshot is
    * created. Refs inherit [[readAt]]'s retention trade: history
    * collapsed by a rewrite (compaction/truncate) EXPIRES refs
    * pointing into it, and [[readRef]] then fails with an explicit
    * error — the analog of Iceberg reading an expired snapshot.
    */
  def createTag(name: String, seq: Long): Unit = putRef(name, "tag", seq)

  /** Create a movable BRANCH ref (default: at the current head).
    * Branches advance with [[fastForward]]; divergent branch WRITES
    * are not supported — icelite's snapshot log is linear (a branch is
    * a movable bookmark, like a git branch that only fast-forwards).
    */
  def createBranch(name: String, atSeq: Option[Long] = None): Unit =
    putRef(name, "branch", atSeq.getOrElse(cachedMeta.lastSeq))

  /** Advance a branch ref to the current head (Iceberg's
    * fast_forward). Tags are immutable — fast-forwarding one throws.
    */
  def fastForward(refName: String): Unit = {
    refs.get(refName) match {
      case None => throw new IllegalArgumentException(s"no ref '$refName' on $name")
      case Some(("tag", _)) =>
        throw new IllegalArgumentException(s"ref '$refName' of $name is a tag (immutable)")
      case Some(_) => ()
    }
    retryCommit { head =>
      (head.copy(properties =
        head.properties + (RefPropPrefix + refName -> s"branch:${head.lastSeq}")),
        head.lastSeq)
    }
    ()
  }

  def dropRef(refName: String): Unit = {
    // unpublished branch writes die with their branch (the WAP discard)
    branchStages(refName).foreach(discardStaged)
    retryCommit { head =>
      if (!head.properties.contains(RefPropPrefix + refName))
        throw new IllegalArgumentException(s"no ref '$refName' on $name")
      (head.copy(properties = head.properties
        - (RefPropPrefix + refName)
        - (IceliteTable.BranchStagePropPrefix + refName)), head.lastSeq)
    }
    ()
  }

  // ------------------------------------------------- branch writes

  /** Staged commit ids of a branch, publish order. */
  def branchStages(refName: String): Seq[String] =
    cachedMeta.properties.get(IceliteTable.BranchStagePropPrefix + refName)
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** APPEND to a named branch without touching the main live view —
    * the Iceberg branch-write workflow on a linear snapshot log: the
    * rows land as a WAP staged commit ([[stageAppend]] machinery)
    * recorded against the ref, sequenced ABOVE the current head
    * (commit k of the branch at `head + k`), so [[read]] and every
    * main consumer see nothing until [[publishBranch]]. Branch writes
    * are appends only (the audit-then-publish shape); row-level
    * deletes/updates stay main-only — a divergent delete would need a
    * forked snapshot log, which icelite's linear model deliberately
    * does not have.
    */
  def appendToBranch(refName: String, df: DataFrame): String = {
    refresh()
    refs.get(refName) match {
      case None => throw new IllegalArgumentException(s"no ref '$refName' on $name")
      case Some(("tag", _)) =>
        throw new IllegalArgumentException(s"ref '$refName' of $name is a tag (immutable)")
      case Some(_) => ()
    }
    val seq = cachedMeta.lastSeq + branchStages(refName).size + 1
    val stageId = stageAppendAt(df, Some(seq))
    retryCommit { head =>
      val key = IceliteTable.BranchStagePropPrefix + refName
      val cur = head.properties.get(key)
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      (head.copy(properties = head.properties + (key -> (cur :+ stageId).mkString(","))),
        head.lastSeq)
    }
    stageId
  }

  /** The branch's view: table state at the ref plus its staged (not
    * yet published) appends — what an auditor reads before deciding to
    * publish. Metadata + staged-file reads only; main's live view is
    * untouched.
    */
  def readBranch(refName: String): DataFrame = {
    val staged = branchStages(refName)
    staged.foldLeft(readRef(refName))((acc, sid) => acc.unionByName(readStaged(sid)))
  }

  /** Publish a branch: land its staged commits on MAIN in stage order
    * (zero-rewrite [[publishStaged]] when main has not moved; the
    * batch-bounded [[cherryPickStaged]] re-apply when it has), then
    * fast-forward the ref to the new head and clear the stage list —
    * Iceberg's write-to-branch + fast_forward publish in one call.
    */
  def publishBranch(refName: String): Long = {
    refresh()
    refs.get(refName) match {
      case None => throw new IllegalArgumentException(s"no ref '$refName' on $name")
      case Some(("tag", _)) =>
        throw new IllegalArgumentException(s"ref '$refName' of $name is a tag (immutable)")
      case Some(_) => ()
    }
    branchStages(refName).foreach { sid =>
      try publishStaged(sid)
      catch { case _: IllegalStateException => cherryPickStaged(sid) }
    }
    retryCommit { head =>
      (head.copy(properties = head.properties
        - (IceliteTable.BranchStagePropPrefix + refName)
        + (RefPropPrefix + refName -> s"branch:${head.lastSeq}")), head.lastSeq)
    }
  }

  /** Table state at a named ref — [[readAt]] of the ref's seq, with an
    * explicit error when the referenced history has expired (rewrite/
    * truncate collapsed it) or was erased (rollback below the ref).
    */
  def readRef(refName: String): DataFrame = {
    val (_, seq) = refs.getOrElse(refName,
      throw new IllegalArgumentException(s"no ref '$refName' on $name"))
    val m = cachedMeta
    // refs are created only at retained snapshot seqs, so an absent
    // seq means the referenced state is no longer reconstructable:
    // collapsed by a rewrite/truncate, or erased by a rollback
    if (!m.snapshots.exists(_.seq == seq)) {
      val how =
        if (m.snapshots.headOption.forall(_.seq > seq))
          "has expired (compaction/truncate collapsed it)"
        else "was erased (rollback or cold rewrite removed the commit)"
      throw new IllegalStateException(
        s"ref '$refName' of $name points at seq $seq whose history $how " +
          "— drop or re-point the ref")
    }
    readAt(seq)
  }

  /** All named refs: name → (type, seq). */
  def refs: Map[String, (String, Long)] =
    cachedMeta.properties.collect {
      case (k, v) if k.startsWith(RefPropPrefix) =>
        val Array(tpe, seq) = v.split(":", 2)
        k.stripPrefix(RefPropPrefix) -> (tpe, seq.toLong)
    }

  /** Refs as a metadata table (name, type, seq) — no data IO. */
  def refsTable(): DataFrame = {
    import spark.implicits._
    refs.toSeq.map { case (n, (t, s)) => (n, t, s) }.sortBy(_._1)
      .toDF("name", "type", "seq")
  }

  private def putRef(refName: String, tpe: String, seq: Long): Unit = {
    require(refName.matches("[A-Za-z0-9._-]+"),
      s"ref name '$refName' must match [A-Za-z0-9._-]+")
    retryCommit { head =>
      if (head.properties.contains(RefPropPrefix + refName))
        throw new IllegalArgumentException(s"ref '$refName' already exists on $name")
      if (!head.snapshots.exists(_.seq == seq))
        throw new IllegalArgumentException(
          s"ref '$refName': seq $seq is not a retained snapshot of $name " +
            s"(have ${head.snapshots.map(_.seq).mkString(", ")})")
      (head.copy(properties =
        head.properties + (RefPropPrefix + refName -> s"$tpe:$seq")), head.lastSeq)
    }
    ()
  }

  // --------------------------------------- partitions metadata table

  /** Iceberg's `partitions` metadata table: one row per live partition
    * value of the current spec with its exact MoR `record_count` and
    * `file_count` = live data files whose footer-stat range may hold
    * the value (exact when each file covers one value; conservative —
    * never undercounting — for hash-packed files spanning several).
    * Record counts are one scan of the MoR view column-pruned to the
    * partition SOURCE columns (there are no manifests to sum here);
    * file counts are pure metadata via the same comparator the range
    * reader prunes with. Unpartitioned tables report one table row.
    *
    * File counts come from ONE broadcast range-join of the
    * (metadata-sized) file→stat-range table against the per-value
    * counts: building the stat table is O(files) driver work and the
    * value×file overlap test runs distributed — at thousands of
    * partitions × tens of thousands of files a per-value
    * [[planFiles]] loop would be quadratic ON THE DRIVER, the
    * thing a 1000-executor cluster can't parallelize away.
    */
  def partitionsTable(): DataFrame = {
    import spark.implicits._
    val m = cachedMeta
    if (m.partitioning.isEmpty)
      return Seq(("<unpartitioned>", read().count(), m.liveDataFiles.size.toLong))
        .toDF("partition", "record_count", "file_count")
    requireSessionTz(m.partitioning)
    val pcols = m.partitioning.map(transformColumn)
    var v = read().select(m.partitioning.map(p => col(p.field)): _*)
    pcols.foreach { case (n, c) => v = v.withColumn(n, c) }
    val counts = v.groupBy(pcols.map(p => col(p._1)): _*)
      .agg(count(lit(1)).as("record_count"))
      .select(pcols.map { case (n, _) => col(n).cast("string").as(n) }
        :+ col("record_count"): _*)
    import org.apache.spark.sql.types.{StringType, StructField}
    val statSchema = StructType(
      StructField("_file", StringType) +:
        pcols.flatMap { case (n, _) => Seq(
          StructField(s"_mn_$n", StringType), StructField(s"_mx_$n", StringType)) })
    val statRows: Seq[org.apache.spark.sql.Row] = m.snapshots.flatMap { s =>
      s.dataFiles.map { f =>
        org.apache.spark.sql.Row.fromSeq(
          f +: pcols.flatMap { case (n, _) =>
            s.fileStats.get(f).flatMap(_.get(n)) match {
              case Some((mn, mx)) => Seq(mn, mx)
              case None => Seq(null, null)
            }
          })
      }
    }
    val files = spark.createDataFrame(
      java.util.Arrays.asList(statRows: _*), statSchema)
    // per column, the same conservative test as planFiles/cmpStat:
    // no value bound, missing stats, or (numeric) an unparseable side
    // all KEEP the file; string compare is UTF-8 byte order, which is
    // exactly Spark's UTF8String ordering. Identity transforms over
    // types without a sound rendered ordering record no stats, so they
    // keep every file rather than rejecting the whole metadata table.
    val prunable = prunableColumns(m.partitioning ++ retiredPartitioning, m.schema)
    val overlap = pcols.map { case (n, _) =>
      prunable.get(n) match {
        case None => lit(true)
        case Some(numeric) =>
          val base = col(n).isNull || col(s"_mn_$n").isNull
          if (numeric) {
            val vL = expr(s"try_cast(`$n` as bigint)")
            val mnL = expr(s"try_cast(`_mn_$n` as bigint)")
            val mxL = expr(s"try_cast(`_mx_$n` as bigint)")
            base || vL.isNull || mnL.isNull || mxL.isNull || (mxL >= vL && mnL <= vL)
          } else
            base || (col(s"_mx_$n") >= col(n) && col(s"_mn_$n") <= col(n))
      }
    }.reduce(_ && _)
    counts.join(broadcast(files), overlap, "left")
      .groupBy(pcols.map { case (n, _) => col(n) }: _*)
      .agg(max(col("record_count")).as("record_count"),
        count(col("_file")).as("file_count"))
  }

  /** Metadata-only column RENAME (Iceberg's field-ID rename: no file is
    * rewritten). Files written before the rename store the column under
    * its old name; the read path translates per file epoch, so
    * [[read]] serves every row under the NEW name while [[readAt]] a
    * pre-rename seq still shows the old shape. Renaming key,
    * partition-source, or z-order columns is rejected — delete files,
    * recorded stats, and transform recomputes are anchored to those
    * names. Chained renames compose (a→b then b→c reads epoch-0 files
    * as `a`).
    */
  def renameColumn(from: String, to: String): Long = retryCommit { head =>
    val f = head.schema.find(_.name == from).getOrElse(
      throw new IllegalArgumentException(s"no column '$from' in $name"))
    if (head.schema.fieldNames.contains(to))
      throw new IllegalArgumentException(s"column '$to' already exists in $name")
    requireNotAnchored(head, from, "rename")
    if (hasNestedOps(head, from))
      throw new IllegalArgumentException(
        s"cannot rename column '$from' of $name: it carries nested schema ops " +
          "(the epoch walk keys on the stable top name) — compact() first")
    val seq = head.lastSeq + 1
    val newSchema = StructType(head.schema.fields.map(x =>
      if (x.name == from) x.copy(name = to) else x))
    val ops = schemaOps(head.properties) :+ SchemaOp.Rename(from, to, seq)
    // an initial default follows its column through the rename
    val movedDefault = head.properties.get(DefaultPropPrefix + from)
    val props0 = head.properties - (DefaultPropPrefix + from)
    val props = movedDefault.fold(props0)(d => props0 + (DefaultPropPrefix + to -> d))
    (head.withSchema(newSchema)
      .copy(properties = props + (SchemaOpsProp -> SchemaOp.render(ops)))
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
  }

  /** Metadata-only TYPE WIDENING (Iceberg's type promotion:
    * byte→short→int→long, float→double, decimal precision growth at
    * fixed scale). No file is rewritten: files written before the
    * widen store the narrow type and the read path reads them
    * natively, casting up in the projection per file epoch (the same
    * group-split machinery as renames); [[readAt]] a pre-widen seq
    * still serves the narrow type. Anchored columns (keys, partition
    * sources, z-order, declared sort order) refuse — delete files and
    * layout stats are typed at those anchors. Per-file min/max stats
    * survive: the canonical stat encoding is type-agnostic across
    * each widening chain.
    */
  def widenColumn(colName: String, to: org.apache.spark.sql.types.DataType): Long =
    retryCommit { head =>
      val f = head.schema.find(_.name == colName).getOrElse(
        throw new IllegalArgumentException(s"no column '$colName' in $name"))
      if (!IceliteTable.widens(f.dataType, to))
        throw new IllegalArgumentException(
          s"cannot ALTER COLUMN $colName TYPE ${to.catalogString} in $name: only lossless " +
            "widenings (byte->short->int->long, float->double, decimal precision growth " +
            s"at fixed scale) are metadata-only; got ${f.dataType.catalogString} -> " +
            to.catalogString)
      requireNotAnchored(head, colName, "widen")
      val seq = head.lastSeq + 1
      val newSchema = StructType(head.schema.fields.map(x =>
        if (x.name == colName) x.copy(dataType = to) else x))
      val ops = schemaOps(head.properties) :+ SchemaOp.Widen(colName, f.dataType, seq)
      (head.withSchema(newSchema)
        .copy(properties = head.properties + (SchemaOpsProp -> SchemaOp.render(ops)))
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
    }

  /** Nested twin of [[widenColumn]]: metadata-only type widening of a
    * struct FIELD (`ALTER COLUMN meta.f TYPE BIGINT`) — pre-widen
    * files store the field narrow; the per-epoch struct rebuild casts
    * it up. Same lossless lattice; same stable-top-name discipline as
    * every nested op.
    */
  def widenNestedField(colName: String, field: String,
      to: org.apache.spark.sql.types.DataType): Long = retryCommit { head =>
    val st = structTypeOf(head, colName, "widen nested field")
    val f = st.find(_.name == field).getOrElse(
      throw new IllegalArgumentException(s"no field '$colName.$field' in $name"))
    if (!IceliteTable.widens(f.dataType, to))
      throw new IllegalArgumentException(
        s"cannot ALTER COLUMN $colName.$field TYPE ${to.catalogString} in $name: only " +
          "lossless widenings (byte->short->int->long, float->double, decimal " +
          s"precision growth at fixed scale) are metadata-only; got " +
          s"${f.dataType.catalogString} -> ${to.catalogString}")
    requireStableTopName(head, colName)
    val seq = head.lastSeq + 1
    val newSt = StructType(st.fields.map(x =>
      if (x.name == field) x.copy(dataType = to) else x))
    val newSchema = StructType(head.schema.fields.map(x =>
      if (x.name == colName) x.copy(dataType = newSt) else x))
    val ops = schemaOps(head.properties) :+ SchemaOp.NestedWiden(colName, field, f.dataType, seq)
    (head.withSchema(newSchema)
      .copy(properties = head.properties + (SchemaOpsProp -> SchemaOp.render(ops)))
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
  }

  /** Metadata-only column COMMENT (ALTER COLUMN … COMMENT '…'). */
  def setColumnComment(colName: String, comment: String): Long = retryCommit { head =>
    val f = head.schema.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column '$colName' in $name"))
    val seq = head.lastSeq + 1
    val newSchema = StructType(head.schema.fields.map(x =>
      if (x.name == colName) x.withComment(comment) else x))
    (head.withSchema(newSchema)
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
  }

  /** Nullability TIGHTENING (ALTER COLUMN … SET NOT NULL) — the
    * [[declareConstraint]] contract applied to the nullability bit:
    * ONE scan of the live MoR view proves no stored row is NULL (paid
    * once at declare time; refused with the violating row count
    * otherwise), then a metadata-only flip commits `nullable = false`.
    * From then on enforcement rides the constraint fusion every ingest
    * write already pays ([[enforceChecks]] asserts non-nullable
    * columns inside the write's own scan — zero extra passes), so the
    * proof stays true: a batch, UPDATE set-expression, or MERGE pad
    * that produces a NULL fails fast instead of landing. The routine
    * post-backfill schema migration real warehouses run; the reverse
    * direction ([[relaxNullability]]) stays metadata-only.
    */
  def tightenNullability(colName: String): Long = {
    refresh()
    val f = cachedMeta.schema.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column '$colName' in $name"))
    if (!f.nullable) return cachedMeta.lastSeq // already NOT NULL
    val bad = read().filter(col(colName).isNull).count()
    if (bad > 0)
      throw new IllegalStateException(
        s"cannot SET NOT NULL on $name.$colName: $bad existing row(s) are NULL " +
          "— backfill or delete them first")
    retryCommit { head =>
      val seq = head.lastSeq + 1
      val newSchema = StructType(head.schema.fields.map(x =>
        if (x.name == colName) x.copy(nullable = false) else x))
      (head.withSchema(newSchema)
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
    }
  }

  /** Metadata-only nullability RELAXATION (ALTER COLUMN … DROP NOT
    * NULL) — always safe: existing rows satisfy the weaker contract.
    * Tightening is [[tightenNullability]] (one-scan proof).
    */
  def relaxNullability(colName: String): Long = retryCommit { head =>
    val f = head.schema.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column '$colName' in $name"))
    val seq = head.lastSeq + 1
    val newSchema = StructType(head.schema.fields.map(x =>
      if (x.name == colName) x.copy(nullable = true) else x))
    (head.withSchema(newSchema)
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
  }

  /** Metadata-only column DROP: the column leaves the current schema
    * but no file is rewritten — existing files keep the bytes, reads
    * simply stop projecting them, and [[readAt]] a pre-drop seq still
    * shows the column with its values (the op log records type and
    * position for the resurrection). A later [[compact]] naturally
    * rewrites survivors without the column. Same anchoring guard as
    * rename; dropping the last column is rejected.
    */
  def dropColumn(colName: String): Long = retryCommit { head =>
    val idx = head.schema.fieldNames.indexOf(colName)
    if (idx < 0) throw new IllegalArgumentException(s"no column '$colName' in $name")
    require(head.schema.fields.length > 1, s"cannot drop the last column of $name")
    requireNotAnchored(head, colName, "drop")
    val seq = head.lastSeq + 1
    val f = head.schema.fields(idx)
    val newSchema = StructType(head.schema.fields.filterNot(_.name == colName))
    val ops = schemaOps(head.properties) :+ SchemaOp.Drop(colName, f.dataType, idx, seq)
    // the initial default dies with the column: a later fresh re-add
    // of this name starts null-filled, not with the dead default
    (head.withSchema(newSchema)
      .copy(properties = (head.properties - (DefaultPropPrefix + colName)) +
        (SchemaOpsProp -> SchemaOp.render(ops)))
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
  }

  /** Metadata-only NESTED field rename (ALTER TABLE … RENAME COLUMN
    * meta.a TO b): the struct column's type changes in the committed
    * schema, no file is rewritten — the read path rebuilds the struct
    * per file epoch from the stored field names. Top-level renames of
    * a nested-evolved column (and nested ops on a top-renamed column)
    * are refused: the epoch walk is keyed on one stable column name.
    */
  def renameNestedField(colName: String, from: String, to: String): Long =
    retryCommit { head =>
      val st = structTypeOf(head, colName, "rename nested field")
      if (!st.fieldNames.contains(from))
        throw new IllegalArgumentException(s"no field '$colName.$from' in $name")
      if (st.fieldNames.contains(to))
        throw new IllegalArgumentException(s"field '$colName.$to' already exists in $name")
      requireStableTopName(head, colName)
      val seq = head.lastSeq + 1
      val newSt = StructType(st.fields.map(x => if (x.name == from) x.copy(name = to) else x))
      val ops = schemaOps(head.properties) :+ SchemaOp.NestedRename(colName, from, to, seq)
      (head.withSchema(withFieldType(head.schema, colName, newSt))
        .copy(properties = head.properties + (SchemaOpsProp -> SchemaOp.render(ops)))
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
    }

  /** Metadata-only NESTED field ADD (ALTER TABLE … ADD COLUMNS
    * (meta.c TYPE)): appended at the end of the struct; files written
    * before the add serve NULL for it (fresh-field semantics hold even
    * if the nested name had a previous life).
    */
  def addNestedField(colName: String, field: org.apache.spark.sql.types.StructField): Long =
    retryCommit { head =>
      val st = structTypeOf(head, colName, "add nested field")
      if (st.fieldNames.contains(field.name))
        throw new IllegalArgumentException(
          s"field '$colName.${field.name}' already exists in $name")
      requireStableTopName(head, colName)
      val seq = head.lastSeq + 1
      val newSt = StructType(st.fields :+ field.copy(nullable = true))
      val ops = schemaOps(head.properties) :+ SchemaOp.NestedAdd(colName, field.name, seq)
      (head.withSchema(withFieldType(head.schema, colName, newSt))
        .copy(properties = head.properties + (SchemaOpsProp -> SchemaOp.render(ops)))
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
    }

  /** Metadata-only NESTED field DROP (ALTER TABLE … DROP COLUMN
    * meta.a): the field leaves the committed struct shape; files keep
    * their stored bytes, which the target read schema clips away
    * (parquet nested-schema pruning — zero data IO). A later re-add of
    * the same nested name starts NULL-filled for pre-add files
    * ([[SchemaOp.NestedAdd]]'s birth semantics), never resurrecting the
    * dropped bytes. Time travel below the drop resurrects the field at
    * its recorded position and type.
    */
  def dropNestedField(colName: String, fieldName: String): Long =
    retryCommit { head =>
      val st = structTypeOf(head, colName, "drop nested field")
      val idx = st.fieldNames.indexOf(fieldName)
      if (idx < 0)
        throw new IllegalArgumentException(s"no field '$colName.$fieldName' in $name")
      if (st.fields.length == 1)
        throw new IllegalArgumentException(
          s"cannot drop the last field of struct '$colName' in $name — drop the column")
      requireStableTopName(head, colName)
      val seq = head.lastSeq + 1
      val newSt = StructType(st.fields.filterNot(_.name == fieldName))
      val ops = schemaOps(head.properties) :+
        SchemaOp.NestedDrop(colName, fieldName, st.fields(idx).dataType, idx, seq)
      (head.withSchema(withFieldType(head.schema, colName, newSt))
        .copy(properties = head.properties + (SchemaOpsProp -> SchemaOp.render(ops)))
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve", Nil, Nil, 0L)), seq)
    }

  private def structTypeOf(head: TableMeta, colName: String, what: String): StructType =
    head.schema.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column '$colName' in $name")).dataType match {
      case st: StructType => st
      case other => throw new IllegalArgumentException(
        s"$what on $name: '$colName' is ${other.catalogString}, not a struct")
    }

  private def withFieldType(s: StructType, colName: String, dt: org.apache.spark.sql.types.DataType): StructType =
    StructType(s.fields.map(f => if (f.name == colName) f.copy(dataType = dt) else f))

  /** Nested evolution keys the epoch walk on the column's top-level
    * name; a column that was ever top-renamed (or is about to be)
    * cannot also carry nested ops.
    */
  private def requireStableTopName(head: TableMeta, colName: String): Unit =
    if (schemaOps(head.properties).exists {
      case SchemaOp.Rename(from, to, _) => from == colName || to == colName
      case _ => false
    }) throw new IllegalArgumentException(
      s"nested evolution on $name.$colName: the column was renamed at top level — " +
        "compact() first to rebase the layout")

  private def hasNestedOps(head: TableMeta, colName: String): Boolean =
    schemaOps(head.properties).exists {
      case SchemaOp.NestedRename(c, _, _, _) => c == colName
      case SchemaOp.NestedAdd(c, _, _) => c == colName
      case SchemaOp.NestedDrop(c, _, _, _, _) => c == colName
      case _ => false
    }

  /** Columns that anchor physical artifacts may not change name or
    * vanish: equality-delete files carry key columns by name,
    * partition transforms (current AND retired) recompute from their
    * base column, and z-order stats register the raw column.
    */
  private def requireNotAnchored(head: TableMeta, colName: String, what: String): Unit = {
    val anchored =
      tableKeyColumns(head.properties).toSet ++
        (head.partitioning ++ parseRetired(head.properties)).map(_.field) ++
        zorderColumns(head.properties) ++
        sortOrderColumns(head.properties)
    if (anchored.contains(colName))
      throw new IllegalArgumentException(
        s"cannot $what column '$colName' of $name: it anchors delete keys, " +
          "partition transforms, or z-order stats")
  }

  /** Table schema as of commit `asOfSeq`: inverse-apply every logged
    * rename/drop/add newer than it (drops resurrect at their recorded
    * position with their recorded type; adds disappear — proper
    * time-travel, the column did not exist yet).
    */
  def schemaAt(asOfSeq: Long): StructType =
    schemaOps(cachedMeta.properties).reverse.filter(_.seq > asOfSeq)
      .foldLeft(cachedMeta.schema) { (s, op) => inverseApply(s, op) }

  private def inverseApply(s: StructType, op: SchemaOp): StructType = op match {
    case SchemaOp.Rename(from, to, _) =>
      StructType(s.fields.map(f => if (f.name == to) f.copy(name = from) else f))
    case SchemaOp.Drop(n, dt, idx, _) =>
      val (pre, post) = s.fields.splitAt(math.min(idx, s.fields.length))
      StructType((pre :+ org.apache.spark.sql.types.StructField(n, dt)) ++ post)
    case SchemaOp.Add(n, _) =>
      StructType(s.fields.filterNot(_.name == n))
    case SchemaOp.Widen(n, from, _) =>
      StructType(s.fields.map(f => if (f.name == n) f.copy(dataType = from) else f))
    case SchemaOp.NestedRename(c, from, to, _) =>
      StructType(s.fields.map {
        case f if f.name == c => f.dataType match {
          case st: StructType => f.copy(dataType = StructType(
            st.fields.map(x => if (x.name == to) x.copy(name = from) else x)))
          case _ => f
        }
        case f => f
      })
    case SchemaOp.NestedAdd(c, field, _) =>
      StructType(s.fields.map {
        case f if f.name == c => f.dataType match {
          case st: StructType =>
            f.copy(dataType = StructType(st.fields.filterNot(_.name == field)))
          case _ => f
        }
        case f => f
      })
    case SchemaOp.NestedDrop(c, field, dt, idx, _) =>
      StructType(s.fields.map {
        case f if f.name == c => f.dataType match {
          case st: StructType =>
            val (pre, post) = st.fields.splitAt(math.min(idx, st.fields.length))
            f.copy(dataType = StructType(
              (pre :+ org.apache.spark.sql.types.StructField(field, dt)) ++ post))
          case _ => f
        }
        case f => f
      })
    case SchemaOp.NestedWiden(c, field, from, _) =>
      StructType(s.fields.map {
        case f if f.name == c => f.dataType match {
          case st: StructType => f.copy(dataType = StructType(
            st.fields.map(x => if (x.name == field) x.copy(dataType = from) else x)))
          case _ => f
        }
        case f => f
      })
  }

  /** The name column `targetName` (valid at `asOfSeq`) had when a file
    * was written at `fileSeq`: inverse-walk renames in
    * (fileSeq, asOfSeq]. `None` means the column was BORN (re-)added
    * after the file was written — the file must serve NULL for it, even
    * if it happens to store bytes under the same name from the column's
    * previous life.
    */
  /** Stored (name, narrow-type override) of `targetName` for a file
    * written at `fileSeq`, walked backward through the op log. The
    * type override tracks the SAME walked name as the renames unwind
    * (a widen recorded under the column's then-current name matches
    * exactly when the backward walk has reached that epoch); the
    * OLDEST applicable widen wins, which is the type the file
    * physically stores.
    */
  private def topAtFileSeq(targetName: String, asOfSeq: Long, fileSeq: Long)
      : (Option[String], Option[org.apache.spark.sql.types.DataType]) =
    schemaOps(cachedMeta.properties).reverse
      .filter(op => op.seq > fileSeq && op.seq <= asOfSeq)
      .foldLeft((Option(targetName), Option.empty[org.apache.spark.sql.types.DataType])) {
        case ((Some(n), w), SchemaOp.Rename(from, to, _)) if to == n => (Some(from), w)
        // an Add kills pre-add bytes ONLY when the name had a previous
        // life (reborn column): fresh first-time adds leave no bytes in
        // pre-add files, so the plain schema-fill read is already
        // null-correct and the flat single-scan fast path survives —
        // a table that only ever ADDS columns never pays a group split
        case ((Some(n), _), SchemaOp.Add(name, opSeq)) if name == n =>
          // a declared initial default ALSO forces the group split:
          // pre-add files must project the default literal, which the
          // flat schema-fill path (null) cannot do. The prop is keyed
          // by the column's CURRENT name (it follows renames), which
          // is `targetName`, not the backward-walked epoch name `n`
          if (hadPreviousLife(n, opSeq) ||
              cachedMeta.properties.contains(DefaultPropPrefix + targetName)) (None, None)
          else (Some(n), None)
        case ((Some(n), _), SchemaOp.Widen(name, from, _)) if name == n =>
          (Some(n), Some(from))
        case (acc, _) => acc
      }

  /** Nested field-name vector of struct column `colName` (target shape
    * `st`, valid at `asOfSeq`) as stored by a file written at
    * `fileSeq`: one (targetField → stored name or None) pair per
    * target field, walked backward through the nested op log exactly
    * like [[nameAtFileSeq]]. `None` = the field was born after the
    * file (serve NULL — fresh-field semantics, even over same-named
    * bytes from a previous life). Returns Nil when the mapping is the
    * identity, so unevolved structs keep the flat fast path and the
    * common group key.
    */
  private def nestedNamesAtFileSeq(
      colName: String, st: StructType,
      asOfSeq: Long, fileSeq: Long)
      : Seq[(String, Option[String], Option[org.apache.spark.sql.types.DataType])] = {
    val walked = schemaOps(cachedMeta.properties).reverse
      .filter(op => op.seq > fileSeq && op.seq <= asOfSeq)
      .foldLeft(st.fieldNames.toSeq.map(n =>
        (n, Option(n), Option.empty[org.apache.spark.sql.types.DataType]))) { (acc, op) =>
        op match {
          case SchemaOp.NestedRename(c, from, to, _) if c == colName =>
            acc.map { case (t, n, w) => (t, n.map(x => if (x == to) from else x), w) }
          case SchemaOp.NestedAdd(c, field, _) if c == colName =>
            acc.map { case (t, n, w) => (t, n.filterNot(_ == field), w) }
          case SchemaOp.NestedWiden(c, field, from, _) if c == colName =>
            acc.map { case (t, n, w) =>
              if (n.contains(field)) (t, n, Some(from)) else (t, n, w) }
          case _ => acc
        }
      }
    if (walked.forall { case (t, s, w) => s.contains(t) && w.isEmpty }) Nil else walked
  }

  /** A name has a PREVIOUS LIFE before `beforeSeq` iff an earlier op
    * shows files may physically store bytes under it: it was dropped,
    * or renamed away. (A name cannot be added twice without one of
    * those in between, so this is complete.)
    */
  private def hadPreviousLife(n: String, beforeSeq: Long): Boolean =
    schemaOps(cachedMeta.properties).exists(op => op.seq < beforeSeq && (op match {
      case SchemaOp.Drop(name, _, _, _) => name == n
      case SchemaOp.Rename(from, _, _) => from == n
      case _ => false
    }))

  /** Partition-spec evolution (Iceberg's headline metadata-only spec
    * change): NEW writes cluster and collect stats under `newParts`;
    * existing files keep their old derived columns and stats and are
    * NEVER rewritten. Retired specs are remembered in table properties
    * so range reads over an old spec column still prune old files
    * (new-spec files lack that stat and are safely kept), and row
    * filters recompute the transform from the base column so they are
    * exact for files of ANY spec generation. A later [[compact]] /
    * [[compactCold]] naturally migrates surviving old files to the
    * current spec — the same rewrite-to-migrate Iceberg documents.
    */
  def evolvePartitioning(newParts: Seq[PartitionConfig]): Long = retryCommit { head =>
    newParts.foreach(_.validate())
    newParts.foreach { p =>
      if (!head.schema.fieldNames.contains(p.field))
        throw new IllegalArgumentException(
          s"partition field '${p.field}' is not a column of $name")
    }
    val prevRetired = parseRetired(head.properties)
    val allRetired = (prevRetired ++ head.partitioning)
      .filterNot(newParts.contains).distinct
    val seq = head.lastSeq + 1
    (head.copy(partitioning = newParts,
      properties = head.properties +
        (PartitioningRetiredProp -> renderRetired(allRetired)))
      .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve-spec",
        Nil, Nil, 0L)), seq)
  }

  /** Specs this table wrote under before the current one. */
  def retiredPartitioning: Seq[PartitionConfig] = parseRetired(cachedMeta.properties)

  // ------------------------------------------------------- internals

  private def conformToSchema(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.toSet
    df.select(target.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).alias(f.name)
      else lit(null).cast(f.dataType).alias(f.name)
    }.toSeq: _*)
  }

  /** Optimistic commit loop: apply `body` to the freshly-loaded head,
    * try to atomically publish the next version; on collision re-read
    * and retry (reference: Iceberg optimistic commit with retry).
    *
    * Commit safety on overwriting renames: POSIX rename (Hadoop local
    * fs) silently REPLACES an existing destination, so a bare
    * `!exists(dst) && rename(...)` can lose a racing commit (both pass
    * the exists check, the later rename clobbers the earlier version).
    * Publication is therefore gated on an exclusive-create CLAIM file
    * per version (`vN.json.claim`, O_EXCL on local paths): exactly one
    * committer wins the claim and renames; losers re-read the new head
    * and retry, like an Iceberg CAS failure. A read-back verify guards
    * any filesystem whose exclusive create is advisory.
    */
  /** O(1) head load in the uncontended case: probe FORWARD from the
    * version this instance already holds instead of listing the whole
    * metadata dir (O(published versions) per commit — a linear term
    * that made every commit slower than the last) and re-parsing JSON
    * the instance already has in memory. A foreign commit just moves
    * the probe forward, and only then is the new head actually read.
    * Sound because version numbers are monotone (truncate commits a
    * snapshot, never resets numbering) and expiry deletes only OLD
    * versions — a newer head can never live at a lower number. The one
    * case the forward probe cannot see is a handle so stale that
    * another handle's expiry deleted its version and the ones after
    * it: the probe then finds no successor, yet publishing at
    * cached + 1 would land below the real head. A missing cached
    * version file is exactly that case, and falls back to the full
    * listing.
    */
  private def loadHeadFast(fs: FileSystem): (TableMeta, Long) = {
    val known = cachedHead
    def exists(v: Long) = fs.exists(new Path(s"$location/metadata/${versionFile(v)}"))
    var v = known.version
    while (exists(v + 1)) v += 1
    if (v == known.version)
      if (exists(v)) (known.meta, v) else loadHead(fs, location, manifestPaths)
    else
      try (TableMeta.fromJson(
        readString(fs, new Path(s"$location/metadata/${versionFile(v)}")),
        rel => readManifestCached(fs, location, rel),
        (s, rel) => manifestPaths.put(s, rel)), v)
      catch {
        // expiry raced us between the probe and the read: fall back to
        // the full listing, which always resolves the live head
        case _: java.io.IOException => loadHead(fs, location, manifestPaths)
      }
  }

  /** Render the head for publication, EXTERNALIZING each snapshot's
    * heavy payload into an immutable manifest file (written once; every
    * later commit re-emits only the pointer). The version JSON a commit
    * rewrites is then O(snapshots) header lines, not O(total files ×
    * stats) — the sf1 probe's metadata-growth term: a bulk load's Nth
    * chunk commit used to re-serialize all N−1 prior file lists.
    * Snapshots with no files/stats (pure-metadata ops) stay inline.
    */
  private def renderHead(fs: FileSystem, m: TableMeta): String =
    TableMeta.toJson(m, s => {
      val heavy = s.dataFiles.nonEmpty || s.deleteFiles.nonEmpty ||
        s.posDeleteFiles.nonEmpty || s.dvFiles.nonEmpty ||
        s.fileStats.nonEmpty || s.fileMetrics.nonEmpty
      if (!heavy) None
      else Option(manifestPaths.get(s)).orElse {
        val rel = s"metadata/manifests/m-${s.seq}-${UUID.randomUUID()}.json"
        val body = TableMeta.payloadJson(s)
        writeString(fs, new Path(abs(rel)), body)
        cacheManifest(abs(rel), body)
        manifestPaths.put(s, rel)
        Some(rel)
      }
    })

  private def retryCommit(body: TableMeta => (TableMeta, Long)): Long = {
    val fs = fileSystem()
    var attempts = 0
    var lastClaimError: Throwable = null // ambiguous IO failures, kept for the cap error
    while (true) {
      val (head, headVersion) = graft.util.Phase.timed("commit.loadHead")(loadHeadFast(fs))
      val (next, seq) = body(head)
      val nextVersion = headVersion + 1
      val dst = new Path(s"$location/metadata/${versionFile(nextVersion)}")
      val claim = new Path(s"$location/metadata/${versionFile(nextVersion)}.claim")
      val payload = graft.util.Phase.timed("commit.render")(renderHead(fs, next))
      val claimToken = UUID.randomUUID().toString
      if (!fs.exists(dst) && tryExclusiveCreate(fs, claim, claimToken, e => lastClaimError = e)) {
        val tmp = new Path(s"$location/metadata/.v$nextVersion-${UUID.randomUUID()}.tmp")
        graft.util.Phase.timed("commit.publish")(writeString(fs, tmp, payload))
        // ownership fence: if our claim was TTL-broken while we stalled
        // (GC pause, fs hang), another writer may have published this
        // version — re-check the claim still carries OUR token before
        // the overwriting rename. This is check-then-act, not atomic:
        // a holder that stalls AGAIN between this read and the rename
        // can still clobber a successor, but that needs two >TTL stalls
        // straddling a millisecond window. A filesystem without
        // compare-and-swap cannot do better — deployments needing a
        // hard guarantee put the claim in a lock service (metastore /
        // DynamoDB), exactly as Iceberg's HadoopCatalog documents.
        val stillOurs = scala.util.Try(readString(fs, claim)).toOption.contains(claimToken)
        if (stillOurs && fs.rename(tmp, dst) && readString(fs, dst) == payload) {
          cachedHead = CachedHead(next, nextVersion)
          return seq
        }
        // we own (or owned) this claim and failed to publish — release
        // it if still ours, or the version wedges for every writer
        fs.delete(tmp, false)
        if (stillOurs) fs.delete(claim, false)
      } else if (!fs.exists(dst) && isOrphanedClaim(fs, claim)) {
        // crash-orphaned claim (holder died between claim and publish):
        // break it so the table doesn't wedge forever. TTL is far above
        // any real publish latency; the ownership fence above covers
        // the pathological holder that resurfaces after the TTL.
        fs.delete(claim, false)
      }
      attempts += 1
      if (attempts > 20)
        // attach the last ambiguous claim failure, if any: a persistent
        // fs problem looping as "lost race" must surface its real cause
        throw new IllegalStateException(
          s"commit conflict on $name after $attempts attempts", lastClaimError)
      // lost the optimistic race: back off with jitter before reloading
      // the head — a tight spin re-runs the commit body (which may
      // re-write files) against a still-contended claim and livelocks
      // N concurrent writers into seconds of wasted retries
      Thread.sleep(math.min(200L, 10L << math.min(attempts, 4)) +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(25L))
    }
    -1L // unreachable
  }

  /** Atomic create-if-absent carrying the claimant's token: O_EXCL via
    * java.nio for local paths (the Hadoop local fs maps
    * create(overwrite=false) to a non-atomic exists-then-create),
    * Hadoop's exclusive create elsewhere.
    */
  private def tryExclusiveCreate(
      fs: FileSystem, p: Path, token: String,
      onAmbiguous: Throwable => Unit = _ => ()): Boolean = {
    val uri = p.toUri
    try {
      if (uri.getScheme == null || uri.getScheme == "file") {
        java.nio.file.Files.write(java.nio.file.Paths.get(uri.getPath),
          token.getBytes("UTF-8"), java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } else {
        val out = try fs.create(p, false) catch {
          // only the already-exists family is a RACE; anything else
          // (permissions, missing parent) is a real filesystem failure
          // that must not masquerade as 20 rounds of "lost race"
          case e: org.apache.hadoop.fs.FileAlreadyExistsException => throw new ClaimRaceLost(e)
          case e: java.nio.file.FileAlreadyExistsException => throw new ClaimRaceLost(e)
          case e: Throwable => onAmbiguous(e); throw new ClaimRaceLost(e)
        }
        // create succeeded: a write/close failure must release the
        // claim we now own, or the version wedges until the TTL
        try { out.write(token.getBytes("UTF-8")); out.close(); true }
        catch {
          case e: java.io.IOException =>
            scala.util.Try(out.close())
            scala.util.Try(fs.delete(p, false))
            onAmbiguous(e)
            false
        }
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: ClaimRaceLost => false
      // local-path persistent failures (AccessDenied, NoSuchFile — the
      // metadata dir itself is broken): a real error, not a race
      case e: java.nio.file.FileSystemException => throw e
      case e: java.io.IOException => onAmbiguous(e); false // ambiguous; surfaced as the conflict cause if the cap trips
    }
  }

  /** Marker: the exclusive create itself failed (claim NOT owned). */
  private final class ClaimRaceLost(cause: Throwable) extends Exception(cause)

  /** Claim older than the TTL with no published version — tolerant of
    * a concurrent breaker deleting it between our exists check and the
    * status read.
    */
  private def isOrphanedClaim(fs: FileSystem, claim: Path): Boolean =
    try {
      fs.exists(claim) &&
        System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime > ClaimTtlMs
    } catch { case _: java.io.IOException => false }

  def refresh(): TableMeta = {
    val (m, v) = loadHeadFast(fileSystem())
    cachedHead = CachedHead(m, v)
    m
  }

  private def fileSystem(): FileSystem =
    new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve a metadata file reference. Normally location-relative;
    * ABSOLUTE references pass through — that is what lets a zero-copy
    * [[cloneTo]] share another table's files by reference.
    */
  private def abs(rel: String): String =
    if (rel.startsWith("/") || rel.contains("://")) rel else s"$location/$rel"

  /** Zero-copy CLONE (Delta shallow clone / the metadata-only fork a
    * dev or audit environment wants): a new table whose metadata
    * references THIS table's current (or `atSeq` historical) files
    * absolutely — no data is copied. Both tables then evolve
    * independently: new commits on either side write into their own
    * location; the shared files are never mutated (parquet files are
    * immutable here, like Iceberg's). Position-delete coordinates keep
    * working because they join on `/data/`-relativized scan paths,
    * which render identically from either location.
    *
    * Caveat (same as Delta's): maintenance on the SOURCE
    * ([[expireSnapshots]] after a rewrite) can physically delete files
    * a clone still references — clones are working copies, not
    * backups; [[compact]] on the clone re-materializes it fully local.
    * `atSeq` reaches back only to the source's last rewrite, like
    * [[readAt]].
    */
  def cloneTo(
      warehouse: String,
      namespace: String,
      table: String,
      atSeq: Option[Long] = None): IceliteTable = {
    refresh()
    val m = cachedMeta
    val snaps = atSeq match {
      case Some(s) =>
        val kept = m.snapshots.filter(_.seq <= s)
        if (kept.isEmpty && m.snapshots.nonEmpty)
          throw new IllegalArgumentException(
            s"clone of $name at seq $s: history before the last rewrite is collapsed")
        kept
      case None => m.snapshots
    }
    def absf(f: String) = abs(f)
    val shared = snaps.map(sn => sn.copy(
      dataFiles = sn.dataFiles.map(absf),
      deleteFiles = sn.deleteFiles.map(absf),
      posDeleteFiles = sn.posDeleteFiles.map(absf),
      fileStats = sn.fileStats.map { case (k, v) => absf(k) -> v },
      fileMetrics = sn.fileMetrics.map { case (k, v) => absf(k) -> v }))
    val loc = s"$warehouse/$namespace/$table"
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdDir = new Path(s"$loc/metadata")
    if (fs.exists(mdDir) && fs.listStatus(mdDir).nonEmpty)
      throw new IllegalStateException(s"table $namespace.$table already exists at $loc")
    fs.mkdirs(mdDir)
    val meta = TableMeta(TableMeta.FormatVersion, namespace, table,
      m.schema, m.partitioning, shared, m.properties)
    IceliteTable.writeString(fs, new Path(s"$loc/metadata/${IceliteTable.versionFile(0L)}"),
      TableMeta.toJson(meta))
    new IceliteTable(spark, loc, CachedHead(meta, 0L))
  }

  private def listParquet(dir: String): Seq[String] =
    listParquetInfos(dir).map(_._1)

  /** Like [[listParquet]] but keeps each file's length from the SAME
    * listing — the commit path records (rows, bytes) manifest metrics
    * without a second round of per-file status calls.
    */
  private def listParquetInfos(dir: String): Seq[(String, Long)] = {
    val fs = fileSystem()
    val base = new Path(dir)
    val it = fs.listFiles(base, true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out += ((f.getPath.toUri.getPath.stripPrefix(
          new Path(location).toUri.getPath).stripPrefix("/"), f.getLen))
    }
    out.result()
  }

  /** Partition columns whose rendered stats have a sound comparator,
    * mapped to whether that comparator is numeric: year/bucket yield
    * ints (numeric compare); month/day/hour yield zero-padded date
    * strings (lexicographic compare). Identity transforms are EXCLUDED
    * — a raw double/timestamp/string rendering has no reliable string
    * ordering, and a wrong comparator under-prunes silently, so those
    * columns are simply never candidates for metadata pruning (row-
    * group stats inside parquet still apply at scan time).
    */
  private def prunableColumns(
      parts: Seq[PartitionConfig], schema: StructType): Map[String, Boolean] =
    parts.flatMap { p =>
      val cmp = p.transform match {
        case "year" => Some(true)
        case t if t.startsWith("bucket") => Some(true)
        case "month" | "day" | "hour" => Some(false)
        // identity: prunable iff the BASE column's type has a sound
        // rendered ordering — integral (numeric compare) or string
        // (UTF-8 byte order); other types record no stats
        case "identity" => identityComparator(p, schema)
        case _ => None
      }
      cmp.map(partColName(p) -> _)
    }.toMap

  private def identityComparator(p: PartitionConfig, schema: StructType): Option[Boolean] = {
    import org.apache.spark.sql.types._
    schema.find(_.name == p.field).flatMap(_.dataType match {
      case LongType | IntegerType | ShortType | ByteType => Some(true)
      case StringType => Some(false)
      case _ => None
    })
  }

  /** Row count + min/max of the requested columns from one parquet
    * file's footer (driver-side metadata read only); `numericByCol`
    * gives each column's stat comparator.
    */
  private def footerInfo(
      rel: String, numericByCol: Map[String, Boolean]): (Long, Map[String, (String, String)]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(abs(rel)), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val stats = scala.collection.mutable.Map.empty[String, (String, String)]
      // a column whose min/max bytes don't survive the UTF-8 round trip
      // anywhere in the file is dropped ENTIRELY for the file (merging a
      // lossy block's range could under-cover and prune a file that DOES
      // intersect); dropping ⇒ the file is always kept, conservative
      val poisoned = scala.collection.mutable.Set.empty[String]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          val s = c.getStatistics
          if (numericByCol.contains(name) && s != null && s.hasNonNullValue) {
            val numeric = numericByCol(name)
            (renderStat(s.genericGetMin), renderStat(s.genericGetMax)) match {
              case (Some(mn), Some(mx)) =>
                stats.updateWith(name) {
                  case Some((pm, px)) => Some((
                    if (IceliteTable.cmpStat(mn, pm, numeric) < 0) mn else pm,
                    if (IceliteTable.cmpStat(mx, px, numeric) > 0) mx else px))
                  case None => Some((mn, mx))
                }
              case _ => poisoned += name
            }
          }
        }
      }
      poisoned.foreach(stats.remove)
      (blocks.map(_.getRowCount.toLong).sum, stats.toMap)
    } finally reader.close()
  }

  /** Key columns usable for footer-stat range pruning, mapped to
    * whether their stat comparator is numeric: integral types compare
    * numerically, strings in UTF-8 BYTE order (matching both the
    * parquet footer ordering and Spark's UTF8String min/max — see
    * [[IceliteTable.cmpStat]]). Types without a sound rendered
    * ordering (double, timestamp, decimal, binary) are EXCLUDED —
    * a wrong comparator prunes files that DO intersect, silently
    * losing rows, so such keys simply never participate in metadata
    * pruning (row-group stats inside parquet still apply at scan
    * time). Keys absent from the schema are skipped. Lookup follows
    * Spark's resolution rules (case-insensitive unless
    * `spark.sql.caseSensitive`), and the CANONICAL schema name is
    * returned — a keyed commit using differently-cased key names must
    * still engage pruning, since stats are recorded under the schema
    * casing.
    */
  private[table] def keyStatColumns(
      keyCols: Seq[String], schema: StructType): Seq[(String, Boolean)] = {
    import org.apache.spark.sql.types._
    val caseSensitive =
      spark.conf.getOption("spark.sql.caseSensitive").exists(_.toBoolean)
    keyCols.flatMap { k =>
      schema.find(f => if (caseSensitive) f.name == k else f.name.equalsIgnoreCase(k))
        .flatMap { f =>
          f.dataType match {
            case LongType | IntegerType | ShortType | ByteType => Some(f.name -> true)
            case StringType => Some(f.name -> false)
            case _ => None
          }
        }
    }
  }

  /** The table's recorded equality-delete key columns (set at the
    * first keyed commit), or empty for a table that never saw one.
    */
  private[table] def tableKeyColumns(props: Map[String, String]): Seq[String] =
    props.get(DeleteKeyColumnsProp).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)

  /** Columns whose per-file min/max every data-file write records — and
    * so the only columns [[planFiles]] reads evidence for — mapped to
    * whether their stat comparator is numeric: the prunable partition
    * transforms, the recorded equality-delete key columns, the declared
    * stat columns ([[trackStats]]) and the z-order columns of the last
    * z rewrite.
    */
  private def recordedStatColumns(m: TableMeta): Map[String, Boolean] =
    prunableColumns(m.partitioning, m.schema) ++ keyStatColumns(
      tableKeyColumns(m.properties) ++ IceliteTable.statColumns(m.properties) ++
        zorderColumns(m.properties), m.schema)

  /** Scan planning from snapshot metadata alone (Iceberg's `planFiles`):
    * the data and equality-delete files of `snaps` a read under
    * `filters` (ANDed; the DSv2 pushdown vocabulary) must touch.
    * Evidence comes from `EqualTo`, `In`, `<`, `<=`, `>` and `>=` on
    * literals under `And`; any other shape prunes nothing. A data file
    * is dropped only when its recorded min/max on a filtered column
    * ([[recordedStatColumns]], plus retired partition transforms)
    * cannot hold a match, or when the bloom of the table's bloom column
    * ([[buildKeyBlooms]]) holds none of the probed keys; a file without
    * the evidence is kept. Equality-delete files prune only by bounds on
    * the key columns — sound because [[scan]] applies the filters to the
    * data rows BEFORE the delete merge, so a delete outside the bound
    * removes no returned row. Position-delete and DV files are never
    * pruned. Runs no Spark job unless a bloom is probed.
    */
  def planFiles(snaps: Seq[Snapshot], filters: Seq[Filter]): (Seq[String], Seq[String]) = {
    planCalls.incrementAndGet()
    val m = cachedMeta
    val cmp = recordedStatColumns(m) ++ prunableColumns(parseRetired(m.properties), m.schema)
    // a literal renders as its stats do: integral under a numeric
    // comparator, a string under the byte-order one; anything else is
    // no evidence
    def render(c: String, v: Any): Option[String] = (cmp.get(c), v) match {
      case (Some(true), n @ (_: java.lang.Long | _: java.lang.Integer |
          _: java.lang.Short | _: java.lang.Byte)) => Some(n.toString)
      case (Some(false), s: String) => Some(s)
      case _ => None
    }
    def bounds(f: Filter): Seq[(String, Option[String], Option[String])] = f match {
      case sources.And(l, r) => bounds(l) ++ bounds(r)
      case sources.EqualTo(c, v) => render(c, v).map(s => (c, Some(s), Some(s))).toSeq
      case sources.In(c, vs) if vs.nonEmpty =>
        val rs = vs.toSeq.map(render(c, _))
        if (rs.exists(_.isEmpty)) Nil
        else {
          val ord = Ordering.fromLessThan[String](IceliteTable.cmpStat(_, _, cmp(c)) < 0)
          Seq((c, Some(rs.flatten.min(ord)), Some(rs.flatten.max(ord))))
        }
      case sources.LessThan(c, v) => render(c, v).map(s => (c, None, Some(s))).toSeq
      case sources.LessThanOrEqual(c, v) => render(c, v).map(s => (c, None, Some(s))).toSeq
      case sources.GreaterThan(c, v) => render(c, v).map(s => (c, Some(s), None)).toSeq
      case sources.GreaterThanOrEqual(c, v) => render(c, v).map(s => (c, Some(s), None)).toSeq
      case _ => Nil
    }
    val evolved = schemaOps(m.properties).nonEmpty
    // a file's stats sit under the name the column had when its
    // snapshot was written; a column born after the file has none
    def keep(s: Snapshot, files: Seq[String],
        bs: Seq[(String, Option[String], Option[String])]): Seq[String] = {
      val stored = bs.map { case (c, _, _) =>
        if (evolved) topAtFileSeq(c, Long.MaxValue, s.seq)._1 else Some(c) }
      files.filter { f =>
        val stats = s.fileStats.getOrElse(f, Map.empty)
        bs.zip(stored).forall { case ((c, lo, hi), name) =>
          name.flatMap(stats.get).forall { case (mn, mx) =>
            lo.forall(IceliteTable.cmpStat(mx, _, cmp(c)) >= 0) &&
              hi.forall(IceliteTable.cmpStat(mn, _, cmp(c)) <= 0)
          }
        }
      }
    }
    // bloom probes: one key set per EqualTo/In conjunct on the bloom
    // column, each key hashable under the column's type
    val probes: Seq[Seq[Long]] = m.properties.get(IceliteTable.BloomColProp).toSeq
      .flatMap(bc => m.schema.find(_.name == bc)).flatMap { field =>
        def keys(f: Filter): Seq[Seq[Any]] = f match {
          case sources.And(l, r) => keys(l) ++ keys(r)
          case sources.EqualTo(c, v) if c == field.name => Seq(Seq(v))
          case sources.In(c, vs) if c == field.name => Seq(vs.toSeq)
          case _ => Nil
        }
        filters.flatMap(keys).map(_.map(IceliteTable.bloomProbeHash(_, field.dataType)))
          .filter(_.forall(_.isDefined)).map(_.flatten)
      }
    val blooms = if (probes.isEmpty) Map.empty[String, Array[Byte]] else loadBlooms()
    def bloomHolds(f: String): Boolean = blooms.get(f).forall { bytes =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      probes.forall(_.exists(bf.mightContainLong))
    }
    val bs = filters.flatMap(bounds)
    val keyCols = keyStatColumns(tableKeyColumns(m.properties), m.schema).map(_._1).toSet
    val keyBs = bs.filter(b => keyCols(b._1))
    (snaps.flatMap(s => keep(s, s.dataFiles, bs).filter(bloomHolds)),
      snaps.flatMap(s => keep(s, s.deleteFiles, keyBs)))
  }

  /** `planFiles` calls on this handle — a test hook proving metadata
    * tables stay join-based instead of planning once per partition value.
    */
  private[table] val planCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `k >= min(k) AND k <= max(k)` over `df` for every key column with a
    * sound stat ordering ([[keyStatColumns]]) — one agg job for all
    * columns at once; an all-null column bounds nothing. As a [[scan]]
    * row bound these exclude NULL keys, which no key equi-join matches.
    */
  private[table] def keyRangeFilters(df: DataFrame, keyCols: Seq[String]): Seq[Filter] = {
    val ks = keyStatColumns(keyCols, cachedMeta.schema).map(_._1)
    if (ks.isEmpty) return Nil
    val aggs = ks.flatMap(k => Seq(min(col(k)), max(col(k))))
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    ks.indices.filterNot(i => r.isNullAt(2 * i)).flatMap(i => Seq(
      sources.GreaterThanOrEqual(ks(i), r.get(2 * i)),
      sources.LessThanOrEqual(ks(i), r.get(2 * i + 1))))
  }

  /** Declare columns whose per-file min/max every FUTURE write records
    * in the manifest (Iceberg's `write.metadata.metrics` knob) —
    * metadata-only commit, no file rewritten. Only integral and string
    * columns are accepted (the types with a sound portable stat
    * ordering — see [[keyStatColumns]]); files written BEFORE the
    * declaration carry no stats and are simply never pruned
    * (conservative). Adds to any existing declaration.
    */
  /** Declare a table SORT ORDER (Iceberg sort-order metadata): the
    * named columns become the layout contract MAINTENANCE enforces —
    * steady-state appends land in arrival order (no per-batch sort
    * tax), and the next [[compact]] range-partitions + sorts the
    * rewrite on them, so files own DISJOINT sort-key ranges and any
    * later [[scan]] filtering a declared stat column prunes to the
    * few files whose bounds intersect. The one-dimensional sibling of
    * z-order (an explicit `zorderBy` on compact wins when both are
    * declared). Metadata-only commit.
    */
  def declareSortOrder(cols: Seq[String]): Long = {
    require(cols.nonEmpty, "declareSortOrder needs at least one column")
    retryCommit { head =>
      cols.foreach(c => require(head.schema.fieldNames.contains(c),
        s"sort-order column '$c' is not a column of $name"))
      val seq = head.lastSeq + 1
      (head.copy(properties =
        head.properties + (IceliteTable.SortOrderProp -> cols.mkString(",")))
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve",
          Nil, Nil, 0L)), seq)
    }
  }

  /** The declared sort order, if any. */
  def sortOrder: Seq[String] = sortOrderColumns(cachedMeta.properties)

  private def sortOrderColumns(props: Map[String, String]): Seq[String] =
    props.get(IceliteTable.SortOrderProp)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  def trackStats(cols: Seq[String]): Long = {
    require(cols.nonEmpty, "trackStats needs at least one column")
    retryCommit { head =>
      val resolved = keyStatColumns(cols, head.schema)
      val missing = cols.filterNot(c =>
        resolved.exists(_._1.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"cannot track stats on ${missing.mkString(", ")}: not in $name's schema " +
          "or not an integral/string column (no sound portable stat ordering)")
      val merged = (IceliteTable.statColumns(head.properties) ++ resolved.map(_._1)).distinct
      val seq = head.lastSeq + 1
      (head.copy(properties = head.properties +
          (IceliteTable.StatColumnsProp -> merged.mkString(",")))
        .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve",
          Nil, Nil, 0L)), seq)
    }
  }

  // ------------------------------------------------ key bloom filters

  private def bloomsDir = s"$location/_blooms"

  /** Key → LongType bloom probe value: integral keys are the value
    * itself; string keys hash to the 60-bit md5 prefix. The SAME
    * mapping runs as a Column on build and in Scala on probe
    * ([[IceliteTable.bloomProbeHash]]), so a present key can never
    * miss its own filter.
    */
  private def bloomKeyExpr(keyCol: String, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => conv(substring(md5(col(keyCol)), 1, 15), 16, 10).cast("long")
      case ByteType | ShortType | IntegerType | LongType => col(keyCol).cast("long")
      case other => throw new IllegalArgumentException(
        s"key blooms need an integral or string column, '$keyCol' is ${other.catalogString}")
    }
  }

  private def loadBlooms(): Map[String, Array[Byte]] = {
    if (!fileSystem().exists(new Path(bloomsDir))) return Map.empty
    spark.read.schema(BloomStoreSchema).option("recursiveFileLookup", "true")
      .parquet(bloomsDir)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
  }

  /** Build — or incrementally EXTEND — per-file BLOOM FILTERS over one
    * key column: the point-lookup complement to min/max bounds, which
    * cannot prune a hash-scattered key (every file's [min, max] spans
    * the domain). One job scans ONLY the not-yet-covered files,
    * aggregates a fixed-size filter per file (~KBs, grouped on
    * `input_file_name`), and appends the (file, bloom) rows to the
    * table's auxiliary bloom store — the same build-once/fold-on-
    * append lifecycle as the ingest indexes and incremental ANALYZE;
    * a compaction's rewritten files are simply uncovered (kept
    * conservatively) until the next build. Returns how many files
    * gained filters.
    */
  def buildKeyBlooms(
      keyCol: String, expectedPerFile: Long = 1L << 16, fpp: Double = 0.01): Int = {
    val m = cachedMeta
    val f = m.schema.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(s"no column '$keyCol' in $name"))
    val kExpr = bloomKeyExpr(keyCol, f.dataType)
    m.properties.get(IceliteTable.BloomColProp).foreach { existing =>
      require(existing == keyCol,
        s"$name already carries key blooms on '$existing', not '$keyCol'")
    }
    val covered = loadBlooms().keySet
    val target = m.liveDataFiles.filterNot(covered)
    if (target.isEmpty) return 0
    // data-file basenames carry the commit UUID — globally unique, so
    // the absolute input_file_name maps back to the metadata-relative
    // path by basename alone
    val byBase = target.map(rel => rel.split('/').last -> rel).toMap
    val built = readFilesAs(target, StructType(Seq(f)), Long.MaxValue)
      .select(input_file_name().as("f"), kExpr.as("k"))
      .groupBy(col("f"))
      .agg(graft.functions.BloomFilterFns.bloomBuild(col("k"), expectedPerFile, fpp)
        .as("bloom"))
      .collect()
      .map(r => (byBase(r.getString(0).split('/').last), r.getAs[Array[Byte]](1)))
    import spark.implicits._
    built.toSeq.toDF("file", "bloom").coalesce(1)
      .write.mode("append").parquet(s"$bloomsDir/${UUID.randomUUID()}")
    if (!m.properties.contains(IceliteTable.BloomColProp))
      retryCommit { head =>
        val seq = head.lastSeq + 1
        (head.copy(properties = head.properties + (IceliteTable.BloomColProp -> keyCol))
          .withSnapshot(Snapshot(seq, System.currentTimeMillis(), "evolve",
            Nil, Nil, 0L)), seq)
      }
    built.length
  }

  /** At-rest bytes of committed files: the sizes recorded in snapshot
    * `fileMetrics` at commit time, one `getFileStatus` only for a file
    * committed without them (position-delete and DV files, older
    * commits). Committed files are immutable, so any snapshot's record
    * holds.
    */
  private def estimateBytes(files: Seq[String]): Long = {
    val wanted = files.toSet
    val recorded = cachedMeta.snapshots.iterator
      .flatMap(_.fileMetrics.iterator.filter { case (f, _) => wanted(f) })
      .map { case (f, (_, bytes)) => f -> bytes }.toMap
    lazy val fs = fileSystem()
    files.map(f => recorded.getOrElse(f, fs.getFileStatus(new Path(abs(f))).getLen)).sum
  }

  /** Date-based transforms (`date_format`) render under the SESSION
    * timezone, and the footer stats pruning compares against were
    * rendered under the writer's. A session whose timezone differs
    * from the one pinned at table creation would write stats and
    * recompute row filters inconsistently with existing files —
    * silently losing rows at prune time — so it is rejected loudly.
    * Tables without date transforms (identity/bucket) don't care;
    * pre-pinning tables (no property) are not checked.
    */
  private def requireSessionTz(parts: Seq[PartitionConfig]): Unit =
    if (hasDateTransform(parts))
      cachedMeta.properties.get(TimeZoneProp).foreach { pinned =>
        val session = spark.conf.get("spark.sql.session.timeZone")
        if (session != pinned)
          throw new IllegalStateException(
            s"session timezone '$session' differs from table $name's pinned " +
              s"'$pinned': date-based partition transforms would diverge from " +
              "the stored file stats")
      }

  /** Shared data-file write path (commitWrite / compact / compactCold):
    * derive the partition-transform columns, cluster rows so one file
    * holds whole partition-value groups (optionally into `nFiles`
    * right-sized files), write under `data/commitId`, and collect
    * per-file footer row counts + prunable partition min/max stats.
    *
    * Partition transforms are CLUSTERING, not hive dirs: derived
    * columns are stored in-file — parquet min/max footers then skip
    * files/row-groups on partition predicates. (Hive-style per-commit
    * subdirs break Spark's partition discovery across commits, and
    * Iceberg prunes from metadata, not directories.) Stats come from
    * the footers of what was actually written — one driver-side
    * metadata read per file, no second scan; only transforms with a
    * sound string comparator are recorded (see [[prunableColumns]]).
    * `df` must already carry [[IceliteTable.SeqCol]].
    *
    * `zorder` (col, min, max) ranges switch clustering to a RANGE
    * partition + in-partition sort on the bit-interleaved 16-bit rank
    * of each z column — the Iceberg zorder rewrite layout. The z value
    * is a transient layout key (computed, ranged on, dropped); row
    * values and schema are untouched. Footer stats are recorded for
    * the head's [[recordedStatColumns]] plus the z columns, the set
    * [[planFiles]] prunes on.
    */
  /** Sort columns the CURRENT write should land under: the declared
    * sort order when the thread is inside [[IceliteTable.withSortedWrite]]
    * (the SQL write surface's sorted-write route), else none — the
    * Scala append keeps the documented arrival-order trade.
    */
  private def writeSortBy(props: Map[String, String]): Seq[String] =
    if (IceliteTable.isSortedWrite) sortOrderColumns(props) else Nil

  private def writeDataFiles(
      df: DataFrame,
      commitId: String,
      head: TableMeta,
      nFiles: Option[Int],
      zorder: Seq[(String, Long, Long)] = Nil,
      sortBy: Seq[String] = Nil)
      : (Seq[String], Long, Map[String, Map[String, (String, String)]],
        Map[String, (Long, Long)]) = {
    val partitioning = head.partitioning
    requireSessionTz(partitioning)
    val out = s"$location/data/$commitId"
    var d = df
    val partCols = partitioning.map(transformColumn)
    partCols.foreach { case (n, c) => d = d.withColumn(n, c) }
    val clustered = if (zorder.nonEmpty) {
      val zTmp = "_graft_zvalue"
      val keys = partCols.map(p => col(p._1)) :+ col(zTmp)
      val withZ = d.withColumn(zTmp, IceliteTable.zvalue(zorder))
      val ranged = nFiles match {
        case Some(n) => withZ.repartitionByRange(n, keys: _*)
        case None => withZ.repartitionByRange(keys: _*)
      }
      ranged.sortWithinPartitions(keys: _*).drop(zTmp)
    } else if (sortBy.nonEmpty) {
      // declared LINEAR sort order (the one-dimension sibling of the
      // z-order path): range-partition on (partition cols, sort cols)
      // so files own disjoint sort-key ranges, then sort within each —
      // footer min/max become tight and planFiles prunes by file
      val keys = partCols.map(p => col(p._1)) ++ sortBy.map(col)
      val ranged = nFiles match {
        case Some(n) => d.repartitionByRange(n, keys: _*)
        case None => d.repartitionByRange(keys: _*)
      }
      ranged.sortWithinPartitions(keys: _*)
    } else (nFiles, partCols) match {
      case (Some(n), pc) if pc.nonEmpty => d.repartition(n, pc.map(p => col(p._1)): _*)
      case (Some(n), _) => d.repartition(n)
      case (None, pc) if pc.nonEmpty =>
        // partition-clustered layout is the ENGINE's job on every
        // path: Spark's RequiresDistributionAndOrdering exchange never
        // reaches a V1 write (AppendDataExecV1 executes the original
        // analyzedQuery, not the prepared query — the r18 skip here
        // wrote source-shaped interleaved files on multi-task INSERTs)
        if (isSmallBatch(d)) d.repartition(1)
        else d.repartition(pc.map(p => col(p._1)): _*)
      case _ => if (isSmallBatch(d)) d.coalesce(1) else d
    }
    graft.util.Phase.timed("write.job")(fastWrite(clustered).parquet(out))
    val listed = graft.util.Phase.timed("write.list")(listParquetInfos(out))
    val files = listed.map(_._1)
    val sizes = listed.toMap
    // the z columns of THIS rewrite join the set before the commit
    // records them in the table properties
    val statCols = recordedStatColumns(head) ++ zorder.map(_._1 -> true)
    val infos = graft.util.Phase.timed("write.footers")(
      files.map(f => f -> footerInfo(f, statCols)))
    val stats = infos.collect { case (f, (_, s)) if s.nonEmpty => f -> s }.toMap
    val metrics = infos.map { case (f, (rows, _)) => f -> (rows, sizes(f)) }.toMap
    (files, infos.map(_._2._1).sum, stats, metrics)
  }

  /** Commit-dir writer with the per-commit fixed costs trimmed: no
    * _SUCCESS marker (icelite's own metadata publish is the commit
    * signal, the marker is one more fs round trip per commit) and
    * committer algorithm 2 (task outputs move on task commit — dir
    * atomicity is irrelevant here because an unpublished commit dir is
    * invisible until the metadata rename, and partial dirs are GC'd as
    * orphans).
    */
  private def fastWrite(d: DataFrame) =
    d.write.mode("errorifexists")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")

  /** Catalyst-estimated "this batch is tiny" test gating the
    * single-file write path: a steady-state CDC micro-batch or
    * checkpoint row otherwise fans out into one KB-file per input
    * partition — per-commit driver footer reads now, small-file debt
    * at scale. The threshold sits far below one target file (128 MB),
    * so even a 4x under-estimate still yields a single comfortably
    * writable file; large batches keep their parallel write untouched.
    */
  private def isSmallBatch(d: DataFrame): Boolean =
    graft.util.Phase.timed("plan.smallBatchStats")(
      d.queryExecution.optimizedPlan.stats.sizeInBytes <= SmallWriteBytes)

  // all equality-delete files share the key schema by construction —
  // one footer read, not a listing of every live delete file
  private def keyColumnsOfDeletes(deleteFiles: Seq[String]): Seq[String] =
    footerSchema(deleteFiles.head).fieldNames.filterNot(_ == SeqCol).toSeq

  /** Read files this table wrote at a schema it already knows. A bare
    * `spark.read.parquet` infers the schema with a parallel footer-merge
    * Spark job on every call — inside a SQL read that job runs while the
    * outer query is still being planned.
    */
  private def readKnown(schema: StructType, files: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(files.map(abs): _*)

  /** Equality-delete files (key columns + [[SeqCol]]) at their stored schema. */
  private def readEqDeletes(files: Seq[String]): DataFrame =
    readKnown(footerSchema(files.head), files)

  /** Spark schema of one parquet file from its footer, read on the
    * driver: the Spark row metadata the writer stored, else the parquet
    * message type converted the way Spark's own inference converts it.
    * Fields are nullable, as in an inferred file-source schema.
    */
  private def footerSchema(rel: String): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(abs(rel)), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val stored = try {
      val fm = reader.getFooter.getFileMetaData
      Option(fm.getKeyValueMetaData.get(SparkRowMetadataKey))
        .flatMap(json => scala.util.Try(
          org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]).toOption)
        .getOrElse(new ParquetToSparkSchemaConverter(
          org.apache.spark.sql.internal.SQLConf.get)
          .convert(fm.getSchema))
    } finally reader.close()
    StructType(stored.fields.map(_.copy(nullable = true)))
  }
}

object IceliteTable {

  /** Atomic (metadata, version-number) pair an instance holds — one
    * volatile field so the fast head probe never observes a torn pair.
    */
  private final case class CachedHead(meta: TableMeta, version: Long)

  /** Marks the current (driver) thread's write as a SORTED write: the
    * batch range-partitions + sorts on (partition cols, declared sort
    * cols) inside `writeDataFiles` — the compaction layout applied at
    * write time, so the landed files own disjoint sort-key ranges and
    * `planFiles` prunes without waiting for the next compact. The
    * SQL write surface sets it for tables with a declared sort order
    * (Iceberg's `write.sort-order` behavior); the Scala `append` keeps
    * the documented arrival-order trade unless wrapped. Thread-local
    * is sound here: the flag wraps a synchronous driver-side call
    * chain (insert → append/overwrite → writeDataFiles), never
    * crosses an executor boundary, and resets in `finally`.
    *
    * (This replaces the r18 `withPreClusteredWrite` skip, which was
    * built on a false premise: Spark's `V2Writes` prepareQuery DOES
    * insert the `RequiresDistributionAndOrdering` exchange into the
    * write's `query`, but the V1 fallback exec (`AppendDataExecV1`)
    * executes the ORIGINAL `analyzedQuery` — verified against the
    * Spark 4.1 strategy bytecode and empirically: an 8-task 8M-row
    * insert landed 8 source-shaped interleaved files under the skip.
    * The engine owns its write layout again.)
    */
  /** [[IceliteTable.appendChunked]]'s "fast path unavailable / raced"
    * signal: the caller retries with sequential per-chunk appends,
    * resuming from whatever leading chunks already published.
    */
  final class ChunkedAppendFallback(msg: String) extends IllegalStateException(msg)

  private val sortedWriteFlag: ThreadLocal[Boolean] =
    ThreadLocal.withInitial(() => false)
  private[graft] def withSortedWrite[T](body: => T): T = {
    sortedWriteFlag.set(true)
    try body finally sortedWriteFlag.set(false)
  }
  private[graft] def isSortedWrite: Boolean = sortedWriteFlag.get()

  import org.apache.spark.sql.types._

  /** Types whose min/max have a portable canonical encoding ANALYZE
    * can publish and cross-engine-verify: integral and string compare
    * and render identically everywhere; float/double get the
    * normalized hex-float repr. Other types record no bounds.
    */
  private[table] def boundedType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         FloatType | DoubleType => true
    case _ => false
  }

  /** Canonical string repr of one bound value — integral as decimal,
    * string raw, float/double as the SAME normalized hex-float the
    * ANALYZE hash path encodes (`java.util.Formatter` `%a`, the
    * engine-side `format_string` implementation, so driver and
    * executor encodings can never diverge). Hex-floats round-trip via
    * `Double.parseDouble`, which is what lets [[mergeBound]] compare
    * stored bounds as typed values.
    */
  private[table] def canonRepr(v: Any, dt: DataType): String = dt match {
    case FloatType | DoubleType =>
      val d = v match { case f: Float => f.toDouble; case d: Double => d }
      if (d.isNaN) "nan"
      else if (d == Double.PositiveInfinity) "inf"
      else if (d == Double.NegativeInfinity) "-inf"
      else if (d == 0.0) "0"
      else String.format("%a", Double.box(d)).replaceFirst("\\.0p", "p")
    case _ => v.toString
  }

  private[table] def parseCanonDouble(s: String): Double = s match {
    case "nan" => Double.NaN
    case "inf" => Double.PositiveInfinity
    case "-inf" => Double.NegativeInfinity
    case "0" => 0.0
    case h =>
      // re-insert the vacuous fraction the canon form strips so the
      // JDK parser (which requires a hex SIGNIFICAND) accepts it
      val fixed = if (h.contains(".")) h else h.replaceFirst("p", ".0p")
      java.lang.Double.parseDouble(fixed)
  }

  /** Fold two optional bounds under the TYPED ordering (NaN greatest,
    * matching both engines' aggregate ordering; strings byte-wise
    * UTF-8, matching Spark's UTF8String and DuckDB's binary collation).
    */
  private[table] def mergeBound(
      a: Option[String], b: Option[String], dt: DataType, isMin: Boolean): Option[String] = {
    def cmp(x: String, y: String): Int = dt match {
      case FloatType | DoubleType =>
        java.lang.Double.compare(parseCanonDouble(x), parseCanonDouble(y))
      case StringType =>
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => java.lang.Long.compare(x.toLong, y.toLong)
    }
    (a, b) match {
      case (Some(x), Some(y)) =>
        Some(if ((cmp(x, y) <= 0) == isMin) x else y)
      case _ => a.orElse(b)
    }
  }

  /** Hidden per-row commit sequence column (MoR ordering). */
  val SeqCol = "_graft_seq"

  /** Row-lineage columns (Iceberg v3 row lineage,
    * `/root/reference/docs/design.md` targets plain v2 tables — this is
    * the headline v3 surface layered on the same table format): a
    * globally unique, commit-assigned `_row_id` that survives file
    * rewrites, and the sequence number of the commit that last
    * MODIFIED the row. Declared as ordinary trailing schema columns of
    * a lineage-enabled table ([[IceliteTable.appendWithLineage]]);
    * the next unassigned id rides the [[NextRowIdProp]] table property
    * so id assignment commits atomically with the data.
    */
  val RowIdCol = "_row_id"
  val LastUpdatedSeqCol = "_last_updated_seq"
  val NextRowIdProp = "next-row-id"

  /** Batches whose Catalyst size estimate is at or below this write as
    * ONE file (see `isSmallBatch`).
    */
  val SmallWriteBytes: Long = 32L << 20

  /** Changelog output columns ([[IceliteTable.readChanges]]). */
  val ChangeTypeCol = "_change_type"
  val CommitSeqCol = "_commit_seq"

  /** Position-delete coordinate columns — Iceberg v2's (file_path,
    * pos) delete-file shape. The stored path is LOCATION-RELATIVE
    * (`data/<commit>/<part>`, derived from `_metadata.file_path` by
    * taking the last `/data/` segment) so coordinates survive table
    * relocation like every other path in table metadata; the row index
    * is `_metadata.row_index`. This has been the coordinate format
    * since position deletes were introduced — there are no tables with
    * absolute-path coordinates to migrate.
    */
  val PosFileCol = "_graft_pos_file"
  val PosCol = "_graft_pos"

  /** Bitmap column of a deletion-vector file row ([[Dv]] encoding). */
  val DvCol = "_graft_dv"

  /** Deleted-position count column of a deletion-vector file row. */
  val DvCountCol = "_graft_dv_count"

  /** Stored schema of every position-delete file (coordinates plus the
    * deleting commit's seq) and of every deletion-vector file. Both are
    * fixed by their writers, so reads pass them instead of inferring.
    */
  private val PosDeleteSchema: StructType = new StructType()
    .add(PosFileCol, "string").add(PosCol, "long").add(SeqCol, "long")
  private val DvSchema: StructType = new StructType()
    .add(PosFileCol, "string").add(DvCol, "binary").add(DvCountCol, "long")

  /** Stored schema of the key-bloom store files (see `buildKeyBlooms`). */
  private val BloomStoreSchema: StructType =
    new StructType().add("file", "string").add("bloom", "binary")

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Delete-side seq column of the equality-delete anti-join: the raw
    * delete row's seq, or the per-key max once folded. */
  private val DelSeqCol = "_max_del_seq"

  /** Row-level outcome of a [[IceliteTable.merge]] commit. */
  final case class MergeStats(seq: Long, inserted: Long, updated: Long, deleted: Long)

  /** Age after which an unpublished claim file is considered orphaned
    * (holder crashed between claim and publish) and may be broken.
    */
  val ClaimTtlMs: Long = 10L * 60 * 1000

  /** Table property recording the equality-delete key columns (set at
    * the first delete commit; survives compaction folding the delete
    * files away).
    */
  val DeleteKeyColumnsProp = "graft.delete.key.columns"

  /** Snapshot-summary key prefix for sync progress markers (the
    * initial-sync high-water mark riding atomically on its chunk
    * commit). Compaction rewrites carry the LATEST such summary
    * forward; truncate (rebuild reset) deliberately drops them.
    */
  val SyncProgressPrefix = "graft.sync."

  /** The streaming sink's exactly-once replay watermark key — the one
    * sync-progress entry that survives TRUNCATE (see [[IceliteTable.truncate]]).
    */
  val StreamBatchIdKey: String = SyncProgressPrefix + "streaming.batchId"

  /** Property-key prefix for named snapshot refs (branches/tags):
    * `graft.ref.<name>` = `"tag:<seq>"` | `"branch:<seq>"`.
    */
  val RefPropPrefix = "graft.ref."

  /** Per-branch staged (unpublished) commit list: `graft.branchstage.
    * <ref>` = comma-joined stage ids in publish order.
    */
  val BranchStagePropPrefix = "graft.branchstage."

  /** Stored encoding of a column DEFAULT literal — shared by the
    * ALTER-time evolution ([[IceliteTable.addColumnWithDefault]]) and
    * the create-time declaration (catalog `CREATE TABLE … DEFAULT`).
    * Only plain literals encode; anything else refuses loudly.
    */
  def renderDefaultValue(
      dt: org.apache.spark.sql.types.DataType, v: Any): String = {
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (LongType, x: Long) => s"long:$x"
      case (IntegerType, x: Int) => s"int:$x"
      case (DoubleType, x: Double) => s"double:$x"
      case (BooleanType, x: Boolean) => s"boolean:$x"
      case (StringType, x: String) => s"string:$x"
      case _ => throw new IllegalArgumentException(
        s"unsupported default $v for type $dt " +
          "(long/int/double/boolean/string literals only)")
    }
  }

  /** A stored default rendered back as SQL literal text — what the
    * DSv2 schema exposes as CURRENT_DEFAULT so Spark fills the
    * literal into INSERTs that omit the column.
    */
  def defaultSqlText(rendered: String): String = {
    val Array(t, v) = rendered.split(":", 2)
    t match {
      case "string" => "'" + v.replace("'", "''") + "'"
      case "boolean" => v
      case "double" => s"CAST($v AS DOUBLE)"
      case "int" => v
      case _ => s"CAST($v AS BIGINT)"
    }
  }

  /** Property-key prefix for named write-time CHECK constraints
    * ([[IceliteTable.declareConstraint]]): `graft.check.<name>` =
    * boolean predicate SQL over the table schema.
    */
  val ConstraintPropPrefix = "graft.check."

  /** Property-key prefix for a column's INITIAL DEFAULT
    * ([[IceliteTable.addColumnWithDefault]]): `graft.default.<col>` =
    * `"<type>:<literal>"`, served by pre-add files at read time.
    */
  val DefaultPropPrefix = "graft.default."

  /** Property-key prefix for named GOVERNANCE policies
    * ([[IceliteTable.declarePolicy]]): `graft.policy.<name>.filter` =
    * row-access predicate SQL; `graft.policy.<name>.mask.<col>` =
    * replacement expression SQL for that column.
    */
  val PolicyPropPrefix = "graft.policy."

  /** Snapshot-summary key stamping a cherry-pick commit with the stage
    * id it re-applied (Iceberg `wap.id` analog) — the marker that makes
    * [[cherryPickStaged]] retry idempotent: a crash between the
    * cherry-pick commit and its staged-dir cleanup is detected by this
    * summary on retry, not by the (re-sequenced, hence re-located) data
    * files.
    */
  val CherryPickStageKey = "graft.wap.stage-id"

  /** A DSv2 source [[Filter]] as a Column; None for a shape with no
    * translation (the SQL scan leaves it to Spark as a residual).
    */
  def filterColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === v)
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> v)
    case sources.GreaterThan(a, v) => Some(col(a) > v)
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case sources.LessThan(a, v) => Some(col(a) < v)
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= v)
    case sources.In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.Not(c) => filterColumn(c).map(!_)
    case sources.And(l, r) => for (a <- filterColumn(l); b <- filterColumn(r)) yield a && b
    case sources.Or(l, r) => for (a <- filterColumn(l); b <- filterColumn(r)) yield a || b
    case _ => None
  }

  /** Stat-string comparison under the column's declared comparator:
    * numeric for int transforms (year/bucket) and integral key
    * columns, UTF-8 BYTE order otherwise. Byte order matters: parquet
    * footer min/max for strings are unsigned-byte-ordered, and Spark's
    * string min/max (UTF8String) compares the same way — but Java's
    * String.compareTo orders by UTF-16 code unit, which DISAGREES for
    * supplementary characters (an astral-plane key would compare
    * differently and prune a file that contains it, silently losing
    * rows). Date-transform strings are ASCII where the orders agree.
    * An unparseable numeric operand disables pruning decisions safely
    * by comparing equal-to-everything (caller keeps the file).
    */
  private[table] def cmpStat(a: String, b: String, numeric: Boolean): Int =
    if (numeric)
      (a.toLongOption, b.toLongOption) match {
        case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
        case _ => 0
      }
    else {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    }

  /** Render a parquet footer stat value for metadata storage. Binary
    * (string-column) stats are recorded ONLY if their raw bytes
    * round-trip through java.lang.String losslessly: invalid UTF-8 /
    * unpaired surrogates collapse to replacement characters, and a
    * collapsed bound compared against a real key could prune a file
    * that DOES intersect — silently losing rows. Returning None makes
    * the caller drop the stat, which keeps the file (conservative).
    */
  private[table] def renderStat(v: Any): Option[String] = v match {
    case b: org.apache.parquet.io.api.Binary =>
      val bytes = b.getBytes
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      if (java.util.Arrays.equals(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), bytes))
        Some(s)
      else None
    case x => Some(String.valueOf(x))
  }

  /** Table property holding retired partition specs ([[evolvePartitioning]]),
    * as the same JSON array shape as the top-level `partitioning`.
    */
  val PartitioningRetiredProp = "partitioning.retired"

  /** Table property recording the z-order clustering columns of the
    * latest zorder rewrite — registers those raw integral columns as
    * numeric-comparable for metadata pruning (`planFiles`).
    */
  val ZorderColumnsProp = "graft.zorder.columns"

  /** Property key for the declared linear sort order
    * ([[IceliteTable.declareSortOrder]]): comma-joined column names.
    */
  val SortOrderProp = "graft.sort.columns"

  /** Table property holding the ordered schema-evolution op log
    * (renames/drops with their commit seq) — the field-ID analog:
    * files are never rewritten, the read path translates names per
    * file epoch, and time travel resurrects pre-op shapes.
    */
  val SchemaOpsProp = "graft.schema.oplog"

  /** Table property listing the DECLARED stat columns (Iceberg's
    * `write.metadata.metrics` shape): every write after
    * [[IceliteTable.trackStats]] records per-file footer min/max for
    * these columns, so [[IceliteTable.planFiles]] can skip files
    * on ANY declared column's predicate — not just key/partition/z
    * columns.
    */
  val StatColumnsProp = "graft.stat.columns"

  private[table] def statColumns(props: Map[String, String]): Seq[String] =
    props.get(StatColumnsProp).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** Table property naming the per-file key-bloom column
    * ([[IceliteTable.buildKeyBlooms]]).
    */
  val BloomColProp = "graft.bloom.column"

  /** Driver-side twin of the build-time bloom key mapping: integral
    * keys pass through, string keys take the 60-bit md5 prefix — the
    * same bits `conv(substring(md5(c), 1, 15), 16, 10)` produces. None
    * for a key whose type differs from the column's (or null): a
    * cross-type compare runs through a cast the build did not hash.
    */
  private[table] def bloomProbeHash(k: Any, dt: org.apache.spark.sql.types.DataType): Option[Long] = {
    import org.apache.spark.sql.types._
    (dt, k) match {
      case (StringType, s: String) =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val hex = d.map("%02x".format(_)).mkString.take(15)
        Some(java.lang.Long.parseLong(hex, 16))
      case (ByteType | ShortType | IntegerType | LongType,
          n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte)) =>
        Some(n.asInstanceOf[Number].longValue)
      case _ => None
    }
  }

  /** Lossless type-widening lattice (Iceberg type promotion):
    * byte→short→int→long, float→double, decimal precision growth at
    * fixed scale. Everything outside it refuses — a narrowing or
    * cross-family change cannot be metadata-only.
    */
  private[table] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      case _ => false
    }
  }

  /** A logged metadata-only schema change. */
  sealed trait SchemaOp { def seq: Long }
  object SchemaOp {
    final case class Rename(from: String, to: String, seq: Long) extends SchemaOp
    final case class Drop(name: String, dataType: org.apache.spark.sql.types.DataType,
        index: Int, seq: Long) extends SchemaOp
    /** Column birth record (Iceberg's fresh-field-ID analog): a column
      * added at `seq` reads as NULL from any file written before it —
      * even when an OLDER file physically stores bytes under the same
      * name from a previous life (dropped or renamed-away). Without
      * this, re-adding such a name silently resurrects dead data.
      */
    final case class Add(name: String, seq: Long) extends SchemaOp
    /** Metadata-only TYPE WIDENING (Iceberg type promotion): files
      * written before `seq` store the column as `from`; the read path
      * reads them natively and casts up in the projection — lossless
      * by the [[IceliteTable.widens]] lattice, so no file is ever
      * rewritten and time travel resurrects the narrow type.
      */
    final case class Widen(name: String, from: org.apache.spark.sql.types.DataType,
        seq: Long) extends SchemaOp
    /** Field rename INSIDE a struct column (`col`'s top-level name is
      * stable — mixing top renames with nested ops is refused, which
      * keeps the epoch walk keyed on one name).
      */
    final case class NestedRename(col: String, from: String, to: String, seq: Long)
      extends SchemaOp
    /** Field birth INSIDE a struct column: files written before it
      * serve NULL for the field, even if an older file stores bytes
      * under the same nested name from a previous life.
      */
    final case class NestedAdd(col: String, field: String, seq: Long) extends SchemaOp
    /** Field drop INSIDE a struct column: files written before the drop
      * keep their stored bytes (clipped away by the target read schema);
      * time travel resurrects the field at its recorded position/type.
      */
    final case class NestedDrop(col: String, field: String,
        dataType: org.apache.spark.sql.types.DataType, index: Int, seq: Long) extends SchemaOp
    /** Type widening INSIDE a struct column — the nested twin of
      * [[Widen]]: pre-widen files store the field narrow, the struct
      * rebuild casts it up per file epoch.
      */
    final case class NestedWiden(col: String, field: String,
        from: org.apache.spark.sql.types.DataType, seq: Long) extends SchemaOp

    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    def render(ops: Seq[SchemaOp]): String = {
      val arr = mapper.createArrayNode()
      ops.foreach {
        case Rename(f, t, s) =>
          val o = arr.addObject()
          o.put("op", "rename"); o.put("from", f); o.put("to", t); o.put("seq", s)
        case Drop(n, dt, i, s) =>
          val o = arr.addObject()
          o.put("op", "drop"); o.put("name", n); o.put("type", dt.json)
          o.put("index", i); o.put("seq", s)
        case Add(n, s) =>
          val o = arr.addObject()
          o.put("op", "add"); o.put("name", n); o.put("seq", s)
        case Widen(n, from, s) =>
          val o = arr.addObject()
          o.put("op", "widen"); o.put("name", n); o.put("from", from.json); o.put("seq", s)
        case NestedRename(c, f, t, s) =>
          val o = arr.addObject()
          o.put("op", "nested-rename"); o.put("col", c)
          o.put("from", f); o.put("to", t); o.put("seq", s)
        case NestedAdd(c, f, s) =>
          val o = arr.addObject()
          o.put("op", "nested-add"); o.put("col", c); o.put("field", f); o.put("seq", s)
        case NestedDrop(c, f, dt, i, s) =>
          val o = arr.addObject()
          o.put("op", "nested-drop"); o.put("col", c); o.put("field", f)
          o.put("type", dt.json); o.put("index", i); o.put("seq", s)
        case NestedWiden(c, f, from, s) =>
          val o = arr.addObject()
          o.put("op", "nested-widen"); o.put("col", c); o.put("field", f)
          o.put("from", from.json); o.put("seq", s)
      }
      arr.toString
    }

    def parse(json: String): Seq[SchemaOp] = {
      import scala.jdk.CollectionConverters._
      mapper.readTree(json).elements().asScala.map { o =>
        o.get("op").asText() match {
          case "rename" =>
            Rename(o.get("from").asText(), o.get("to").asText(), o.get("seq").asLong())
          case "drop" =>
            Drop(o.get("name").asText(),
              org.apache.spark.sql.types.DataType.fromJson(o.get("type").asText()),
              o.get("index").asInt(), o.get("seq").asLong())
          case "add" =>
            Add(o.get("name").asText(), o.get("seq").asLong())
          case "widen" =>
            Widen(o.get("name").asText(),
              org.apache.spark.sql.types.DataType.fromJson(o.get("from").asText()),
              o.get("seq").asLong())
          case "nested-rename" =>
            NestedRename(o.get("col").asText(), o.get("from").asText(),
              o.get("to").asText(), o.get("seq").asLong())
          case "nested-add" =>
            NestedAdd(o.get("col").asText(), o.get("field").asText(), o.get("seq").asLong())
          case "nested-drop" =>
            NestedDrop(o.get("col").asText(), o.get("field").asText(),
              org.apache.spark.sql.types.DataType.fromJson(o.get("type").asText()),
              o.get("index").asInt(), o.get("seq").asLong())
          case "nested-widen" =>
            NestedWiden(o.get("col").asText(), o.get("field").asText(),
              org.apache.spark.sql.types.DataType.fromJson(o.get("from").asText()),
              o.get("seq").asLong())
          case other => throw new IllegalStateException(s"unknown schema op '$other'")
        }
      }.toSeq
    }
  }

  private[table] def schemaOps(props: Map[String, String]): Seq[SchemaOp] =
    props.get(SchemaOpsProp).filter(_.nonEmpty).toSeq.flatMap(SchemaOp.parse)

  private[table] def zorderColumns(props: Map[String, String]): Seq[String] =
    props.get(ZorderColumnsProp).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  /** Bit-interleaved z-value (Morton order) of rank-normalized integral
    * columns: each value maps to a 16-bit rank inside its [min, max]
    * range, ranks are bit-interleaved so closeness in z implies
    * closeness on EVERY dimension at once. Pure codegen'd column
    * arithmetic (16·k shift/mask terms, no UDF); nulls rank lowest.
    * Layout-only — callers range-partition/sort on it, then drop it.
    */
  private[table] def zvalue(ranges: Seq[(String, Long, Long)]): Column = {
    val k = ranges.size
    val norms = ranges.map { case (c, mn, mx) =>
      val span = math.max(1L, mx - mn).toDouble
      coalesce(
        least(lit(65535L), greatest(lit(0L),
          ((col(c).cast("double") - lit(mn.toDouble)) / lit(span) * lit(65535.0))
            .cast("long"))),
        lit(0L))
    }
    val terms = for {
      i <- 0 until 16
      (norm, j) <- norms.zipWithIndex
    } yield shiftleft(shiftright(norm, i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** Table property pinning the session timezone date-based partition
    * transforms were (and must be) computed under — see
    * [[IceliteTable.requireSessionTz]].
    */
  val TimeZoneProp = "write.timeZone"

  private[table] def renderRetired(ps: Seq[PartitionConfig]): String =
    TableMeta.partitionConfigsToJson(ps)

  private[table] def parseRetired(props: Map[String, String]): Seq[PartitionConfig] =
    props.get(PartitioningRetiredProp).filter(_.nonEmpty).toSeq
      .flatMap(TableMeta.partitionConfigsFromJson)

  private def hasDateTransform(ps: Seq[PartitionConfig]): Boolean =
    ps.exists(p => Set("year", "month", "day", "hour").contains(p.transform))

  /** Derived hive-partition column name for a transform. */
  def partColName(p: PartitionConfig): String = s"_p_${p.field}_${sanitize(p.transform)}"

  private def sanitize(t: String): String = t.replaceAll("""[\[\]]""", "_")

  /** Partition transform → derived Column (reference T6: identity, year,
    * month, day, hour, bucket[N]; bucket uses murmur3 via Spark's hash).
    */
  def transformColumn(p: PartitionConfig): (String, Column) = {
    val c = col(p.field)
    val expr = p.transform match {
      case "identity" => c
      case "year" => year(c)
      case "month" => date_format(c, "yyyy-MM")
      case "day" => date_format(c, "yyyy-MM-dd")
      case "hour" => date_format(c, "yyyy-MM-dd-HH")
      case t => p.bucketCount match {
        case Some(n) => pmod(hash(c), lit(n))
        case None => throw new IllegalArgumentException(s"unknown transform '$t'")
      }
    }
    partColName(p) -> expr
  }

  def addPartitionFields(s: StructType, parts: Seq[PartitionConfig]): StructType =
    parts.foldLeft(s) { (acc, p) =>
      val name = partColName(p)
      val dt = p.transform match {
        case "identity" => acc.find(_.name == p.field).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.StringType)
        case "year" => org.apache.spark.sql.types.IntegerType
        case "month" | "day" | "hour" => org.apache.spark.sql.types.StringType
        case _ => org.apache.spark.sql.types.IntegerType
      }
      acc.add(name, dt)
    }

  private def versionFile(v: Long): String = f"v$v%05d.json"

  def create(
      spark: SparkSession,
      warehouse: String,
      namespace: String,
      table: String,
      schema: StructType,
      partitioning: Seq[PartitionConfig] = Nil,
      properties: Map[String, String] = Map.empty): IceliteTable = {
    val location = s"$warehouse/$namespace/$table"
    val fs = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdDir = new Path(s"$location/metadata")
    if (fs.exists(mdDir) && fs.listStatus(mdDir).nonEmpty)
      throw new IllegalStateException(s"table $namespace.$table already exists at $location")
    fs.mkdirs(mdDir)
    partitioning.foreach(_.validate())
    // pin the session timezone at creation: date-based transforms and
    // their footer stats are rendered under it, and every later write
    // or transform-recomputing read must run under the same one
    val props = properties + (TimeZoneProp -> spark.conf.get("spark.sql.session.timeZone"))
    val meta = TableMeta(TableMeta.FormatVersion, namespace, table, schema, partitioning, Nil, props)
    writeString(fs, new Path(s"$location/metadata/${versionFile(0)}"), TableMeta.toJson(meta))
    new IceliteTable(spark, location, CachedHead(meta, 0L))
  }

  def load(spark: SparkSession, warehouse: String, namespace: String, table: String): IceliteTable = {
    val location = s"$warehouse/$namespace/$table"
    val fs = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pointers = new java.util.concurrent.ConcurrentHashMap[Snapshot, String]()
    val (meta, version) = loadHead(fs, location, pointers)
    val t = new IceliteTable(spark, location, CachedHead(meta, version))
    t.manifestPaths.putAll(pointers)
    t
  }

  def exists(spark: SparkSession, warehouse: String, namespace: String, table: String): Boolean = {
    val location = s"$warehouse/$namespace/$table/metadata"
    val fs = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(location)) && fs.listStatus(new Path(location))
      .exists(_.getPath.getName.endsWith(".json"))
  }

  def createOrLoad(
      spark: SparkSession,
      warehouse: String,
      namespace: String,
      table: String,
      schema: => StructType,
      partitioning: Seq[PartitionConfig] = Nil): IceliteTable =
    if (exists(spark, warehouse, namespace, table)) load(spark, warehouse, namespace, table)
    else
      try create(spark, warehouse, namespace, table, schema, partitioning)
      catch {
        // two writers racing the first-use create of the same table
        // (e.g. two checkpoint stores for one sync): the loser loads
        // what the winner published instead of failing the sync
        case _: IllegalStateException if exists(spark, warehouse, namespace, table) =>
          load(spark, warehouse, namespace, table)
      }

  private def loadHead(
      fs: FileSystem, location: String,
      pointers: java.util.concurrent.ConcurrentHashMap[Snapshot, String]): (TableMeta, Long) = {
    val mdDir = new Path(s"$location/metadata")
    if (!fs.exists(mdDir))
      throw new IllegalStateException(s"no such table at $location")
    val versions = fs.listStatus(mdDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
    if (versions.isEmpty) throw new IllegalStateException(s"no metadata versions at $location")
    val head = versions.max
    val json = readString(fs, new Path(s"$location/metadata/${versionFile(head)}"))
    (TableMeta.fromJson(json, rel => readManifestCached(fs, location, rel),
      (s, rel) => pointers.put(s, rel)), head)
  }

  /** JVM-wide cache of manifest bodies by absolute path. Manifests are
    * immutable (written once under a UUID name, never rewritten), so a
    * hit can never be stale; the cap just bounds memory — a clear only
    * costs re-reads. Makes a foreign-commit head reload O(new
    * manifests), not O(history).
    */
  private val manifestReadCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cacheManifest(absPath: String, body: String): Unit = {
    if (manifestReadCache.size > 8192) manifestReadCache.clear()
    manifestReadCache.put(absPath, body)
  }

  private def readManifestCached(fs: FileSystem, location: String, rel: String): String = {
    val absPath =
      if (rel.startsWith("/") || rel.contains("://")) rel else s"$location/$rel"
    val hit = manifestReadCache.get(absPath)
    if (hit != null) hit
    else {
      val body = readString(fs, new Path(absPath))
      cacheManifest(absPath, body)
      body
    }
  }

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
