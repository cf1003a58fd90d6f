package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, In, LessThanOrEqual}

import graft.GraftQuery
import graft.Tables.t
import graft.config._
import graft.sync.{ChangeStreamSync, CheckpointStore, InitialSync, SyncOrchestrator}
import graft.table.IceliteTable

/** The CDC sync pipeline itself as an oracle-gated query: chunked
  * initial sync of the orders table into an icelite table, a change
  * batch of updates + deletes applied through the streaming batch
  * handler (equality-delete + data file in one commit), then the
  * Merge-on-Read view aggregated. This is SURVEY §7.2's "minimum
  * end-to-end slice" as a standing correctness gate: S1/S4/S5/S7/S9,
  * R1-R6 all execute against real table data, and DuckDB recomputes
  * the expected final state relationally.
  */
object SyncQueries {

  /** Orders rows with the sync key (`_id` = zero-padded orderkey). */
  private def sourceOf(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("_id", format_string("%012d", col("o_orderkey")))

  def syncPipeline(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("sync-query")
    // reference-default batch thresholds (50k records / 128 MB / 60 s)
    // → 3 checkpointed chunks at sf0.1, 1 at sf0.01
    val cfg = CollectionSyncConfig(
      SourceConfig("orders"), TargetConfig("analytics", "orders_sync"))
    val src = sourceOf(spark, dir)
    val table = IceliteTable.create(spark, wh, "analytics", "orders_sync", src.schema)
    val ckpts = new CheckpointStore(spark, wh)

    // 1. chunked, checkpointed initial sync (reference S1/T5/R9)
    new InitialSync(spark, cfg, table, ckpts, "shop").run(src)

    // 2. change batch through the streaming handler (reference R1/R2):
    //    orderkey % 97 == 0 → update (+1000.00), % 101 == 0 → delete;
    //    seq = orderkey (unique total order within the batch)
    val updates = src
      .filter(pmod(col("o_orderkey"), lit(97)) === 0 && pmod(col("o_orderkey"), lit(101)) =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .select(col("o_orderkey").as("seq"), lit("update").as("op"), col("_id"),
        to_json(struct(src.columns.map(col).toSeq: _*)).as("fullDocument"),
        lit(null).cast("timestamp").as("clusterTime"))
    val deletes = src.filter(pmod(col("o_orderkey"), lit(101)) === 0)
      .select(col("o_orderkey").as("seq"), lit("delete").as("op"), col("_id"),
        lit(null).cast("string").as("fullDocument"),
        lit(null).cast("timestamp").as("clusterTime"))
    val batch = updates.unionByName(deletes)
      .select(ChangeStreamSync.EventSchema.fieldNames.map(col).toSeq: _*)
    new ChangeStreamSync(spark, cfg, table, ckpts, "shop").processBatch(batch, batchId = 0)

    // 3. Merge-on-Read final state (reference R3), aggregated
    table.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Relational.dsum(col("o_totalprice"), 2).as("revenue"))
      .orderBy("o_orderstatus")
  }

  private val syncPipelineOracle =
    """WITH final AS (
      |  SELECT o_orderstatus,
      |    CASE WHEN o_orderkey % 97 = 0 AND o_orderkey % 101 <> 0
      |         THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 101 <> 0)
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(price AS DECIMAL(27,2))) AS DOUBLE) AS revenue
      |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** CDF changelog as an oracle-gated query: build an icelite table
    * from an orders subset (append → upsert → delete), then read the
    * `(1, 3]` changelog — update pre/post image pairs and deletes with
    * their pre-delete row values ([[IceliteTable.readChanges]]); DuckDB
    * recomputes every expected change row relationally from the same
    * input.
    */
  def tableChanges(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("cdc-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(11)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_cdc", src.schema)
    table.append(src) // s1
    table.upsert(src // s2: price bump on every third key
      .filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0), Seq("_id"))
    table.delete(src // s3: delete every fifth key (some freshly updated)
      .filter(pmod(col("o_orderkey"), lit(5)) === 0).select("_id"), Seq("_id"))
    // s4: POSITION delete (physical rows, no key events) — the
    // changelog resolves the coordinates back to exact pre-images
    table.deleteWhere(pmod(col("o_orderkey"), lit(7)) === 0)
    table.readChanges(1, 4)
      .select(col(IceliteTable.ChangeTypeCol).as("_change_type"),
        col(IceliteTable.CommitSeqCol).as("_commit_seq"),
        col("_id"), col("o_totalprice"))
      .orderBy("_commit_seq", "_change_type", "_id")
  }

  private val tableChangesOracle =
    """WITH sub AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS id,
      |         o_orderkey AS k, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 11 = 0)
      |SELECT * FROM (
      |  SELECT 'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_seq,
      |         id AS _id, price AS o_totalprice FROM sub WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT 'update_postimage', CAST(2 AS BIGINT), id, price + 10.0
      |  FROM sub WHERE k % 3 = 0
      |  UNION ALL
      |  SELECT 'delete', CAST(3 AS BIGINT), id,
      |         CASE WHEN k % 3 = 0 THEN price + 10.0 ELSE price END
      |  FROM sub WHERE k % 5 = 0
      |  UNION ALL
      |  SELECT 'delete', CAST(4 AS BIGINT), id,
      |         CASE WHEN k % 3 = 0 THEN price + 10.0 ELSE price END
      |  FROM sub WHERE k % 7 = 0 AND k % 5 <> 0
      |) ORDER BY _commit_seq, _change_type, _id""".stripMargin

  /** MERGE INTO as an oracle-gated query ([[IceliteTable.merge]]):
    * seed an icelite table with an orders subset, then merge a source
    * batch that exercises every clause in one commit — matched rows
    * are column-level UPDATE SET (referencing both `s.` and `t.`
    * values), matched rows hitting the delete condition are removed
    * (delete wins over update), and unmatched rows insert only under
    * the insert condition. DuckDB recomputes the final table state
    * with the equivalent outer-join + union. The merge target scan is
    * key-range pruned ([[IceliteTable.scan]]); correctness
    * here is also the standing proof that pruning loses no rows.
    */
  def tableMerge(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("merge-query")
    def subset(mod: Int) = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(mod)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val base = subset(7)
    val table = IceliteTable.create(spark, wh, "analytics", "orders_merge", base.schema)
    // seed via UPSERT, not append: a keyed commit records per-file _id
    // footer stats, so the merge below actually prunes its target scan
    // — this gate must exercise the pruned path, not bypass it
    table.upsert(base, Seq("_id"))
    // source: overlapping + new keys, doubled price so updates are visible
    val src = subset(3).withColumn("o_totalprice", col("o_totalprice") * 2.0)
    table.merge(src, Seq("_id"),
      matchedUpdate = Some(lit(true)),
      matchedDelete = Some(pmod(col("s.o_orderkey"), lit(5)) === 0),
      notMatchedInsert = Some(pmod(col("s.o_orderkey"), lit(2)) === 0),
      matchedUpdateSet = Map(
        "o_totalprice" -> (col("t.o_totalprice") + col("s.o_totalprice")),
        "o_orderstatus" -> lit("M")))
    table.read().orderBy("_id")
  }

  private val tableMergeOracle =
    """WITH base AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS _id,
      |         o_orderkey, o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |src AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS _id,
      |         o_orderkey, o_totalprice * 2.0 AS o_totalprice, o_orderstatus
      |  FROM orders WHERE o_orderkey % 3 = 0)
      |SELECT * FROM (
      |  SELECT b._id, b.o_orderkey,
      |    CASE WHEN s._id IS NOT NULL THEN b.o_totalprice + s.o_totalprice
      |         ELSE b.o_totalprice END AS o_totalprice,
      |    CASE WHEN s._id IS NOT NULL THEN 'M' ELSE b.o_orderstatus END AS o_orderstatus
      |  FROM base b LEFT JOIN src s ON b._id = s._id
      |  WHERE s._id IS NULL OR s.o_orderkey % 5 <> 0
      |  UNION ALL
      |  SELECT s._id, s.o_orderkey, s.o_totalprice, s.o_orderstatus
      |  FROM src s LEFT JOIN base b ON s._id = b._id
      |  WHERE b._id IS NULL AND s.o_orderkey % 2 = 0
      |) ORDER BY _id""".stripMargin

  /** Write-audit-publish gated end to end
    * ([[IceliteTable.stageAppend]]): a curated batch stages invisibly,
    * the audit reads the exact staged bytes (here: a row-count +
    * negative-price gate), the good batch publishes atomically and a
    * failing batch is discarded without trace — the ingestion-audit
    * workflow Iceberg ships as WAP. DuckDB recomputes the published
    * state: base ∪ the batch that passed the audit, nothing from the
    * discarded one.
    */
  def tableWap(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("wap-query")
    def subset(mod: Int) = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(mod)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_wap", subset(7).schema)
    table.append(subset(7))
    // batch 1: clean — audit passes, publish
    val good = table.stageAppend(
      subset(11).filter(pmod(col("o_orderkey"), lit(7)) =!= 0))
    val audit1 = table.readStaged(good)
      .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("mn")).collect().head
    require(audit1.getLong(0) > 0 && audit1.getDouble(1) >= 0.0, "audit gate failed")
    table.publishStaged(good)
    // batch 2: poisoned (negated prices) — audit fails, discard
    val bad = table.stageAppend(
      subset(13).withColumn("o_totalprice", -col("o_totalprice")))
    val audit2 = table.readStaged(bad)
      .agg(min(col("o_totalprice")).as("mn")).collect().head
    require(audit2.getDouble(0) < 0.0) // the poison is visible ONLY to the audit
    table.discardStaged(bad)
    table.read().orderBy("o_orderkey")
  }

  private val tableWapOracle =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE o_orderkey % 7 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** Snapshot refs (branches/tags) gated end to end: an orders subset
    * lands via upsert, a TAG pins that state, a later upsert mutates
    * and deletes rows, a BRANCH fast-forwards to head — then both ref
    * reads are emitted side by side ([[IceliteTable.readRef]]) and
    * DuckDB recomputes each state relationally. Proves refs read
    * through the same MoR time-travel path the seq API uses.
    */
  def tableRefs(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("refs-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(19)) === 0)
      .select(format_string("%012d", col("o_orderkey")).as("_id"),
        col("o_orderkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_refs", base.schema)
    table.upsert(base, Seq("_id"))
    table.createTag("v1", table.meta.lastSeq)
    table.createBranch("audit")
    table.upsert(base.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 50.0), Seq("_id"))
    table.delete(base.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select("_id"), Seq("_id"))
    table.fastForward("audit")
    table.readRef("v1").select(lit("v1").as("ref"), col("_id"),
        col("o_totalprice").as("val"))
      .unionByName(table.readRef("audit").select(lit("audit").as("ref"),
        col("_id"), col("o_totalprice").as("val")))
      .orderBy("ref", "_id")
  }

  private val tableRefsOracle =
    """WITH base AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS _id,
      |         o_orderkey AS k, o_totalprice AS val
      |  FROM orders WHERE o_orderkey % 19 = 0)
      |SELECT 'audit' AS ref, _id,
      |  CASE WHEN k % 2 = 0 THEN val + 50.0 ELSE val END AS val
      |FROM base WHERE k % 3 <> 0
      |UNION ALL
      |SELECT 'v1', _id, val FROM base
      |ORDER BY ref, _id""".stripMargin

  /** The Iceberg BRANCH-WRITE workflow gated end to end: a branch is
    * cut at the head, two batches land ON THE BRANCH
    * ([[IceliteTable.appendToBranch]] — WAP staged commits recorded
    * against the ref), the MAIN view stays byte-identical while an
    * auditor reads the branch's combined view
    * ([[IceliteTable.readBranch]]), then [[IceliteTable.publishBranch]]
    * lands the staged chain on main and fast-forwards the ref. The
    * output stacks all three states (main-before, branch-view,
    * main-after) so isolation AND publish atomicity are both in the
    * oracle gate. Scale: branch writes are the staged-file mechanism —
    * metadata-only publish, no rewrite of the staged bytes.
    */
  def tableBranchWrite(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("branch-write")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(29)) === 0)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_branch", base.schema)
    table.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 1)) // main: odd keys
    table.createBranch("audit")
    // two branch batches: evens ≡ 0 (mod 4), then the remaining evens
    table.appendToBranch("audit", base.filter(pmod(col("o_orderkey"), lit(4)) === 0))
    table.appendToBranch("audit",
      base.filter(pmod(col("o_orderkey"), lit(2)) === 0 && pmod(col("o_orderkey"), lit(4)) =!= 0))
    def agg(phase: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("long").as("sum_cents"))
        .select(lit(phase).as("phase"), col("n_rows"), col("sum_cents"))
    val mainBefore = agg("1_main_before", table.read())
    val branchView = agg("2_branch_view", table.readBranch("audit"))
    table.publishBranch("audit")
    val mainAfter = agg("3_main_after", table.read())
    // the published ref now equals main (fast-forwarded)
    val refAfter = agg("4_ref_after", table.readRef("audit"))
    mainBefore.unionByName(branchView).unionByName(mainAfter).unionByName(refAfter)
      .orderBy("phase")
  }

  private val tableBranchWriteOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 29 = 0),
      |odd AS (SELECT * FROM base WHERE k % 2 = 1),
      |phases AS (
      |  SELECT '1_main_before' AS phase, count(*) AS n_rows,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents FROM odd
      |  UNION ALL
      |  SELECT '2_branch_view', count(*),
      |    CAST(sum(cents) AS BIGINT) FROM base
      |  UNION ALL
      |  SELECT '3_main_after', count(*),
      |    CAST(sum(cents) AS BIGINT) FROM base
      |  UNION ALL
      |  SELECT '4_ref_after', count(*),
      |    CAST(sum(cents) AS BIGINT) FROM base)
      |SELECT phase, n_rows, sum_cents FROM phases ORDER BY phase""".stripMargin

  /** The `partitions` metadata table gated end to end: orders land in
    * a month-partitioned icelite table, a key set is MoR-deleted, and
    * [[IceliteTable.partitionsTable]]'s per-partition record counts
    * (exact, merge-on-read) are checked against DuckDB grouping the
    * same surviving rows by the same transform.
    */
  def tablePartitions(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("parts-query")
    val src = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_parts", src.schema,
      partitioning = Seq(PartitionConfig("o_orderdate", "month")))
    table.upsert(src, Seq("o_orderkey"))
    table.delete(src.filter(pmod(col("o_orderkey"), lit(5)) === 0)
      .select("o_orderkey"), Seq("o_orderkey"))
    table.partitionsTable()
      .select(col(IceliteTable.partColName(PartitionConfig("o_orderdate", "month")))
        .as("month"), col("record_count"))
      .orderBy("month")
  }

  private val tablePartitionsOracle =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |       count(*) AS record_count
      |FROM orders WHERE o_orderkey % 5 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The `snapshots` + `manifests` metadata tables gated end to end:
    * three commits of known shape (append, keyed upsert, key delete)
    * land in a fixture table, then the snapshot log's added/cumulative
    * record totals AND the per-file manifest metrics (summed per
    * snapshot and content from [[IceliteTable.manifestsTable]] — row
    * counts captured at commit time, no file IO) are checked against
    * DuckDB recomputing each commit's cardinality relationally.
    * Timestamps and file sizes are env-dependent, so the gate covers
    * the relational columns; sizes/summary are spec-asserted instead
    * (`IceliteRefsSpec`).
    */
  def tableSnapshots(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("snapshots-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(17)) === 0)
      .select(format_string("%012d", col("o_orderkey")).as("_id"),
        col("o_orderkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_snap", base.schema)
    table.append(base)
    table.upsert(base.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0), Seq("_id"))
    table.delete(base.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select("_id"), Seq("_id"))
    val mrows = table.manifestsTable()
      .groupBy(col("seq").as("mseq"))
      .agg(
        sum(when(col("content") === "data", col("record_count")).otherwise(0L))
          .as("mdata"),
        sum(when(col("content") === "delete", col("record_count")).otherwise(0L))
          .as("mdel"))
    table.snapshotsTable()
      .select(col("seq"), col("operation"), col("added_records"), col("total_records"))
      .join(mrows, col("seq") === col("mseq"), "left")
      .select(col("seq"), col("operation"), col("added_records"), col("total_records"),
        coalesce(col("mdata"), lit(0L)).as("data_rows"),
        coalesce(col("mdel"), lit(0L)).as("delete_rows"))
      .orderBy("seq")
  }

  /** The streaming CDC CONSUMER loop gated end to end
    * ([[graft.streaming.ChangelogFeed]]): commits land in a fixture
    * table, the feed exports their changelog increments, a Spark
    * file-stream consumer drains into a parquet sink on a PERSISTENT
    * checkpoint, more commits land, and the SAME consumer resumes for
    * the new increment. The final sink is hash-gated against DuckDB
    * recomputing the full changelog — any dropped or re-delivered
    * event across the resume breaks the hash (exact resume semantics
    * are additionally spec-proven in `ChangelogFeedSpec`).
    */
  def tableChangelogStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val wh = graft.util.Scratch.dir("cdcfeed-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"))
      .persist() // the fixture reads it for the append and both change sets
    try {
      val table = IceliteTable.create(spark, wh, "analytics", "orders_feed", src.schema)
      val feed = new graft.streaming.ChangelogFeed(
        table, graft.util.Scratch.dir("cdcfeed-dir"))
      val sink = graft.util.Scratch.dir("cdcfeed-sink")
      val ck = graft.util.Scratch.dir("cdcfeed-ck")
      def drainOnce(): Unit = {
        val q = feed.readStream.writeStream
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", sink)
          .start()
        q.awaitTermination()
      }
      table.append(src) // s1: inserts
      feed.exportAvailable()
      drainOnce()
      // s2: ONE resolved change batch — the reference's steady-state
      // commit shape (docs/design.md change-stream apply: delete files
      // for every touched key + data file with the new images, one
      // txn): upserted keys read back as update pairs, delete-only
      // keys as deletes, all at one seq
      val ups = src.filter(pmod(col("o_orderkey"), lit(3)) === 0 &&
          pmod(col("o_orderkey"), lit(5)) =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0)
      val dels = src.filter(pmod(col("o_orderkey"), lit(5)) === 0).select("_id")
      table.applyChanges(ups, ups.select("_id").union(dels), Seq("_id"))
      feed.exportAvailable()
      drainOnce() // resumes the checkpoint: consumes exactly s2
      spark.read.schema(feed.schema).parquet(sink)
        .select(col(IceliteTable.ChangeTypeCol).as("_change_type"),
          col(IceliteTable.CommitSeqCol).as("_commit_seq"),
          col("_id"), col("o_totalprice"))
        .orderBy("_commit_seq", "_change_type", "_id")
    } finally src.unpersist()
  }

  /** Full CDC replication round-trip — the reference's end purpose
    * demonstrated inside one stack: SOURCE icelite table takes commits
    * (full append, then one resolved update+delete batch) → [[graft.streaming.ChangelogFeed]]
    * exports each snapshot's changes → a STREAMING consumer
    * (`foreachBatch` over the feed's file stream) applies every batch
    * to a REPLICA table — latest event per key (postimages upserted,
    * deletes deleted; preimages dropped), so replica state converges to
    * source state through the changelog alone, never a source re-read.
    * The gate is the replicated STATE: the oracle recomputes what the
    * source must contain after the commit history.
    *
    * Ordering: each drain's AvailableNow pass delivers all exported
    * files as one micro-batch (well under the 1000-file trigger
    * default), and per key the apply keeps the max `_commit_seq` event
    * — so intra-batch ordering needs no file-order assumption. At
    * scale each micro-batch applies as one bounded MERGE; the replica
    * lags by at most the trigger interval, the standard CDC-mirror
    * deployment.
    */
  def tableReplicaSync(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("replica-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(37)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"))
      .persist() // the fixture reads it for the append and the change batch
    try {
      val source = IceliteTable.create(spark, wh, "analytics", "orders_src", src.schema)
      // replica created with the guard columns up front — the deployed
      // mirror shape; skips the first-apply evolution commit
      val replica = IceliteTable.create(spark, wh, "analytics", "orders_replica",
        graft.streaming.ChangelogFeed.replicaSchema(src.schema))
      val feed = new graft.streaming.ChangelogFeed(
        source, graft.util.Scratch.dir("replica-feed"))
      val ck = graft.util.Scratch.dir("replica-ck")
      def drainApply(): Unit = feed.replicateOnce(replica, Seq("_id"), ck)
      source.append(src) // s1: full insert
      feed.exportAvailable()
      drainApply() // consumer 1st cycle: s1
      // s2: ONE resolved change batch (the steady-state commit shape,
      // as in tableChangelogStream): delete every %4 key, update the
      // surviving even keys — deletes and updates at one seq, so the
      // resumed consumer must split one batch into tombstones and
      // upserts
      val ups = src
        .filter(pmod(col("o_orderkey"), lit(2)) === 0 && pmod(col("o_orderkey"), lit(4)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(3)) === 0, col("o_totalprice") + 6.0)
            .otherwise(col("o_totalprice") + 1.0))
      val dels = src.filter(pmod(col("o_orderkey"), lit(4)) === 0).select("_id")
      source.applyChanges(ups, ups.select("_id").union(dels), Seq("_id"))
      feed.exportAvailable()
      drainApply() // consumer 2nd cycle resumes: exactly s2
      graft.streaming.ChangelogFeed.replicaState(replica)
        .select(col("_id"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("_id")
    } finally src.unpersist()
  }

  /** Metadata-only compaction planning — what the r11 commit-time file
    * metrics exist FOR: the planner reads `manifestsTable()` +
    * `filesTable()` (table metadata, zero per-file IO at any table
    * size), selects live data files under the size target, and packs
    * them into rewrite groups PER TABLE PARTITION by a cumulative-sum
    * group id (`floor(exclusive_cumsum / target)` — the same
    * relational prefix-sum shape as sequence packing; no driver loop,
    * no greedy state). The window partitions by the file's partition
    * value (from the recorded identity-partition footer stats: each
    * fixture file holds one bucket, so min = max = the value), which
    * bounds every prefix-sum partition — at 100 TB no single ordered
    * window ever sees the whole manifest, and groups never span a
    * partition (a rewrite is a within-partition operation).
    *
    * The fixture commits one small append per (residue, bucket) of
    * known cardinality into an identity-partitioned table, so the
    * oracle can recompute every file's record count and partition, the
    * data-dependent per-partition target (half the partition total),
    * and the identical grouping arithmetic. Empty residue classes are
    * dropped on BOTH sides (`record_count > 0` here, HAVING in the
    * oracle) — an empty append still advances the commit seq, so the
    * seq arithmetic stays aligned at every scale factor.
    * [[CplanRounds]] = 3 residues × 2 buckets: each bucket's three
    * ≈⅓-mass files pack into TWO groups under the half-total target,
    * so the partitioned prefix-sum grouping is still exercised per
    * bucket while the fixture pays 6 commits, not 10 (the commit
    * fsyncs, not the plan, dominate this query's wall time).
    */
  private val CplanRounds = 3

  def tableCompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wh = graft.util.Scratch.dir("cplan-query")
    // the 1/19 subset is materialized ONCE — the 10 per-(round, bucket)
    // fixture appends then filter the small in-memory frame instead of
    // re-scanning the orders parquet per commit (this fixture cost, not
    // the plan itself, dominated the query's wall time)
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(19)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"),
        pmod(col("o_orderkey"), lit(2)).cast("long").as("pbucket"))
      .localCheckpoint(true)
    val pconf = graft.config.PartitionConfig("pbucket", "identity")
    val table = IceliteTable.create(spark, wh, "analytics", "orders_cplan",
      src.schema, partitioning = Seq(pconf))
    for (r <- 0 until CplanRounds; b <- 0 until 2)
      table.append(src.filter(
        pmod(col("o_orderkey"), lit(5)) === r && col("pbucket") === b).coalesce(1))
    src.unpersist()
    val pcol = IceliteTable.partColName(pconf)
    // per-file partition value from the recorded footer stats (the
    // manifest-level partition tuple): identity stats, min == max
    val parts = table.filesTable()
      .filter(col("content") === "data")
      .select(col("file"), element_at(
        filter(col("partition_stats"), s => s.getField("_1") === lit(pcol)), 1)
        .getField("_2").cast("long").as("pbucket"))
    val files = table.manifestsTable()
      .filter(col("content") === "data" &&
        col("record_count").isNotNull && col("record_count") > 0)
      .join(parts, "file")
      .select(col("seq"), col("pbucket"), col("record_count"))
    val ptotal = sum(col("record_count")).over(Window.partitionBy(col("pbucket")))
    val w = Window.partitionBy(col("pbucket")).orderBy(col("seq"))
    files
      .withColumn("target", greatest(lit(1L), (ptotal / 2).cast("long")))
      .filter(col("record_count") < col("target"))
      .withColumn("cum_before",
        coalesce(sum(col("record_count")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("group_id", (col("cum_before") / col("target")).cast("long"))
      .groupBy(col("pbucket"), col("group_id"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("record_count")).as("group_records"),
        min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"))
      .orderBy("pbucket", "group_id")
  }

  private val tableCompactionPlanOracle =
    s"""WITH sub AS (
      |  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 19 = 0),
      |cnt AS (
      |  SELECT CAST(r * 2 + b + 1 AS BIGINT) AS seq, CAST(b AS BIGINT) AS pbucket,
      |    (SELECT count(*) FROM sub WHERE k % 5 = r AND k % 2 = b) AS record_count
      |  FROM (SELECT unnest(generate_series(0, ${CplanRounds - 1})) AS r),
      |       (SELECT unnest(generate_series(0, 1)) AS b)),
      |live AS (SELECT * FROM cnt WHERE record_count > 0),
      |tot AS (SELECT pbucket, sum(record_count) AS ptotal FROM live GROUP BY pbucket),
      |tgt AS (
      |  SELECT pbucket, greatest(1, CAST(ptotal // 2 AS BIGINT)) AS target FROM tot),
      |packed AS (
      |  SELECT l.seq, l.pbucket, l.record_count, t.target,
      |    coalesce(sum(l.record_count) OVER (PARTITION BY l.pbucket ORDER BY l.seq
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM live l JOIN tgt t USING (pbucket) WHERE l.record_count < t.target)
      |SELECT pbucket, CAST(cum_before // target AS BIGINT) AS group_id,
      |  count(*) AS n_files,
      |  CAST(sum(record_count) AS BIGINT) AS group_records,
      |  min(seq) AS min_seq, max(seq) AS max_seq
      |FROM packed GROUP BY 1, 2 ORDER BY pbucket, group_id""".stripMargin

  /** ANALYZE as an oracle-gated query ([[IceliteTable.analyze]] →
    * [[IceliteTable.statsTable]]): seed a keyed table (one string, one
    * long, two doubles — one pushed into the E-notation range where
    * engines' decimal renderings DIVERGE, exercising the canonical
    * hex-float hash — and one NULLABLE column with planted nulls),
    * run ANALYZE over all five, and read the stats back from table
    * METADATA. DuckDB recomputes every row — totals, null counts, and
    * the KMV distinct estimates over the identical portable hash
    * (the normalized `%a` encoding for the double columns) — so the
    * statistics a planner would consume are proven bit-identical to a
    * relational recomputation, including the sketch math, for every
    * analyzed type.
    */
  def tableAnalyze(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("analyze-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(23)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"),
        (col("o_totalprice") * lit(1.0e7d)).as("price_sci"),
        when(pmod(col("o_orderkey"), lit(10)) === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status_opt"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_stats", src.schema)
    table.upsert(src, Seq("_id"))
    table.analyze(Seq("_id", "o_orderkey", "o_totalprice", "price_sci", "status_opt"))
    table.statsTable().orderBy("column")
  }

  /** Incremental ANALYZE as an oracle-gated query
    * ([[IceliteTable.analyzeIncremental]]): seed the same five-column
    * projection SPLIT in two — the odd-key half appended and analyzed
    * in full, then the even-key half appended and folded in with the
    * incremental path, which scans ONLY the delta files and merges
    * the stored mergeable state (counts add, KMV retained-minima
    * union). The gate's oracle is the SAME recomputation as
    * `table_analyze` over the full subset, so it proves the
    * incremental fold is bit-identical to analyzing everything from
    * scratch — the property that lets a 100 TB table refresh its
    * stats at delta cost.
    */
  def tableAnalyzeIncremental(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("analyze-incr-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(23)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"),
        (col("o_totalprice") * lit(1.0e7d)).as("price_sci"),
        when(pmod(col("o_orderkey"), lit(10)) === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status_opt"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_stats_incr", src.schema)
    table.append(src.filter(pmod(col("o_orderkey"), lit(2)) === 1))
    table.analyze(Seq("_id", "o_orderkey", "o_totalprice", "price_sci", "status_opt"))
    table.append(src.filter(pmod(col("o_orderkey"), lit(2)) === 0))
    table.analyzeIncremental()
    table.statsTable().orderBy("column")
  }

  /** Join-cardinality estimation from published ANALYZE stats — the
    * second planner-side stats consumer (after [[tableSelectivity]]'s
    * range estimate): the classic CBO formula
    * `|A ⋈ B| ≈ n_A · n_B / max(ndv_A, ndv_B)` evaluated ENTIRELY
    * from two tables' stats snapshots (row counts, null counts, KMV
    * NDV — a few metadata rows), next to the exact join count. All
    * integer arithmetic, so both engines agree bit-for-bit on the
    * estimate. At 100 TB this is what decides join ORDER and strategy
    * before a single data file is opened.
    */
  def tableJoinEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wh = graft.util.Scratch.dir("join-est-query")
    val o = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val c = t(spark, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(3)) === 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val to = IceliteTable.create(spark, wh, "analytics", "orders_je", o.schema)
    to.append(o)
    to.analyze(Seq("o_custkey"))
    val tc = IceliteTable.create(spark, wh, "analytics", "customer_je", c.schema)
    tc.append(c)
    tc.analyze(Seq("c_custkey"))
    def keyStats(tab: IceliteTable, key: String): (Long, Long) = {
      val r = tab.statsTable().filter(col("column") === key).collect()(0)
      (r.getLong(1) - r.getLong(2), r.getLong(3)) // non-null rows, NDV
    }
    val (no, ndvO) = keyStats(to, "o_custkey")
    val (nc, ndvC) = keyStats(tc, "c_custkey")
    val est = no * nc / math.max(ndvO, ndvC)
    val exact = to.read().join(tc.read(), col("o_custkey") === col("c_custkey")).count()
    Seq((no, nc, ndvO, ndvC, est, exact, math.abs(est - exact)))
      .toDF("n_orders", "n_customers", "ndv_o_custkey", "ndv_c_custkey",
        "est_rows", "exact_rows", "abs_err")
  }

  private val tableJoinEstimateOracle = {
    val k = 256
    def ndv(src: String, expr: String) =
      s"""SELECT CAST(CASE WHEN cnt < $k THEN cnt
         |    ELSE ${(k - 1).toLong * 4294967296L} // hk END AS BIGINT) AS ndv
         |FROM (
         |  SELECT count(*) AS cnt, max(h) AS hk FROM (
         |    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
         |      SELECT DISTINCT CAST(concat('0x', substr(md5(CAST($expr AS VARCHAR)), 1, 8)) AS BIGINT) AS h
         |      FROM $src WHERE $expr IS NOT NULL) d) r
         |  WHERE rn <= $k) s""".stripMargin
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 = 0),
       |c AS (
       |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0),
       |no AS (SELECT count(o_custkey) AS n FROM o),
       |nc AS (SELECT count(c_custkey) AS n FROM c),
       |ndvo AS (${ndv("o", "o_custkey")}),
       |ndvc AS (${ndv("c", "c_custkey")}),
       |ex AS (SELECT count(*) AS x FROM o JOIN c ON o_custkey = c_custkey)
       |SELECT no.n AS n_orders, nc.n AS n_customers,
       |  ndvo.ndv AS ndv_o_custkey, ndvc.ndv AS ndv_c_custkey,
       |  no.n * nc.n // greatest(ndvo.ndv, ndvc.ndv) AS est_rows,
       |  ex.x AS exact_rows,
       |  abs(no.n * nc.n // greatest(ndvo.ndv, ndvc.ndv) - ex.x) AS abs_err
       |FROM no, nc, ndvo, ndvc, ex""".stripMargin
  }

  /** Histogram-driven SELECTIVITY estimation — the stats CONSUMER a
    * cost-based planner actually is: a range predicate's cardinality
    * estimated from the published bucket intervals (full buckets plus
    * integer linear interpolation on the edge buckets) next to the
    * exact count, all-integer so both engines agree bit-for-bit. The
    * estimate reads METADATA only (16 bucket rows); at 100 TB that is
    * the difference between planning from a snapshot and scanning to
    * decide how to scan.
    */
  def tableSelectivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wh = graft.util.Scratch.dir("selectivity-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(23)) === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_sel", src.schema)
    table.append(src)
    table.analyze(Seq("o_custkey"))
    table.analyzeHistogram(Seq("o_custkey"), buckets = 16)
    val st = table.statsTable().filter(col("column") === "o_custkey").collect()(0)
    val (mn, mx) = (st.getString(5).toLong, st.getString(6).toLong)
    val span = mx - mn + 1
    val (qlo, qhi) = (mn + span / 8, mn + span / 3)
    val est = table.histogramTable().collect().map { r =>
      val (blo, bhi, cnt) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (lo, hi) = (math.max(blo, qlo), math.min(bhi, qhi))
      if (hi >= lo) cnt * (hi - lo + 1) / (bhi - blo + 1) else 0L
    }.sum
    val exact = table.read().filter(col("o_custkey").between(qlo, qhi)).count()
    Seq((qlo, qhi, est, exact, math.abs(est - exact)))
      .toDF("qlo", "qhi", "est_rows", "exact_rows", "abs_err")
  }

  private val tableSelectivityOracle =
    """WITH sub AS (
      |  SELECT o_custkey FROM orders WHERE o_orderkey % 23 = 0),
      |b AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM sub),
      |q AS (
      |  SELECT mn + (mx - mn + 1) // 8 AS qlo, mn + (mx - mn + 1) // 3 AS qhi
      |  FROM b),
      |c AS (
      |  SELECT ((o_custkey - mn) * 16) // (mx - mn + 1) AS bucket, count(*) AS cnt
      |  FROM sub, b GROUP BY 1),
      |iv AS (
      |  SELECT i AS bucket,
      |    mn + (i * (mx - mn + 1) + 15) // 16 AS blo,
      |    mn + ((i + 1) * (mx - mn + 1) + 15) // 16 - 1 AS bhi,
      |    coalesce(cnt, 0) AS cnt
      |  FROM b, range(0, 16) r(i) LEFT JOIN c ON c.bucket = i),
      |est AS (
      |  SELECT sum(CASE WHEN least(bhi, qhi) >= greatest(blo, qlo)
      |    THEN cnt * (least(bhi, qhi) - greatest(blo, qlo) + 1) // (bhi - blo + 1)
      |    ELSE 0 END) AS e
      |  FROM iv, q),
      |ex AS (
      |  SELECT count(*) AS x FROM sub, q WHERE o_custkey BETWEEN qlo AND qhi)
      |SELECT qlo, qhi, CAST(e AS BIGINT) AS est_rows, CAST(x AS BIGINT) AS exact_rows,
      |  CAST(abs(e - x) AS BIGINT) AS abs_err
      |FROM q, est, ex""".stripMargin

  /** Bloom point lookup ([[IceliteTable.planFiles]]): four
    * HASH-SCATTERED appends (every file spans the full key range, so
    * min/max bounds prune NOTHING — the case blooms exist for), per-
    * file key blooms built once, a keyed DELETE of the smallest probe
    * key (the pruned read still runs the full MoR merge), then a
    * 3-key point lookup. The oracle recomputes the surviving probe
    * rows relationally.
    */
  def tableBloomLookup(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("bloom-lookup-query")
    val sub = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_bloom", sub.schema)
    (0 until 4).foreach { i =>
      table.append(sub.filter(pmod(col("o_orderkey"), lit(4)) === i))
    }
    table.buildKeyBlooms("o_orderkey")
    val probes = sub.orderBy("o_orderkey").limit(3)
      .collect().map(_.getLong(0)).toSeq
    table.delete(
      sub.filter(col("o_orderkey") === probes.head).select("o_orderkey"),
      Seq("o_orderkey"))
    table.scan(Seq(In("o_orderkey", probes.map(Long.box).toArray)))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  private val tableBloomLookupOracle =
    """WITH sub AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 7 = 0),
      |probes AS (SELECT o_orderkey FROM sub ORDER BY o_orderkey LIMIT 3),
      |mn AS (SELECT min(o_orderkey) AS m FROM sub)
      |SELECT s.o_orderkey, o_custkey, o_totalprice
      |FROM sub s JOIN probes USING (o_orderkey), mn
      |WHERE s.o_orderkey <> mn.m
      |ORDER BY o_orderkey""".stripMargin

  /** Histogram statistics ([[IceliteTable.analyzeHistogram]]): ANALYZE
    * freezes the bounds, the histogram buckets under them with
    * all-integer clamped equi-width math, and the metadata table emits
    * each bucket's exact value interval + count — the selectivity
    * input a cost-based planner reads after NDV. The oracle recomputes
    * bounds, bucket mapping, interval inversion, and counts (empty
    * buckets included) relationally.
    */
  def tableHistogram(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("histogram-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(23)) === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_hist", src.schema)
    table.append(src)
    table.analyze(Seq("o_orderkey", "o_custkey"))
    table.analyzeHistogram(Seq("o_orderkey", "o_custkey"), buckets = 16)
    table.histogramTable().orderBy("column", "bucket")
  }

  private val tableHistogramOracle =
    """WITH sub AS (
      |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 23 = 0),
      |v AS (
      |  SELECT 'o_orderkey' AS name, o_orderkey AS v FROM sub
      |  UNION ALL SELECT 'o_custkey', o_custkey FROM sub),
      |b AS (SELECT name, min(v) AS mn, max(v) AS mx FROM v GROUP BY name),
      |bk AS (
      |  SELECT v.name, ((v.v - b.mn) * 16) // (b.mx - b.mn + 1) AS bucket
      |  FROM v JOIN b USING (name)),
      |c AS (SELECT name, bucket, count(*) AS cnt FROM bk GROUP BY name, bucket),
      |g AS (SELECT name, i AS bucket FROM b, range(0, 16) r(i))
      |SELECT g.name AS "column", CAST(g.bucket AS BIGINT) AS bucket,
      |  CAST(b.mn + (g.bucket * (b.mx - b.mn + 1) + 15) // 16 AS BIGINT) AS bucket_lo,
      |  CAST(b.mn + ((g.bucket + 1) * (b.mx - b.mn + 1) + 15) // 16 - 1 AS BIGINT) AS bucket_hi,
      |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
      |FROM g JOIN b USING (name) LEFT JOIN c ON g.name = c.name AND g.bucket = c.bucket
      |ORDER BY "column", bucket""".stripMargin

  /** General predicate file skipping ([[IceliteTable.planFiles]]):
    * stats DECLARED on a non-key column (`trackStats`, the Iceberg
    * `write.metadata.metrics` shape), four range-banded appends so the
    * files carry disjoint custkey bounds, a keyed DELETE in the middle
    * (the pruned read must still run the full MoR merge), then a range
    * read on the bottom quartile — the files metadata alone drops the
    * other three bands before any data IO. The oracle recomputes the
    * kept rows relationally from the full subset.
    */
  def tableStatsSkipping(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("stats-skip-query")
    val sub = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_skip", sub.schema)
    table.trackStats(Seq("o_custkey"))
    val band = sub.agg(max(col("o_custkey"))).collect()(0).getLong(0) / 4
    (0 until 4).foreach { i =>
      val lo = col("o_custkey") > lit(i * band)
      val hi = if (i == 3) lit(true) else col("o_custkey") <= lit((i + 1) * band)
      table.append(sub.filter(lo && hi))
    }
    table.delete(
      sub.filter(pmod(col("o_orderkey"), lit(70)) === 0).select("o_orderkey"),
      Seq("o_orderkey"))
    table.scan(Seq(GreaterThanOrEqual("o_custkey", 1L), LessThanOrEqual("o_custkey", band)))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  private val tableStatsSkippingOracle =
    """WITH sub AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 7 = 0),
      |hi AS (SELECT max(o_custkey) // 4 AS h FROM sub)
      |SELECT o_orderkey, o_custkey, o_totalprice
      |FROM sub, hi
      |WHERE o_orderkey % 70 <> 0 AND o_custkey >= 1 AND o_custkey <= hi.h
      |ORDER BY o_orderkey""".stripMargin

  private val tableAnalyzeOracle = {
    val k = 256
    val est = s"CASE WHEN cnt < $k THEN cnt ELSE ${(k - 1).toLong * 4294967296L} // hk END"
    // normalized C99 hex-float — the engine's canonical double
    // encoding (IceliteTable.analyze canonicalStr), bit-portable where
    // shortest-decimal VARCHAR casts are not
    def canon(expr: String) =
      s"""CASE WHEN isnan($expr) THEN 'nan'
         |       WHEN isinf($expr) AND $expr > 0 THEN 'inf'
         |       WHEN isinf($expr) THEN '-inf'
         |       WHEN $expr = 0 THEN '0'
         |       ELSE replace(printf('%a', $expr), 'p+', 'p') END""".stripMargin
    def colBlock(c: String, expr: String, strExpr: Option[String] = None) = {
      // bounds repr: raw string / decimal integer, or the canonical
      // hex-float for doubles — exactly IceliteTable.canonRepr
      val mnE = strExpr.map(_ => canon(s"min($expr)"))
        .getOrElse(s"CAST(min($expr) AS VARCHAR)")
      val mxE = strExpr.map(_ => canon(s"max($expr)"))
        .getOrElse(s"CAST(max($expr) AS VARCHAR)")
      s"""SELECT '$c' AS "column",
         |  (SELECT count(*) FROM sub) AS n_rows,
         |  (SELECT count(*) - count($expr) FROM sub) AS n_nulls,
         |  CAST($est AS BIGINT) AS ndv_estimate,
         |  CAST(cnt AS BIGINT) AS sketch_size,
         |  (SELECT $mnE FROM sub) AS min_repr,
         |  (SELECT $mxE FROM sub) AS max_repr
         |FROM (
         |  SELECT count(*) AS cnt, max(h) AS hk FROM (
         |    SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
         |      SELECT DISTINCT CAST(concat('0x', substr(md5(${strExpr.getOrElse(s"CAST($expr AS VARCHAR)")}), 1, 8)) AS BIGINT) AS h
         |      FROM sub WHERE $expr IS NOT NULL) d) r
         |  WHERE rn <= $k) s""".stripMargin
    }
    s"""WITH sub AS (
       |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS _id,
       |    o_orderkey, o_totalprice,
       |    o_totalprice * 10000000.0 AS price_sci,
       |    CASE WHEN o_orderkey % 10 = 0 THEN NULL
       |         ELSE o_orderstatus END AS status_opt
       |  FROM orders WHERE o_orderkey % 23 = 0)
       |SELECT * FROM (
       |  ${colBlock("_id", "_id")}
       |  UNION ALL
       |  ${colBlock("o_orderkey", "o_orderkey")}
       |  UNION ALL
       |  ${colBlock("o_totalprice", "o_totalprice", Some(canon("o_totalprice")))}
       |  UNION ALL
       |  ${colBlock("price_sci", "price_sci", Some(canon("price_sci")))}
       |  UNION ALL
       |  ${colBlock("status_opt", "status_opt")}
       |) ORDER BY "column"""".stripMargin
  }

  private val tableReplicaSyncOracle =
    """WITH sub AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS _id,
      |         o_orderkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 37 = 0)
      |SELECT _id, o_orderkey,
      |  o_totalprice
      |    + CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 4 <> 0
      |           THEN CASE WHEN o_orderkey % 3 = 0 THEN 6.0 ELSE 1.0 END
      |           ELSE 0.0 END
      |  AS o_totalprice
      |FROM sub WHERE o_orderkey % 4 <> 0
      |ORDER BY _id""".stripMargin

  private val tableChangelogStreamOracle =
    """WITH sub AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS id,
      |         o_orderkey AS k, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 13 = 0)
      |SELECT * FROM (
      |  SELECT 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_seq,
      |         id AS _id, price AS o_totalprice FROM sub
      |  UNION ALL
      |  SELECT 'update_preimage', CAST(2 AS BIGINT), id, price
      |  FROM sub WHERE k % 3 = 0 AND k % 5 <> 0
      |  UNION ALL
      |  SELECT 'update_postimage', CAST(2 AS BIGINT), id, price + 10.0
      |  FROM sub WHERE k % 3 = 0 AND k % 5 <> 0
      |  UNION ALL
      |  SELECT 'delete', CAST(2 AS BIGINT), id, price
      |  FROM sub WHERE k % 5 = 0
      |) ORDER BY _commit_seq, _change_type, _id""".stripMargin

  private val tableSnapshotsOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 17 = 0),
      |n1 AS (SELECT count(*) AS c FROM base),
      |n2 AS (SELECT count(*) AS c FROM base WHERE k % 2 = 0),
      |n3 AS (SELECT count(*) AS c FROM base WHERE k % 3 = 0)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS seq, 'append' AS operation,
      |    n1.c AS added_records, n1.c AS total_records,
      |    n1.c AS data_rows, CAST(0 AS BIGINT) AS delete_rows FROM n1
      |  UNION ALL
      |  SELECT 2, 'upsert', n2.c, n1.c + n2.c, n2.c, n2.c FROM n1, n2
      |  UNION ALL
      |  SELECT 3, 'delete', 0, n1.c + n2.c, 0, n3.c FROM n1, n2, n3
      |) ORDER BY seq""".stripMargin

  /** Multi-collection concurrent orchestration
    * ([[SyncOrchestrator.syncAll]], reference thread model
    * docs/design.md: one worker per collection, independent
    * checkpoints) as an oracle-gated query: TWO collections (orders +
    * customer subsets) are written as jsonl fixtures with their own
    * change logs, synced CONCURRENTLY through the full production
    * path — schema inference, chunked initial sync, streaming change
    * drain, per-collection checkpoints — and both final MoR states are
    * gated row-level against DuckDB recomputing them relationally.
    * Previously spec-only (the concurrency spec asserts isolation;
    * this gates end-state correctness).
    */
  def syncAllCollections(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("syncall-src")
    val wh = graft.util.Scratch.dir("syncall-wh")
    def writeJsonl(df: DataFrame, path: String): Unit =
      df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("value"))
        .coalesce(1).write.text(path)

    val orders = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(17)) === 0)
      .select(format_string("%012d", col("o_orderkey")).as("_id"),
        col("o_orderkey"), col("o_totalprice"))
    val cust = t(spark, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(13)) === 0)
      .select(format_string("%012d", col("c_custkey")).as("_id"),
        col("c_custkey"), col("c_acctbal"))
    writeJsonl(orders, s"$root/shop/orders.jsonl")
    writeJsonl(cust, s"$root/shop/customer.jsonl")

    // per-collection change logs (seq = key: unique total order);
    // update and delete key sets are disjoint so the oracle is a
    // single CASE per collection
    def updates(src: DataFrame, key: String, doc: Column): DataFrame = src
      .select(col(key).as("seq"), lit("update").as("op"), col("_id"),
        doc.as("fullDocument"))
    def deletes(src: DataFrame, key: String): DataFrame = src
      .select(col(key).as("seq"), lit("delete").as("op"), col("_id"),
        lit(null).cast("string").as("fullDocument"))
    val oEvents = updates(
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0 &&
          pmod(col("o_orderkey"), lit(5)) =!= 0),
        "o_orderkey",
        to_json(struct(col("_id"), col("o_orderkey"),
          (col("o_totalprice") + 7.25).as("o_totalprice"))))
      .unionByName(deletes(
        orders.filter(pmod(col("o_orderkey"), lit(5)) === 0), "o_orderkey"))
    val cEvents = updates(
        cust.filter(pmod(col("c_custkey"), lit(3)) === 0 &&
          pmod(col("c_custkey"), lit(7)) =!= 0),
        "c_custkey",
        to_json(struct(col("_id"), col("c_custkey"),
          (col("c_acctbal") + 100.0).as("c_acctbal"))))
      .unionByName(deletes(
        cust.filter(pmod(col("c_custkey"), lit(7)) === 0), "c_custkey"))
    def writeEvents(ev: DataFrame, path: String): Unit =
      ev.select(to_json(struct(col("seq"), col("op"), col("_id"),
        col("fullDocument"))).as("value"))
        .coalesce(1).write.text(path)
    writeEvents(oEvents, s"$root/shop/orders.changes")
    writeEvents(cEvents, s"$root/shop/customer.changes")

    val cfg = SyncConfig(
      MongoConfig(root, "shop"),
      IcebergConfig(CatalogConfig("local", warehouse = Some(wh))),
      SyncSection(Seq(
        CollectionSyncConfig(SourceConfig("orders"), TargetConfig("analytics", "orders_all")),
        CollectionSyncConfig(SourceConfig("customer"), TargetConfig("analytics", "customer_all")))))
    val tables = new SyncOrchestrator(spark, cfg, wh)
      .syncAll(graft.util.Scratch.dir("syncall-ck"), parallelism = 2)

    val o = tables("analytics.orders_all").read()
      .select(lit("orders").as("collection"), col("_id"),
        col("o_totalprice").as("val"))
    val c = tables("analytics.customer_all").read()
      .select(lit("customer").as("collection"), col("_id"),
        col("c_acctbal").as("val"))
    o.unionByName(c).orderBy("collection", "_id")
  }

  private val syncAllOracle =
    """WITH o AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS _id,
      |    CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 5 <> 0
      |         THEN o_totalprice + 7.25 ELSE o_totalprice END AS val
      |  FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 5 <> 0),
      |c AS (
      |  SELECT lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS _id,
      |    CASE WHEN c_custkey % 3 = 0 AND c_custkey % 7 <> 0
      |         THEN c_acctbal + 100.0 ELSE c_acctbal END AS val
      |  FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 7 <> 0)
      |SELECT 'orders' AS collection, _id, val FROM o
      |UNION ALL
      |SELECT 'customer', _id, val FROM c
      |ORDER BY collection, _id""".stripMargin

  /** Both Iceberg v2 MoR delete shapes in one table lifecycle, gated
    * end to end: orders land via keyed upsert, an EQUALITY delete
    * retires a key set, then a POSITION delete
    * ([[IceliteTable.deleteWhere]]) erases a predicate's rows as
    * (file_path, pos) coordinates — no data file rewritten by either.
    * The MoR read merges data minus both delete shapes; DuckDB
    * recomputes the same final state relationally.
    */
  def tablePosDelete(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("posdel-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_pd", base.schema)
    table.upsert(base, Seq("o_orderkey"))
    table.delete(base.filter(pmod(col("o_orderkey"), lit(9)) === 0)
      .select("o_orderkey"), Seq("o_orderkey"))
    table.deleteWhere(col("o_orderpriority") === "1-URGENT" &&
      col("o_totalprice") > 150000.0)
    table.read().orderBy("o_orderkey")
  }

  /** DELETION VECTORS ([[IceliteTable.consolidateDeleteVectors]] —
    * Iceberg v3's minor delete compaction) gated end to end: two
    * coordinate position-delete waves land, consolidate into per-file
    * bitmaps (one maintenance commit; reads switch from the
    * (file, pos) anti-join to a broadcast bitmap + codegen'd
    * scan-local membership test), then a THIRD delete wave commits
    * coordinates ON TOP of the DV generation — the steady state of a
    * churn-heavy table (DVs fold the backlog, fresh deletes stay
    * coordinates until the next consolidation). The aggregate must
    * equal the plain relational recompute of all three waves;
    * `IceliteDvSpec` additionally pins read equivalence against the
    * coordinate path and the plan shape (no pos anti-join after
    * consolidation).
    */
  def tableDv(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("dv-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(17)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_dv", base.schema)
    table.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 1))
    table.append(base.filter(pmod(col("o_orderkey"), lit(2)) === 0))
    table.deleteWhere(pmod(col("o_orderkey"), lit(5)) === 0)
    table.deleteWhere(col("cents").between(5000000L, 15000000L))
    table.consolidateDeleteVectors()
    table.deleteWhere(pmod(col("o_orderkey"), lit(11)) === 0)
    table.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  private val tableDvOracle =
    """WITH state AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  WHERE o_orderkey % 17 = 0
      |    AND o_orderkey % 5 <> 0
      |    AND NOT (CAST(floor(o_totalprice * 100) AS BIGINT) BETWEEN 5000000 AND 15000000)
      |    AND o_orderkey % 11 <> 0)
      |SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM state GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** NESTED schema evolution gated end to end: a struct column's field
    * is RENAMED and a new field ADDED between two append epochs —
    * both metadata-only commits ([[IceliteTable.renameNestedField]],
    * [[IceliteTable.addNestedField]]; zero data IO) — and the read
    * serves epoch-1 files under the NEW shape (old bytes under the
    * renamed field, NULL for the born-later field) next to epoch-2
    * files that physically carry it. The oracle recomputes the same
    * frame with a parity CASE. At 100 TB this is the no-rewrite
    * struct evolution a long-lived synced table needs (the reference
    * evolves document schemas continuously, `docs/design.md` schema
    * inference).
    */
  def tableNestedEvolution(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("nested-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) === 0)
    val epoch1 = base.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("st"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")).as("meta"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_nested", epoch1.schema)
    table.append(epoch1)
    table.renameNestedField("meta", "st", "status")
    table.addNestedField("meta",
      org.apache.spark.sql.types.StructField("disc", org.apache.spark.sql.types.LongType))
    val epoch2 = base.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          pmod(col("o_orderkey"), lit(97)).as("disc")).as("meta"))
    table.append(epoch2)
    table.read()
      .select(col("o_orderkey"), col("meta.status").as("status"),
        col("meta.cents").as("cents"), col("meta.disc").as("disc"))
      .orderBy("o_orderkey")
  }

  private val tableNestedEvolutionOracle =
    """SELECT o_orderkey, o_orderstatus AS status,
      |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |  CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 97 END AS disc
      |FROM orders WHERE o_orderkey % 13 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** FULL delete consolidation ([[IceliteTable.consolidateDeletesFull]])
    * gated end to end on a churn-heavy table: upsert re-images and key
    * deletes (equality-delete files) plus a coordinate position delete
    * all fold into per-file DV bitmaps in ONE maintenance commit, a
    * hot-tail equality delete lands AFTER the fold and still applies,
    * and the aggregate over the converged state matches DuckDB's
    * relational recomputation. Post-fold (pre-tail) reads carry ZERO
    * delete joins — only the broadcast bitmap membership test
    * (`IceliteDvSpec` pins the plan); at 100 TB that removes the
    * delete-merge join from every read of a CDC-churned table.
    */
  def tableDvFull(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("dvfull-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(19)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_dvf", base.schema)
    table.upsert(base, Seq("o_orderkey")) // s1: full insert
    table.upsert( // s2: churn — re-image a third of the keys
      base.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .withColumn("cents", col("cents") + 5L),
      Seq("o_orderkey"))
    table.delete( // s3: equality delete
      base.filter(pmod(col("o_orderkey"), lit(7)) === 0).select("o_orderkey"),
      Seq("o_orderkey"))
    table.deleteWhere(pmod(col("o_orderkey"), lit(5)) === 0) // s4: position delete
    table.consolidateDeletesFull() // s5: eq + pos + churn masks → bitmaps
    table.delete( // s6: hot tail after the fold
      base.filter(pmod(col("o_orderkey"), lit(11)) === 0).select("o_orderkey"),
      Seq("o_orderkey"))
    table.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  private val tableDvFullOracle =
    """WITH state AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(floor(o_totalprice * 100) AS BIGINT)
      |      + CASE WHEN o_orderkey % 3 = 0 THEN 5 ELSE 0 END AS cents
      |  FROM orders
      |  WHERE o_orderkey % 19 = 0
      |    AND o_orderkey % 7 <> 0
      |    AND o_orderkey % 5 <> 0
      |    AND o_orderkey % 11 <> 0)
      |SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM state GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Keyless row-level UPDATE ([[IceliteTable.updateWhere]]) gated end
    * to end: one commit position-deletes the matching old images and
    * appends the mutated ones (all set-expressions against the
    * PRE-update row); DuckDB recomputes the same final state with a
    * CASE projection. Composes with a later equality delete to prove
    * the update's new rows carry the update commit's seq.
    */
  def tableUpdateWhere(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("updw-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(23)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_updw", base.schema)
    table.upsert(base, Seq("o_orderkey"))
    table.updateWhere(
      col("o_orderpriority") === "1-URGENT" && col("o_totalprice") < 100000.0,
      Map("o_totalprice" -> (col("o_totalprice") * 1.1),
        "o_orderstatus" -> lit("U")))
    table.delete(base.filter(pmod(col("o_orderkey"), lit(5)) === 0)
      .select("o_orderkey"), Seq("o_orderkey"))
    table.read().orderBy("o_orderkey")
  }

  private val tableUpdateWhereOracle =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderpriority = '1-URGENT' AND o_totalprice < 100000.0
      |       THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
      |  o_orderpriority,
      |  CASE WHEN o_orderpriority = '1-URGENT' AND o_totalprice < 100000.0
      |       THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderkey % 23 = 0 AND o_orderkey % 5 <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** The incremental-consumer feed ([[IceliteTable.readAppendedSince]] /
    * [[IceliteTable.readDeleteKeysSince]]): a downstream job that
    * resynced at a checkpoint seq pulls exactly the rows appended and
    * the keys deleted after it, each tagged with its commit seq — the
    * raw pull protocol under the changelog (no pre/post-image
    * reconstruction, so it reads only the NEW files, never history).
    * DuckDB recomputes both halves from the same commit arithmetic.
    */
  def tableIncrementalFeed(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("feed-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(17)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_feed", src.schema)
    table.upsert(src, Seq("_id")) // s1: the consumer's resync point
    val mark = table.meta.lastSeq
    table.upsert(src.filter(pmod(col("o_orderkey"), lit(4)) === 0) // s2
      .withColumn("o_totalprice", col("o_totalprice") + 1.0), Seq("_id"))
    table.delete(src.filter(pmod(col("o_orderkey"), lit(6)) === 0) // s3
      .select("_id"), Seq("_id"))
    val ups = table.readAppendedSince(mark)
      .select(lit("upsert").as("_kind"), col(IceliteTable.SeqCol).as("_seq"),
        col("_id"), col("o_totalprice"))
    val dels = table.readDeleteKeysSince(mark)
      .select(lit("delete").as("_kind"), col(IceliteTable.SeqCol).as("_seq"),
        col("_id"), lit(null).cast("double").as("o_totalprice"))
    ups.unionByName(dels).orderBy("_seq", "_kind", "_id")
  }

  private val tableIncrementalFeedOracle =
    """WITH sub AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS id,
      |         o_orderkey AS k, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 17 = 0)
      |SELECT * FROM (
      |  SELECT 'upsert' AS _kind, CAST(2 AS BIGINT) AS _seq,
      |         id AS _id, price + 1.0 AS o_totalprice FROM sub WHERE k % 4 = 0
      |  UNION ALL
      |  SELECT 'delete', CAST(2 AS BIGINT), id, CAST(NULL AS DOUBLE)
      |  FROM sub WHERE k % 4 = 0
      |  UNION ALL
      |  SELECT 'delete', CAST(3 AS BIGINT), id, CAST(NULL AS DOUBLE)
      |  FROM sub WHERE k % 6 = 0
      |) ORDER BY _seq, _kind, _id""".stripMargin

  /** Incremental view maintenance from the changelog — the natural
    * consumer of CDF: a materialized per-group aggregate (count +
    * exact-decimal sum) is brought from snapshot S to head by folding
    * ONLY the change events in (S, head] as signed deltas
    * (+row for insert/update_postimage, −row for delete/
    * update_preimage), never rescanning the base table. Decimal
    * accumulation makes delta-apply ≡ full recompute EXACTLY (double
    * sums would drift by summation order), and that equivalence is
    * precisely what the oracle gates: DuckDB recomputes the final
    * state from scratch. At 100 TB this is the difference between
    * touching ΔN changed rows and re-aggregating the corpus per
    * refresh.
    */
  def tableViewMaintain(spark: SparkSession, dir: String): DataFrame = {
    val Dec = "decimal(27,4)"
    val wh = graft.util.Scratch.dir("ivm-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(11)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), pmod(col("o_orderkey"), lit(5)).as("grp"),
        col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_ivm", src.schema)
    table.upsert(src, Seq("_id")) // s1: the view's refresh point
    val mark = table.meta.lastSeq
    // the materialized view as of the mark (time travel pins it)
    val v1 = table.readAt(mark).groupBy(col("grp"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice").cast(Dec)).as("sumdec"))
    table.upsert(src.filter(pmod(col("o_orderkey"), lit(3)) === 0) // s2: updates
      .withColumn("o_totalprice", col("o_totalprice") + 10.0), Seq("_id"))
    val inserts = t(spark, dir, "orders") // s3: fresh keys, disjoint from base
      .filter(pmod(col("o_orderkey"), lit(7)) === 0 && pmod(col("o_orderkey"), lit(11)) =!= 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), pmod(col("o_orderkey"), lit(5)).as("grp"),
        col("o_totalprice"))
    table.upsert(inserts, Seq("_id"))
    table.delete(src.filter(pmod(col("o_orderkey"), lit(4)) === 0) // s4: deletes
      .select("_id"), Seq("_id"))
    // fold (mark, head] as signed per-group deltas — the only scan is
    // the changelog itself (readChanges' fromSeq is the exclusive
    // anchor snapshot, i.e. the view's refresh point)
    val sgn = when(col(IceliteTable.ChangeTypeCol).isin("insert", "update_postimage"), lit(1))
      .otherwise(lit(-1))
    val deltas = table.readChanges(mark, table.meta.lastSeq)
      .select(col("grp"), sgn.as("sgn"), col("o_totalprice"))
      .groupBy(col("grp"))
      .agg(sum(col("sgn")).cast("long").as("dcnt"),
        sum((col("sgn") * col("o_totalprice")).cast(Dec)).as("dsumdec"))
    v1.join(deltas, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L))).as("n_orders"),
        (coalesce(col("sumdec"), lit(0).cast(Dec)) +
          coalesce(col("dsumdec"), lit(0).cast(Dec))).cast("double").as("total_price"))
      .filter(col("n_orders") > 0)
      .orderBy("grp")
  }

  private val tableViewMaintainOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_orderkey % 5 AS grp, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |final AS (
      |  SELECT grp, CASE WHEN k % 3 = 0 THEN price + 10.0 ELSE price END AS price
      |  FROM base WHERE NOT (k % 4 = 0)
      |  UNION ALL
      |  SELECT o_orderkey % 5 AS grp, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0)
      |SELECT grp, count(*) AS n_orders,
      |  CAST(sum(CAST(price AS DECIMAL(27,4))) AS DOUBLE) AS total_price
      |FROM final GROUP BY grp ORDER BY grp""".stripMargin

  /** Changelog UPDATE pairing across physical-delete commits: a keyed
    * updateWhere lands as pos-delete + rewritten append in ONE commit,
    * and [[IceliteTable.readChanges]] resolves the coordinates and
    * pairs them with the same-seq data events into
    * update_preimage/update_postimage — while a later plain upsert
    * pairs through its equality delete the classic way. Gates the
    * round-10 pos-delete changelog path end to end against DuckDB
    * recomputing both commits' pre/post states.
    */
  def tableUpdateChangelog(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("updcdc-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_updcdc", src.schema)
    table.upsert(src, Seq("_id")) // s1
    table.updateWhere( // s2: physical update (pos-delete + append, one commit)
      pmod(col("o_orderkey"), lit(2)) === 0,
      Map("o_totalprice" -> (col("o_totalprice") * 2.0)))
    table.upsert(src // s3: keyed upsert over some already-updated keys
      .filter(pmod(col("o_orderkey"), lit(9)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5.0), Seq("_id"))
    table.readChanges(1, 3)
      .select(col(IceliteTable.ChangeTypeCol).as("_change_type"),
        col(IceliteTable.CommitSeqCol).as("_commit_seq"),
        col("_id"), col("o_totalprice"))
      .orderBy("_commit_seq", "_change_type", "_id")
  }

  private val tableUpdateChangelogOracle =
    """WITH sub AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS id,
      |         o_orderkey AS k, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 13 = 0)
      |SELECT * FROM (
      |  SELECT 'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_seq,
      |         id AS _id, price AS o_totalprice FROM sub WHERE k % 2 = 0
      |  UNION ALL
      |  SELECT 'update_postimage', CAST(2 AS BIGINT), id, price * 2.0
      |  FROM sub WHERE k % 2 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', CAST(3 AS BIGINT), id,
      |         CASE WHEN k % 2 = 0 THEN price * 2.0 ELSE price END
      |  FROM sub WHERE k % 9 = 0
      |  UNION ALL
      |  SELECT 'update_postimage', CAST(3 AS BIGINT), id, price + 5.0
      |  FROM sub WHERE k % 9 = 0
      |) ORDER BY _commit_seq, _change_type, _id""".stripMargin

  private val tablePosDeleteOracle =
    """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      |FROM orders
      |WHERE o_orderkey % 3 = 0
      |  AND o_orderkey % 9 <> 0
      |  AND NOT (o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0)
      |ORDER BY o_orderkey""".stripMargin

  /** Z-order BOX scan as an oracle-gated query: orders land in an
    * icelite table, a z-order compaction clusters files on
    * (o_orderkey, o_custkey), then a conjunctive 2-D box read prunes
    * on BOTH dimensions' footer stats before the exact row filter
    * ([[IceliteTable.planFiles]]) — the layout property that
    * distinguishes z-order from a plain sort (a box skips files on
    * every dimension at once), verified against DuckDB computing the
    * same box directly. The companion spec asserts the box keeps
    * strictly fewer files than either single-dimension range; this
    * query gates the row-level correctness.
    */
  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("zscan-query")
    val src = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_z", src.schema)
    table.append(src)
    table.compact(targetFileMB = 256, zorderBy = Seq("o_orderkey", "o_custkey"),
      numFilesOverride = Some(16))
    table.scan(Seq(
      GreaterThanOrEqual("o_orderkey", 0L), LessThanOrEqual("o_orderkey", 40000L),
      GreaterThanOrEqual("o_custkey", 100L), LessThanOrEqual("o_custkey", 200L)))
      .orderBy("o_orderkey")
  }

  private val zorderScanOracle =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey BETWEEN 0 AND 40000 AND o_custkey BETWEEN 100 AND 200
      |ORDER BY o_orderkey""".stripMargin

  /** Mid-stream schema evolution as an oracle-gated query (reference
    * docs/design.md schema evolution: auto mode adds columns): a
    * synced orders subset receives a change batch whose post-images
    * carry a NEW field — the steady-state handler infers it, widens
    * the table metadata-only ([[IceliteTable.addColumns]] via
    * `maybeEvolve`), and applies the batch in one commit. The MoR
    * read then shows updated rows with the new column populated and
    * untouched rows with nulls backfilled; DuckDB recomputes the same
    * final state relationally. This was the last designed sync
    * behavior without a driver gate (previously spec-only).
    */
  def syncEvolution(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("evo-query")
    val cfg = CollectionSyncConfig(
      SourceConfig("orders"), TargetConfig("analytics", "orders_evo"))
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_evo", src.schema)
    table.append(src)
    // change batch: every even subset key gets a price bump AND a new
    // `tier` field the table has never seen
    val updates = src.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey").as("seq"), lit("update").as("op"), col("_id"),
        to_json(struct(col("_id"), col("o_orderkey"),
          (col("o_totalprice") + 5.5).as("o_totalprice"),
          concat(lit("T"), pmod(col("o_orderkey"), lit(3)).cast("string")).as("tier")))
          .as("fullDocument"),
        lit(null).cast("timestamp").as("clusterTime"))
      .select(ChangeStreamSync.EventSchema.fieldNames.map(col).toSeq: _*)
    new ChangeStreamSync(spark, cfg, table, new CheckpointStore(spark, wh), "shop")
      .processBatch(updates, batchId = 0)
    table.read()
      .select(col("_id"), col("o_orderkey"), col("o_totalprice"), col("tier"))
      .orderBy("_id")
  }

  private val syncEvolutionOracle =
    """WITH sub AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS _id,
      |         o_orderkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 13 = 0)
      |SELECT _id, o_orderkey,
      |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 5.5 ELSE o_totalprice END
      |    AS o_totalprice,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'T' || CAST(o_orderkey % 3 AS VARCHAR) END
      |    AS tier
      |FROM sub ORDER BY _id""".stripMargin

  /** SCD Type 2 dimension maintenance ([[graft.table.Scd2]]): three
    * sequential update batches over the customer dimension — initial
    * load, a batch mixing NEW keys with attribute changes, and a batch
    * mixing churn updates with NO-OP resends — applied through the
    * close-and-open upsert path, then the full version history. The
    * oracle recomputes the history relationally (consecutive-change
    * dedup + lead validity intervals), so the gate proves the
    * sequential MERGE-driven maintenance equals the declarative
    * definition. Balance cents via floor(x*100): DuckDB's double→int
    * CAST rounds where Spark's truncates, floor is IEEE-identical.
    */
  def tableScd2(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Shared(spark, dir)
    dim.history()
      .select(col("c_custkey"), col("c_mktsegment"), col("acctbal_cents"),
        col("eff_from"), col("eff_to"))
      .orderBy("c_custkey", "eff_from")
  }

  /** Point-in-time dimension read over the same SCD2 history
    * ([[graft.table.Scd2.asOf]]): the customer dimension as it stood
    * at seq 250 — after the new-keys/changes batch, before churn. One
    * validity-interval predicate over the history table; the oracle
    * filters its recomputed intervals the same way.
    */
  def tableScd2AsOf(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Shared(spark, dir)
    dim.asOf(250L)
      .select(col("c_custkey"), col("c_mktsegment"), col("acctbal_cents"),
        col("eff_from"))
      .orderBy("c_custkey")
  }

  /** Point-in-time FACT join against the SCD2 history — the
    * consumption pattern the dimension exists for: each order joins
    * the customer VERSION valid at its own effective sequence (orders
    * mapped onto the batch timeline by date terciles), never the
    * current row. Spark shape: one equi-join on the customer key plus
    * the validity-interval filter — per-key fan-out is the version
    * count (≤ 3 here, small always), so the join stays a plain hash
    * join, no interval machinery needed; facts before their customer's
    * first version group under a null segment (the honest answer, not
    * a silent drop).
    */
  def tableScd2FactJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Shared(spark, dir)
    val o = t(spark, dir, "orders").filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("d"))
    val b = o.agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
    val facts = o.crossJoin(broadcast(b))
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("d") < col("mn") + (col("mx") - col("mn")) / 3, 100L)
          .when(col("d") < col("mn") + (col("mx") - col("mn")) * 2 / 3, 200L)
          .otherwise(300L).as("fact_seq"))
    facts.join(dim.history().as("h"),
        col("o_custkey") === col("h.c_custkey") &&
          col("h.eff_from") <= col("fact_seq") &&
          (col("h.eff_to").isNull || col("h.eff_to") > col("fact_seq")),
        "left")
      .groupBy(col("fact_seq"), col("h.c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n_orders"), sum(col("h.acctbal_cents")).as("sum_cents"))
      .orderBy("fact_seq", "seg")
  }

  private def tableScd2FactJoinOracle =
    s"""WITH $scd2BatchesCte,
      |o AS (
      |  SELECT o_orderkey, o_custkey, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS d
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |bo AS (SELECT min(d) AS mn, max(d) AS mx FROM o),
      |facts AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN d < mn + (mx - mn) / 3 THEN 100
      |         WHEN d < mn + (mx - mn) * 2 / 3 THEN 200
      |         ELSE 300 END AS fact_seq
      |  FROM o, bo)
      |SELECT CAST(fact_seq AS BIGINT) AS fact_seq, h.c_mktsegment AS seg,
      |  count(*) AS n_orders, CAST(sum(h.acctbal_cents) AS BIGINT) AS sum_cents
      |FROM facts LEFT JOIN hist h
      |  ON facts.o_custkey = h.c_custkey AND h.eff_from <= fact_seq
      |    AND (h.eff_to IS NULL OR h.eff_to > fact_seq)
      |GROUP BY 1, 2
      |ORDER BY fact_seq, seg""".stripMargin

  /** Shared SCD2 fixture: b1 = initial load (keys % 3 != 0) at seq
    * 100; b2 = all % 3 == 0 keys (NEW) plus % 5 == 0 keys with balance
    * +1000.00 at seq 200; b3 = % 7 == 0 churn (segment CHURNED,
    * +5000.00 more) plus % 11 == 0 no-op resends of current values at
    * seq 300.
    */
  /** The SCD2 dimension fixture built ONCE per (session, dataset) and
    * shared READ-ONLY by all three scd2 queries — the fixture is
    * deterministic and none of the consumers mutate it (history /
    * asOf / fact join are reads), so per-query rebuilds were three
    * identical multi-commit builds of the same table (the dominant
    * fixed cost of the scd2 bench family).
    */
  private val scd2Memo = new graft.util.IndexMemo[graft.table.Scd2](4)(_ => ())

  private def scd2Shared(spark: SparkSession, dir: String): graft.table.Scd2 =
    scd2Memo.getOrElseUpdate(spark, dir) {
      scd2Fixture(spark, dir, graft.util.Scratch.dir("scd2-shared"))
    }

  private def scd2Fixture(spark: SparkSession, dir: String, wh: String): graft.table.Scd2 = {
    val k = col("c_custkey")
    val base = t(spark, dir, "customer")
      .select(k, col("c_mktsegment"), floor(col("c_acctbal") * 100).as("acctbal_cents"))
    val b1 = base.filter(k % 3 =!= 0)
    val b2 = base.filter(k % 3 === 0 || k % 5 === 0)
      .withColumn("acctbal_cents",
        col("acctbal_cents") + when(k % 5 === 0, 100000L).otherwise(0L))
    val b3 = base.filter(k % 7 === 0 || k % 11 === 0)
      .withColumn("c_mktsegment",
        when(k % 7 === 0, lit("CHURNED")).otherwise(col("c_mktsegment")))
      .withColumn("acctbal_cents",
        col("acctbal_cents") + when(k % 5 === 0, 100000L).otherwise(0L)
          + when(k % 7 === 0, 500000L).otherwise(0L))
    val dim = graft.table.Scd2.create(spark, wh, "analytics", "customer_scd2", b1,
      Seq("c_custkey"), Seq("c_mktsegment", "acctbal_cents"))
    dim.apply(b1, 100L)
    dim.apply(b2, 200L)
    dim.apply(b3, 300L)
    dim
  }

  /** TRANSPARENT materialized-view rewrite ([[graft.plans.MvRewrite]])
    * — [[rollupServing]] without the hand-routing: a (returnflag,
    * linestatus) rollup of integer-cents partials is registered as an
    * MV, then the gated query is written against the FACT frame —
    * groups by returnflag only, asks for sum/count/max — and the
    * injected optimizer rule rewrites it to aggregate the rollup's
    * partials instead (sum of sums, sum of counts, max of maxes). The
    * oracle computes from RAW lineitem in DuckDB, so a hash match
    * certifies the rewrite preserved semantics exactly; `MvRewriteSpec`
    * pins that the fact scan is really absent and that filtered /
    * distinct / non-derivable aggregates DECLINE the rewrite. Integer
    * cents keep re-aggregated sums bit-equal to direct sums (double
    * partial sums would differ in summation order).
    */
  def tableMvRewrite(spark: SparkSession, dir: String): DataFrame = {
    val fact = mvRewriteFact(spark, dir)
    val mvDir = graft.util.Scratch.dir("mv-rewrite-query")
    val partials = Seq(
      sum(col("qty_cents")).as("sum_qty_cents"),
      sum(col("price_cents")).as("sum_price_cents"),
      count(lit(1)).as("n_rows"),
      max(col("price_cents")).as("max_price_cents"))
    fact.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(partials.head, partials.tail: _*)
      .write.mode("overwrite").parquet(s"$mvDir/mv")
    val mv = spark.read.parquet(s"$mvDir/mv")
    graft.plans.MvRewrite.register(spark, "lineitem_cents_mv", fact,
      Seq("l_returnflag", "l_linestatus"), partials, mv)
    // the USER query: written against the fact frame, rewritten by rule
    fact.groupBy(col("l_returnflag"))
      .agg(sum(col("qty_cents")).as("sum_qty_cents"),
        count(lit(1)).as("n_rows"),
        max(col("price_cents")).as("max_price_cents"))
      .orderBy("l_returnflag")
  }

  /** Declared SORT ORDER applied by maintenance
    * ([[IceliteTable.declareSortOrder]]): four hash-scattered appends
    * land — every file spans the full cents range, so a range read
    * prunes NOTHING — then one compaction under the declared order
    * rewrites into files owning DISJOINT cents ranges, and the gated
    * range read serves from the few intersecting files (pruned-by-
    * metadata keep-set pinned in `IceliteSortOrderSpec`; the oracle
    * recomputes the range relationally, certifying pruning never
    * changes answers). At 100 TB this is the difference between a
    * range query touching every file and touching its band.
    */
  def tableSortOrder(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("sort-order-query")
    val o = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(11)) === 0)
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100).as("cents"),
        col("o_orderpriority"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_sorted", o.schema)
    table.trackStats(Seq("cents"))
    table.declareSortOrder(Seq("cents"))
    (0 until 4).foreach(i =>
      table.append(o.filter(pmod(col("o_orderkey"), lit(4)) === i)))
    table.compact(targetFileMB = 256, Nil, numFilesOverride = Some(4))
    table.scan(Seq(GreaterThanOrEqual("cents", 1000000L), LessThanOrEqual("cents", 2000000L)))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderpriority")
  }

  private val tableSortOrderOracle =
    """SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders
      |WHERE o_orderkey % 11 = 0
      |  AND CAST(floor(o_totalprice * 100) AS BIGINT) BETWEEN 1000000 AND 2000000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Write-time CHECK constraints ([[IceliteTable.declareConstraint]])
    * as a gated pipeline: constraints declared after the seed batch
    * (declare-time validation scans once), then an upsert wave and a
    * column-level MERGE both flow through the fused fail-fast
    * enforcement — the gate proves enforcement is TRANSPARENT for
    * valid data (bit-identical to the unconstrained relational
    * recompute), while `IceliteConstraintSpec` proves violating
    * writes throw and leave nothing behind. Enforcement rides the
    * write scan (an assert inside the projection), so a 100 TB ingest
    * pays zero extra passes for its data contract.
    */
  def tableConstraints(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("constraints-query")
    val o = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(19)) === 0)
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100).as("cents"),
        col("o_orderstatus"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_checked", o.schema)
    table.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1))
    table.declareConstraint("cents_pos", "cents > 0")
    table.declareConstraint("status_domain", "o_orderstatus IN ('F', 'O', 'P')")
    table.upsert(o.filter(pmod(col("o_orderkey"), lit(2)) === 0), Seq("o_orderkey"))
    table.merge(
      o.filter(pmod(col("o_orderkey"), lit(6)) === 0).select(col("o_orderkey")),
      Seq("o_orderkey"),
      matchedUpdateSet = Map("cents" -> (col("t.cents") + 1L)),
      notMatchedInsert = None)
    table.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  private val tableConstraintsOracle =
    """SELECT o_orderstatus,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)
      |      + CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sum_cents
      |FROM orders WHERE o_orderkey % 19 = 0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Initial-default column add ([[IceliteTable.addColumnWithDefault]],
    * the Iceberg v3 `initial-default`): half the orders subset lands,
    * then a LONG and a STRING column are added with defaults — one
    * metadata commit each, zero data I/O — and the second half lands
    * WITH real values for both. The read must serve the defaults for
    * every pre-add row and the stored values for every post-add row;
    * the oracle recomputes the same split relationally. At 100 TB
    * this is a schema migration with backfill semantics for the price
    * of a metadata swap.
    */
  def tableAddDefault(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("add-default-query")
    val o = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100).as("cents"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_defaults",
      o.schema)
    table.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 1))
    table.addColumnWithDefault("region_code", org.apache.spark.sql.types.LongType, 7L)
    table.addColumnWithDefault("tier", org.apache.spark.sql.types.StringType, "std")
    table.append(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("region_code", pmod(col("o_orderkey"), lit(3)))
      .withColumn("tier", when(col("cents") > 1000000L, "big").otherwise("small")))
    table.read().orderBy("o_orderkey")
  }

  private val tableAddDefaultOracle =
    """SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |  CASE WHEN o_orderkey % 2 = 1 THEN 7 ELSE o_orderkey % 3 END AS region_code,
      |  CASE WHEN o_orderkey % 2 = 1 THEN 'std'
      |       WHEN floor(o_totalprice * 100) > 1000000 THEN 'big'
      |       ELSE 'small' END AS tier
      |FROM orders WHERE o_orderkey % 13 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** INCREMENTALLY MAINTAINED transparent MV — [[tableMvRewrite]] and
    * [[rollupIncremental]] composed end to end: the rollup table is
    * built from 80% of the fact stream, the remaining delta folds in
    * as partial aggregates through one keyed MERGE (sums/counts add,
    * max via greatest), and THEN the folded table is registered as an
    * MV — so the gated user query (written against the full fact
    * frame, rewritten by the optimizer rule) is answered from state
    * that was never computed in one shot. The oracle reads RAW orders,
    * so a hash match certifies BOTH the fold ≡ full-build and the
    * rewrite ≡ direct-query equivalences in one gate. This is the
    * deployment shape: facts land continuously, the rollup refreshes
    * at delta cost, dashboards keep querying the fact table and keep
    * being served from the rollup.
    */
  def tableMvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("mv-incr-query")
    val rich = t(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    def partials(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n_rows"),
        max(col("cents")).as("max_cents"))
    val fine = partials(rich.filter(pmod(col("o_orderkey"), lit(5)) =!= 0))
    val mvT = IceliteTable.create(spark, wh, "analytics", "orders_mv_incr", fine.schema)
    mvT.append(fine)
    mvT.merge(partials(rich.filter(pmod(col("o_orderkey"), lit(5)) === 0)),
      Seq("o_orderpriority", "o_orderstatus"),
      matchedUpdateSet = Map(
        "sum_cents" -> (col("t.sum_cents") + col("s.sum_cents")),
        "n_rows" -> (col("t.n_rows") + col("s.n_rows")),
        "max_cents" -> greatest(col("t.max_cents"), col("s.max_cents"))))
    val fact = t(spark, dir, "orders").select(
      col("o_orderpriority"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    graft.plans.MvRewrite.register(spark, "orders_mv_incr", fact,
      Seq("o_orderpriority", "o_orderstatus"),
      Seq(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n_rows"),
        max(col("cents")).as("max_cents")),
      mvT.read())
    fact.groupBy(col("o_orderpriority"))
      .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n_rows"),
        max(col("cents")).as("max_cents"))
      .orderBy("o_orderpriority")
  }

  private val tableMvIncrementalOracle =
    """SELECT o_orderpriority,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  count(*) AS n_rows,
      |  max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS max_cents
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** The MV demo's fact frame (shared with `MvRewriteSpec`). */
  private[graft] def mvRewriteFact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(
      col("l_returnflag"), col("l_linestatus"),
      floor(col("l_quantity") * 100).cast("long").as("qty_cents"),
      floor(col("l_extendedprice") * 100).cast("long").as("price_cents"))

  private val tableMvRewriteOracle =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
      |  count(*) AS n_rows,
      |  max(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS max_price_cents
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Materialized-rollup SERVING (the aggregate-navigator pattern OLAP
    * engines live on): a day × returnflag rollup of lineitem — sums in
    * exact DECIMAL so partials re-aggregate bit-identically, counts
    * alongside so averages stay derivable — persisted ONCE as an
    * icelite table; the monthly report then re-aggregates the rollup
    * (sum of sums, sum of counts, avg DERIVED from them — never an avg
    * of avgs) and the base table is absent from the serving plan
    * (pinned in `PlanShapeSpec`). The oracle computes the SAME report
    * straight off lineitem, so the gate certifies the rewrite: serving
    * from the materialization ≡ the direct query. At 100 TB the
    * rollup is ~10⁴× smaller than the fact table and every dashboard
    * refresh pays rollup-scan cost, not fact-scan cost.
    */
  def rollupServing(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("rollup-query")
    val fine = t(spark, dir, "lineitem")
      .groupBy(
        (year(col("l_shipdate")).cast("long") * 10000 +
          month(col("l_shipdate")) * 100 + dayofmonth(col("l_shipdate"))).as("day_key"),
        col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("decimal(27,2)")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(27,2)")).as("sum_price"),
        count(lit(1)).as("n_rows"))
    val table = IceliteTable.create(spark, wh, "analytics", "lineitem_rollup", fine.schema)
    table.append(fine)
    table.read()
      .groupBy(expr("day_key div 100").as("month_key"), col("l_returnflag"))
      .agg(
        sum(col("sum_qty")).cast("double").as("sum_qty"),
        sum(col("sum_price")).cast("double").as("sum_price"),
        sum(col("n_rows")).as("n_rows"),
        (sum(col("sum_price")).cast("double") / sum(col("n_rows"))).as("avg_price"))
      .orderBy("month_key", "l_returnflag")
  }

  private val rollupServingOracle =
    """SELECT CAST(year(l_shipdate) AS BIGINT) * 100 + month(l_shipdate) AS month_key,
      |  l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_price,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) / count(*)
      |    AS avg_price
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY month_key, l_returnflag""".stripMargin

  /** Dynamic partition overwrite ([[IceliteTable.overwritePartitions]])
    * as an oracle-gated query: an identity-partitioned orders table
    * seeded with one PURE single-partition file and two MIXED
    * all-partition files, then two partitions re-loaded with a
    * recomputed batch (subset of keys, +1 cent marker). The pure file
    * drops from metadata alone, the mixed files rewrite only their
    * surviving rows, untouched partitions keep their bytes — and the
    * oracle recomputes the expected final content relationally.
    */
  def tableOverwritePartitions(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("overwrite-query")
    val o = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100).as("price_cents"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_dyn", o.schema,
      partitioning = Seq(PartitionConfig("o_orderpriority")))
    val k = col("o_orderkey")
    // mixed file (all priorities in one file), pure file (one priority),
    // then the rest — exercises both metadata classifications
    table.append(o.filter(pmod(k, lit(2)) === 1))
    table.append(o.filter(pmod(k, lit(2)) === 0 && col("o_orderpriority") === "1-URGENT"))
    table.append(o.filter(pmod(k, lit(2)) === 0 && col("o_orderpriority") =!= "1-URGENT"))
    val reload = o
      .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM") && pmod(k, lit(3)) === 0)
      .withColumn("price_cents", col("price_cents") + 1)
    table.overwritePartitions(reload)
    table.read()
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum(col("price_cents")).as("sum_cents"))
      .orderBy("o_orderpriority")
  }

  private val tableOverwritePartitionsOracle =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |fin AS (
      |  SELECT o_orderpriority, cents FROM o
      |  WHERE o_orderpriority NOT IN ('1-URGENT', '3-MEDIUM')
      |  UNION ALL
      |  SELECT o_orderpriority, cents + 1 FROM o
      |  WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM') AND o_orderkey % 3 = 0)
      |SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM fin GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** Zero-copy clone ([[IceliteTable.cloneTo]]) as an oracle-gated
    * query: clone an upserted orders table by METADATA REFERENCE (no
    * data copied — `CloneSpec` proves the clone's data dir starts
    * empty), then DIVERGE both sides with different upserts and read
    * both. The oracle recomputes each side's expected end state, so
    * the gate certifies isolation: neither side's writes leak into the
    * other through the shared files.
    */
  def tableClone(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("clone-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(11)) === 0)
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100).as("cents"))
    val src = IceliteTable.create(spark, wh, "analytics", "orders_src", base.schema)
    src.append(base)
    val clone = src.cloneTo(wh, "analytics", "orders_clone")
    src.upsert(base.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))
    clone.upsert(base.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .withColumn("cents", col("cents") + 2), Seq("o_orderkey"))
    val s = src.read().agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("side", lit("source"))
    val c = clone.read().agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("side", lit("clone"))
    s.unionByName(c).select(col("side"), col("n_rows"), col("sum_cents")).orderBy("side")
  }

  private val tableCloneOracle =
    """WITH b AS (
      |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |s AS (
      |  SELECT 'source' AS side, count(*) AS n_rows,
      |    CAST(sum(cents + CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS sum_cents
      |  FROM b),
      |c AS (
      |  SELECT 'clone' AS side, count(*) AS n_rows,
      |    CAST(sum(cents + CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 0 END) AS BIGINT)
      |      AS sum_cents
      |  FROM b)
      |SELECT side, n_rows, sum_cents FROM c
      |UNION ALL SELECT side, n_rows, sum_cents FROM s
      |ORDER BY side""".stripMargin

  /** Snapshot diff ([[IceliteTable.diffSnapshots]]) as an oracle-gated
    * query: seed orders, capture the seq, then update a subset, insert
    * new keys, and delete a slice; the diff between the two snapshots
    * must classify every key's NET change (the %35 keys are updated
    * AND deleted — they must surface as deletes only). The oracle
    * recomputes both states relationally and full-outer joins them.
    */
  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("diff-query")
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100).as("cents"))
    val k = col("o_orderkey")
    val base = o.filter(pmod(k, lit(17)) === 0)
    val table = IceliteTable.create(spark, wh, "analytics", "orders_diff", base.schema)
    table.upsert(base, Seq("o_orderkey"))
    val s1 = table.meta.lastSeq
    table.upsert(base.filter(pmod(k, lit(5)) === 0)
      .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))
    table.upsert(o.filter(pmod(k, lit(17)) =!= 0 && pmod(k, lit(19)) === 0),
      Seq("o_orderkey"))
    table.delete(o.filter(pmod(k, lit(7)) === 0).select("o_orderkey"), Seq("o_orderkey"))
    val s2 = table.meta.lastSeq
    table.diffSnapshots(s1, s2, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("change"),
        col("before.cents").as("cents_before"), col("after.cents").as("cents_after"))
      .orderBy("o_orderkey")
  }

  private val tableDiffOracle =
    """WITH o AS (
      |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |s1 AS (SELECT * FROM o WHERE o_orderkey % 17 = 0),
      |s2 AS (
      |  SELECT o_orderkey,
      |    cents + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS cents
      |  FROM o WHERE o_orderkey % 17 = 0 AND o_orderkey % 7 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, cents FROM o
      |  WHERE o_orderkey % 17 <> 0 AND o_orderkey % 19 = 0 AND o_orderkey % 7 <> 0)
      |SELECT coalesce(s1.o_orderkey, s2.o_orderkey) AS o_orderkey,
      |  CASE WHEN s1.o_orderkey IS NULL THEN 'insert'
      |       WHEN s2.o_orderkey IS NULL THEN 'delete'
      |       ELSE 'update' END AS change,
      |  s1.cents AS cents_before, s2.cents AS cents_after
      |FROM s1 FULL OUTER JOIN s2 ON s1.o_orderkey = s2.o_orderkey
      |WHERE s1.o_orderkey IS NULL OR s2.o_orderkey IS NULL OR s1.cents <> s2.cents
      |ORDER BY o_orderkey""".stripMargin

  /** INCREMENTAL rollup maintenance — [[rollupServing]]'s refresh
    * path: the day-level rollup builds from the first 80% of the fact
    * stream, then the remaining 20% folds in as a PARTIAL AGGREGATE
    * merged by key (`sum = t.sum + s.sum`, counts add; avg stays
    * derived) — the associativity of the DECIMAL partials is exactly
    * what makes the fold ≡ a full rebuild, and the gate proves it: the
    * oracle is the SAME direct fact-table query as `rollup_serving`.
    * At 100 TB a daily refresh costs one delta aggregation + one
    * key-range-pruned MERGE, never a fact re-scan.
    */
  def rollupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("rollup-incr-query")
    def partials(df: DataFrame): DataFrame = df
      .groupBy(
        (year(col("l_shipdate")).cast("long") * 10000 +
          month(col("l_shipdate")) * 100 + dayofmonth(col("l_shipdate"))).as("day_key"),
        col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("decimal(27,2)")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(27,2)")).as("sum_price"),
        count(lit(1)).as("n_rows"))
    val li = t(spark, dir, "lineitem")
    val fine = partials(li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0))
    val table = IceliteTable.create(spark, wh, "analytics", "lineitem_rollup_incr",
      fine.schema)
    table.append(fine)
    val delta = partials(li.filter(pmod(col("l_orderkey"), lit(5)) === 0))
    table.merge(delta, Seq("day_key", "l_returnflag"),
      matchedUpdateSet = Map(
        "sum_qty" -> (col("t.sum_qty") + col("s.sum_qty")),
        "sum_price" -> (col("t.sum_price") + col("s.sum_price")),
        "n_rows" -> (col("t.n_rows") + col("s.n_rows"))))
    table.read()
      .groupBy(expr("day_key div 100").as("month_key"), col("l_returnflag"))
      .agg(
        sum(col("sum_qty")).cast("double").as("sum_qty"),
        sum(col("sum_price")).cast("double").as("sum_price"),
        sum(col("n_rows")).as("n_rows"),
        (sum(col("sum_price")).cast("double") / sum(col("n_rows"))).as("avg_price"))
      .orderBy("month_key", "l_returnflag")
  }

  private val scd2BatchesCte =
    """b1 AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
      |    CAST(100 AS BIGINT) AS s
      |  FROM customer WHERE c_custkey % 3 <> 0),
      |b2 AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(floor(c_acctbal * 100) AS BIGINT)
      |      + CASE WHEN c_custkey % 5 = 0 THEN 100000 ELSE 0 END AS acctbal_cents,
      |    CAST(200 AS BIGINT) AS s
      |  FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0),
      |b3 AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'CHURNED' ELSE c_mktsegment END AS c_mktsegment,
      |    CAST(floor(c_acctbal * 100) AS BIGINT)
      |      + CASE WHEN c_custkey % 5 = 0 THEN 100000 ELSE 0 END
      |      + CASE WHEN c_custkey % 7 = 0 THEN 500000 ELSE 0 END AS acctbal_cents,
      |    CAST(300 AS BIGINT) AS s
      |  FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0),
      |allb AS (
      |  SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3),
      |v AS (
      |  SELECT *,
      |    lag(c_mktsegment) OVER w AS pm, lag(acctbal_cents) OVER w AS pa
      |  FROM allb WINDOW w AS (PARTITION BY c_custkey ORDER BY s)),
      |kept AS (
      |  SELECT c_custkey, c_mktsegment, acctbal_cents, s FROM v
      |  WHERE pm IS NULL OR pm <> c_mktsegment OR pa <> acctbal_cents),
      |hist AS (
      |  SELECT c_custkey, c_mktsegment, acctbal_cents, s AS eff_from,
      |    lead(s) OVER (PARTITION BY c_custkey ORDER BY s) AS eff_to
      |  FROM kept)""".stripMargin

  private val tableScd2Oracle =
    s"""WITH $scd2BatchesCte
      |SELECT c_custkey, c_mktsegment, acctbal_cents, eff_from, eff_to
      |FROM hist ORDER BY c_custkey, eff_from""".stripMargin

  private val tableScd2AsOfOracle =
    s"""WITH $scd2BatchesCte
      |SELECT c_custkey, c_mktsegment, acctbal_cents, eff_from
      |FROM hist
      |WHERE eff_from <= 250 AND (eff_to IS NULL OR eff_to > 250)
      |ORDER BY c_custkey""".stripMargin

  /** Copy-on-write UPDATE ([[IceliteTable.updateWhereCoW]]) gated end
    * to end: three key-banded appends give the table footer stats, an
    * upsert wave plants live equality deletes, then the CoW update
    * rewrites ONLY the files its stat range touches (band 1/3 files
    * keep their bytes; the middle band and the range-spanning upsert
    * file rewrite with masked rows folded) and commits zero delete
    * files. The band bounds are layout-only — the final content is
    * band-independent — but the oracle still reproduces them so the
    * update predicate (middle band, even keys) matches bit-for-bit.
    */
  def tableCowUpdate(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("cow-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_cow", base.schema)
    table.trackStats(Seq("o_orderkey"))
    val maxk = base.agg(max(col("o_orderkey"))).collect().head.getLong(0)
    val (b1, b2) = (maxk / 3, 2 * maxk / 3)
    table.append(base.filter(col("o_orderkey") <= b1))
    table.append(base.filter(col("o_orderkey") > b1 && col("o_orderkey") <= b2))
    table.append(base.filter(col("o_orderkey") > b2))
    table.upsert(base.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0), Seq("o_orderkey"))
    table.updateWhereCoW(
      col("o_orderkey") > b1 && col("o_orderkey") <= b2 &&
        pmod(col("o_orderkey"), lit(2)) === 0,
      Map("o_totalprice" -> (col("o_totalprice") + 5.0),
        "o_orderstatus" -> lit("W")),
      statRange = Some(("o_orderkey", b1 + 1, b2)))
    table.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Relational.dsum(col("o_totalprice"), 2).as("revenue"))
      .orderBy("o_orderstatus")
  }

  private val tableCowUpdateOracle =
    """WITH sub AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |bounds AS (
      |  SELECT CAST(max(k) AS BIGINT) // 3 AS b1,
      |         (2 * CAST(max(k) AS BIGINT)) // 3 AS b2 FROM sub),
      |upd AS (
      |  SELECT
      |    CASE WHEN k > b1 AND k <= b2 AND k % 2 = 0 THEN 'W' ELSE st END AS o_orderstatus,
      |    (CASE WHEN k % 3 = 0 THEN p + 10.0 ELSE p END) +
      |    (CASE WHEN k > b1 AND k <= b2 AND k % 2 = 0 THEN 5.0 ELSE 0.0 END) AS price
      |  FROM sub, bounds)
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(price AS DECIMAL(27,2))) AS DOUBLE) AS revenue
      |FROM upd GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Row lineage ([[IceliteTable.appendWithLineage]], the Iceberg v3
    * headline surface) gated end to end: two key-banded lineage
    * appends assign globally dense `_row_id`s (batch 2 continues where
    * batch 1's atomic high-water-mark bump left off), a copy-on-write
    * update then REWRITES every file — and the gate proves ids
    * survived the rewrite bit-for-bit while `_last_updated_seq`
    * re-stamped exactly the modified rows. The oracle replays the
    * assignment rule (per-batch dense numbering in key order) and the
    * update, so any id reuse, loss, or misattributed modification
    * stamp hash-fails.
    */
  def tableRowLineage(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("lineage-query")
    val base = t(spark, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(5)) === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val withL = base
      .withColumn(IceliteTable.RowIdCol, lit(0L))
      .withColumn(IceliteTable.LastUpdatedSeqCol, lit(0L))
    val table = IceliteTable.create(spark, wh, "analytics", "cust_lineage", withL.schema)
    val maxk = base.agg(max(col("c_custkey"))).collect().head.getLong(0)
    val b = maxk / 2
    table.appendWithLineage(base.filter(col("c_custkey") <= b), Seq("c_custkey"))
    table.appendWithLineage(base.filter(col("c_custkey") > b), Seq("c_custkey"))
    table.updateWhereCoW(
      pmod(col("c_custkey"), lit(3)) === 0,
      Map("bal_cents" -> (col("bal_cents") + lit(100L))))
    table.read()
      .select(col("c_custkey"), col("bal_cents"),
        col(IceliteTable.RowIdCol), col(IceliteTable.LastUpdatedSeqCol))
      .orderBy(IceliteTable.RowIdCol)
  }

  private val tableRowLineageOracle =
    """WITH sub AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM customer WHERE c_custkey % 5 = 0),
      |bounds AS (SELECT CAST(max(k) AS BIGINT) // 2 AS b FROM sub),
      |b1 AS (
      |  SELECT k, bal, row_number() OVER (ORDER BY k) - 1 AS rid, 1 AS s0
      |  FROM sub, bounds WHERE k <= b),
      |b2 AS (
      |  SELECT k, bal,
      |    (SELECT count(*) FROM b1) + row_number() OVER (ORDER BY k) - 1 AS rid,
      |    2 AS s0
      |  FROM sub, bounds WHERE k > b),
      |allr AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
      |SELECT k AS c_custkey,
      |  bal + CASE WHEN k % 3 = 0 THEN 100 ELSE 0 END AS bal_cents,
      |  CAST(rid AS BIGINT) AS _row_id,
      |  CAST(CASE WHEN k % 3 = 0 THEN 3 ELSE s0 END AS BIGINT) AS _last_updated_seq
      |FROM allr ORDER BY _row_id""".stripMargin

  /** Orphan-file cleanup ([[IceliteTable.removeOrphans]], Iceberg's
    * `remove_orphan_files`) gated end to end: a synced table gains
    * three uncommitted commit directories (the debris a crashed writer
    * leaves — data written, snapshot never published), the sweep
    * removes exactly those, and the hash gate certifies table content
    * is untouched — the action mutates storage, never state.
    */
  def tableOrphanCleanup(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("orphan-query")
    val base = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(19)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_orph", base.schema)
    table.upsert(base, Seq("o_orderkey"))
    table.delete(base.filter(pmod(col("o_orderkey"), lit(4)) === 0)
      .select("o_orderkey"), Seq("o_orderkey"))
    // crashed-writer debris: two data commit dirs + one delete dir,
    // none referenced by any snapshot
    base.limit(10).write.parquet(s"${table.location}/data/orphan-a")
    base.limit(10).write.parquet(s"${table.location}/data/orphan-b")
    base.limit(5).select("o_orderkey").write.parquet(s"${table.location}/deletes/orphan-c")
    val removed = table.removeOrphans(graceMs = -1L) // no grace: test fixture
    table.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Relational.dsum(col("o_totalprice"), 2).as("revenue"))
      .withColumn("orphans_removed", lit(removed.toLong))
      .orderBy("o_orderstatus")
  }

  private val tableOrphanCleanupOracle =
    """WITH sub AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
      |  FROM orders WHERE o_orderkey % 19 = 0 AND o_orderkey % 4 <> 0)
      |SELECT st AS o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(p AS DECIMAL(27,2))) AS DOUBLE) AS revenue,
      |  CAST(3 AS BIGINT) AS orphans_removed
      |FROM sub GROUP BY st ORDER BY st""".stripMargin

  /** Manifest rewrite ([[IceliteTable.rewriteManifests]], Iceberg's
    * `rewrite_manifests`) gated end to end: six micro-commit appends
    * (the CDC accretion shape) fold into one merged base snapshot
    * while the recent upsert + delete stay unfolded — the hash gate
    * certifies content is bit-identical across the fold (per-row seqs
    * live in files, so the recent delete files keep applying to folded
    * data), and the snapshot counts pin the metadata collapse.
    */
  def tableRewriteManifests(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("manifests-query")
    val src = t(spark, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select(lpad(col("o_orderkey").cast("string"), 12, "0").as("_id"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val table = IceliteTable.create(spark, wh, "analytics", "orders_mf", src.schema)
    (0 until 6).foreach(r =>
      table.append(src.filter(pmod(col("o_orderkey"), lit(6)) === r)))
    table.upsert(src.filter(pmod(col("o_orderkey"), lit(5)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0), Seq("_id"))
    table.delete(src.filter(pmod(col("o_orderkey"), lit(11)) === 0)
      .select("_id"), Seq("_id"))
    val nBefore = table.meta.snapshots.size
    table.rewriteManifests(keepRecent = 2)
    val nAfter = table.meta.snapshots.size
    table.read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Relational.dsum(col("o_totalprice"), 2).as("revenue"))
      .withColumn("snapshots_before", lit(nBefore.toLong))
      .withColumn("snapshots_after", lit(nAfter.toLong))
      .orderBy("o_orderstatus")
  }

  private val tableRewriteManifestsOracle =
    """WITH sub AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |fin AS (
      |  SELECT st, CASE WHEN k % 5 = 0 THEN p + 10.0 ELSE p END AS price
      |  FROM sub WHERE k % 11 <> 0)
      |SELECT st AS o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(price AS DECIMAL(27,2))) AS DOUBLE) AS revenue,
      |  CAST(8 AS BIGINT) AS snapshots_before,
      |  CAST(3 AS BIGINT) AS snapshots_after
      |FROM fin GROUP BY st ORDER BY st""".stripMargin

  /** Governed read ([[IceliteTable.declarePolicy]] /
    * [[IceliteTable.readGoverned]]) gated end to end: an analyst
    * policy on the synced customer table hides rows outside the
    * permitted nations, redacts names, and coarsens balances to
    * 100-unit buckets; the gate aggregates THROUGH the governed view,
    * so the hash certifies filter + masks applied exactly — and
    * `n_names = 1` proves the name column really was redacted.
    */
  def tableGovernedRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = graft.util.Scratch.dir("policy-query")
    val base = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    val table = IceliteTable.create(spark, wh, "analytics", "customer_gov", base.schema)
    table.append(base)
    table.declarePolicy("analyst",
      rowFilter = Some("c_nationkey < 13"),
      masks = Map(
        "c_name" -> "'***'",
        "c_acctbal" -> "CAST(floor(c_acctbal / 100) * 100 AS DOUBLE)"))
    table.readGoverned("analyst")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        Relational.dsum(col("c_acctbal"), 2).as("bal_bucket_sum"),
        countDistinct(col("c_name")).as("n_names"))
      .orderBy("c_mktsegment")
  }

  private val tableGovernedReadOracle =
    """SELECT c_mktsegment, count(*) AS n_rows,
      |  CAST(sum(CAST(floor(c_acctbal / 100) * 100 AS DECIMAL(27,2))) AS DOUBLE)
      |    AS bal_bucket_sum,
      |  CAST(1 AS BIGINT) AS n_names
      |FROM customer WHERE c_nationkey < 13
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------- registry

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("sync_evolution", syncEvolution _, Some(syncEvolutionOracle),
      "mid-stream add-column evolution: new post-image field widens the table, nulls backfill"),
    GraftQuery("sync_pipeline", syncPipeline _, Some(syncPipelineOracle),
      "end-to-end CDC sync: initial sync + change batch + MoR view"),
    GraftQuery("sync_all", syncAllCollections _, Some(syncAllOracle),
      "concurrent multi-collection orchestration: independent checkpoints, gated end states"),
    GraftQuery("table_changes", tableChanges _, Some(tableChangesOracle),
      "CDF changelog read: update pre/post pairs + deletes with preimages"),
    GraftQuery("table_wap", tableWap _, Some(tableWapOracle),
      "write-audit-publish: staged invisible, audited exactly, atomic publish/discard"),
    GraftQuery("table_refs", tableRefs _, Some(tableRefsOracle),
      "snapshot branches/tags: tag pins state, branch fast-forwards, both gated"),
    GraftQuery("table_branch_write", tableBranchWrite _, Some(tableBranchWriteOracle),
      "branch writes: staged appends on a ref, main isolated, audit view, fast-forward publish"),
    GraftQuery("table_partitions", tablePartitions _, Some(tablePartitionsOracle),
      "partitions metadata table: exact MoR per-partition record counts"),
    GraftQuery("table_snapshots", tableSnapshots _, Some(tableSnapshotsOracle),
      "snapshots + manifests metadata tables: per-commit added/cumulative totals and per-file metrics"),
    GraftQuery("table_analyze", tableAnalyze _, Some(tableAnalyzeOracle),
      "ANALYZE: per-column null counts + KMV distinct estimates published as a stats snapshot, read from metadata"),
    GraftQuery("table_analyze_incremental", tableAnalyzeIncremental _, Some(tableAnalyzeOracle),
      "incremental ANALYZE: delta-only scan folds mergeable stats (counts + KMV minima), bit-equal to a full recompute"),
    GraftQuery("table_stats_skipping", tableStatsSkipping _, Some(tableStatsSkippingOracle),
      "general predicate file skipping: declared stat columns prune data files from metadata under MoR deletes"),
    GraftQuery("table_histogram", tableHistogram _, Some(tableHistogramOracle),
      "equi-width histogram stats under frozen ANALYZE bounds: exact bucket intervals + counts from metadata"),
    GraftQuery("table_bloom_lookup", tableBloomLookup _, Some(tableBloomLookupOracle),
      "point lookup via per-file key blooms: skips hash-scattered files min/max bounds cannot, MoR-exact"),
    GraftQuery("table_join_estimate", tableJoinEstimate _, Some(tableJoinEstimateOracle),
      "CBO join-cardinality estimate from two ANALYZE snapshots (n·n/max NDV) next to the exact count"),
    GraftQuery("table_selectivity", tableSelectivity _, Some(tableSelectivityOracle),
      "histogram-driven selectivity estimate (metadata only) vs the exact range count, all-integer"),
    GraftQuery("table_changelog_stream", tableChangelogStream _, Some(tableChangelogStreamOracle),
      "streaming CDC consumer: changelog feed export + checkpointed file-stream resume"),
    GraftQuery("table_replica_sync", tableReplicaSync _, Some(tableReplicaSyncOracle),
      "CDC replication round-trip: feed -> streaming consumer -> replica state == source"),
    GraftQuery("table_compaction_plan", tableCompactionPlan _, Some(tableCompactionPlanOracle),
      "metadata-only compaction planner: manifests metrics -> prefix-sum rewrite groups"),
    GraftQuery("table_pos_delete", tablePosDelete _, Some(tablePosDeleteOracle),
      "equality + position deletes merged on read (Iceberg v2 delete shapes)"),
    GraftQuery("table_dv", tableDv _, Some(tableDvOracle),
      "deletion vectors: coordinate deletes consolidated to per-file bitmaps (Iceberg v3)"),
    GraftQuery("table_dv_full", tableDvFull _, Some(tableDvFullOracle),
      "FULL delete consolidation: equality+position deletes resolved into DV bitmaps, " +
        "zero delete joins post-fold, hot tail still applies"),
    GraftQuery("table_nested_evolution", tableNestedEvolution _, Some(tableNestedEvolutionOracle),
      "nested struct-field rename+add (metadata-only), epoch translation serves old " +
        "files under the new shape"),
    GraftQuery("table_update_where", tableUpdateWhere _, Some(tableUpdateWhereOracle),
      "keyless UPDATE WHERE: pos-delete old images + mutated append, one commit"),
    GraftQuery("table_cow_update", tableCowUpdate _, Some(tableCowUpdateOracle),
      "copy-on-write UPDATE: stat-pruned file rewrite, zero delete files, masked rows folded"),
    GraftQuery("table_row_lineage", tableRowLineage _, Some(tableRowLineageOracle),
      "Iceberg v3 row lineage: dense commit-assigned _row_id survives CoW rewrite, " +
        "_last_updated_seq re-stamps only modified rows"),
    GraftQuery("table_orphan_cleanup", tableOrphanCleanup _, Some(tableOrphanCleanupOracle),
      "remove_orphan_files maintenance: uncommitted writer debris swept, content untouched"),
    GraftQuery("table_rewrite_manifests", tableRewriteManifests _,
      Some(tableRewriteManifestsOracle),
      "rewrite_manifests: micro-commit file lists folded into one base snapshot, content bit-identical"),
    GraftQuery("table_governed_read", tableGovernedRead _, Some(tableGovernedReadOracle),
      "governance policy read: row-access filter + column masks applied at read, raw schema preserved"),
    GraftQuery("table_update_changelog", tableUpdateChangelog _, Some(tableUpdateChangelogOracle),
      "changelog pairs physical updates into update_pre/postimage via coordinate resolution"),
    GraftQuery("table_view_maintain", tableViewMaintain _, Some(tableViewMaintainOracle),
      "incremental view maintenance: changelog deltas ≡ full recompute"),
    GraftQuery("table_incremental_feed", tableIncrementalFeed _, Some(tableIncrementalFeedOracle),
      "incremental consumer pull: appended rows + deleted keys since a checkpoint seq"),
    GraftQuery("table_merge", tableMerge _, Some(tableMergeOracle),
      "MERGE INTO: conditional update/delete/insert + column-level UPDATE SET in one commit"),
    GraftQuery("zorder_scan", zorderScan _, Some(zorderScanOracle),
      "z-order range read: second-dimension file pruning + exact row bound"),
    GraftQuery("table_diff", tableDiff _, Some(tableDiffOracle),
      "snapshot diff by key: net insert/update/delete classification via one full-outer join"),
    GraftQuery("rollup_incremental", rollupIncremental _, Some(rollupServingOracle),
      "incremental rollup maintenance: delta partials MERGE-folded by key == full rebuild"),
    GraftQuery("table_clone", tableClone _, Some(tableCloneOracle),
      "zero-copy clone by metadata reference, then divergent upserts both sides stay isolated"),
    GraftQuery("table_overwrite_partitions", tableOverwritePartitions _,
      Some(tableOverwritePartitionsOracle),
      "dynamic partition overwrite: metadata-only pure-file drop + mixed-file survivor rewrite"),
    GraftQuery("table_mv_rewrite", tableMvRewrite _, Some(tableMvRewriteOracle),
      "transparent MV rewrite: optimizer rule answers a fact-table aggregate from the rollup"),
    GraftQuery("table_mv_incremental", tableMvIncremental _, Some(tableMvIncrementalOracle),
      "delta-folded rollup transparently served: fold == full-build AND rewrite == direct in one gate"),
    GraftQuery("table_add_default", tableAddDefault _, Some(tableAddDefaultOracle),
      "initial-default column add: pre-add files serve the default, post-add files their values"),
    GraftQuery("table_constraints", tableConstraints _, Some(tableConstraintsOracle),
      "write-time CHECK constraints: fused fail-fast enforcement, transparent for valid data"),
    GraftQuery("table_sort_order", tableSortOrder _, Some(tableSortOrderOracle),
      "declared sort order applied by compaction: disjoint file ranges, pruned range read"),
    GraftQuery("rollup_serving", rollupServing _, Some(rollupServingOracle),
      "materialized day-rollup serving a monthly report: re-aggregated partials == direct fact query"),
    GraftQuery("table_scd2", tableScd2 _, Some(tableScd2Oracle),
      "SCD Type 2 maintenance: close-and-open version history across new/changed/no-op batches"),
    GraftQuery("table_scd2_asof", tableScd2AsOf _, Some(tableScd2AsOfOracle),
      "point-in-time dimension read: one validity-interval predicate over the SCD2 history"),
    GraftQuery("table_scd2_fact_join", tableScd2FactJoin _, Some(tableScd2FactJoinOracle),
      "facts join the dimension VERSION valid at their own time: hash join + interval filter"))
}
