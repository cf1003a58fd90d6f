package graft.sync

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.config._

/** End-to-end sync semantics (SURVEY §5 translation): initial load +
  * change-event replay → golden last-writer-wins state; crash/resume
  * converges (at-least-once + dedup); control events force re-initial-sync.
  */
class SyncPipelineSpec extends AnyFunSuite with SparkFixture {

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

  private def config(root: Path, wh: String): SyncConfig = SyncConfig(
    MongoConfig(root.toString, "shop"),
    IcebergConfig(CatalogConfig("local", warehouse = Some(wh))),
    SyncSection(Seq(CollectionSyncConfig(
      SourceConfig("orders"),
      TargetConfig("analytics", "orders"),
      batch = BatchConfig(maxRecords = 8, maxBytes = 1 << 20, flushIntervalSeconds = 1)))))

  test("initial sync: full copy, chunked with hwm checkpoints, then steady state") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    writeFixture(root, "shop", "orders", (1 to 30).map(i => doc(i, s"$i.50", "gold")))
    val orch = new SyncOrchestrator(spark, config(root, wh), wh)
    val table = orch.syncCollection(config(root, wh).sync.collections.head,
      Files.createTempDirectory("sync-ckpt").toString)
    assert(table.read().count() == 30)
    val cp = orch.checkpoints.read("analytics.orders").get
    assert(cp.state == SyncState.SteadyState)
    assert(cp.documentsProcessed == 30)
    assert(cp.highWaterMarkId.contains(oid(30)))
    // chunked: maxRecords=8 → ≥4 data commits
    assert(table.meta.snapshots.count(_.operation == "append") >= 4)
  }

  test("initial sync: wide documents flush by batch.maxBytes before the record cap") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val pad = "x" * 2048 // ~2 KB per document
    writeFixture(root, "shop", "orders", (1 to 30).map(i =>
      s"""{"_id":{"$$oid":"${oid(i)}"},"pad":"$pad"}"""))
    val cfg = SyncConfig(
      MongoConfig(root.toString, "shop"),
      IcebergConfig(CatalogConfig("local", warehouse = Some(wh))),
      SyncSection(Seq(CollectionSyncConfig(
        SourceConfig("orders"),
        TargetConfig("analytics", "orders_wide"),
        // records alone would allow 30-doc chunks; 8 KB caps a chunk
        // at ~4 of these ~2 KB docs → bytes is the binding threshold
        batch = BatchConfig(maxRecords = 30, maxBytes = 8192, flushIntervalSeconds = 1)))))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(cfg.sync.collections.head,
      Files.createTempDirectory("sync-ckpt").toString)
    assert(table.read().count() == 30)
    val appends = table.meta.snapshots.count(_.operation == "append")
    assert(appends >= 6, s"expected byte-bounded chunks (≥6 appends), got $appends")
  }

  test("initial sync resume: second run only copies ids above the hwm") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    writeFixture(root, "shop", "orders", (1 to 10).map(i => doc(i, "1.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val c = cfg.sync.collections.head
    orch.syncCollection(c, Files.createTempDirectory("ck1").toString)
    // simulate: more docs appear with higher ids; checkpoint forced back to INITIAL_SYNC mid-scan
    writeFixture(root, "shop", "orders", (1 to 14).map(i => doc(i, "1.00", "gold")))
    val cp = orch.checkpoints.read("analytics.orders").get
    orch.checkpoints.write(cp.copy(state = SyncState.InitialSync))
    val table = orch.syncCollection(c, Files.createTempDirectory("ck2").toString)
    assert(table.read().count() == 14)
    // no duplicate of the first 10 (hwm resume skipped them)
    assert(table.read().groupBy("_id").count().filter(col("count") > 1).count() == 0)
    assert(orch.checkpoints.read("analytics.orders").get.documentsProcessed == 14)
  }

  test("crash between chunk commit and checkpoint write resumes exactly-once") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    writeFixture(root, "shop", "orders", (1 to 12).map(i => doc(i, "1.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val c = cfg.sync.collections.head
    orch.syncCollection(c, Files.createTempDirectory("ck1").toString)
    // simulate the crash window: the table holds chunks through oid(12)
    // (snapshot summaries carry hwm atomically) but the durable
    // checkpoint row lags at oid(10) — the state the old per-chunk
    // checkpoint design replays (duplicating 11-12) on resume
    val cp = orch.checkpoints.read("analytics.orders").get
    orch.checkpoints.write(cp.copy(
      state = SyncState.InitialSync, highWaterMarkId = Some(oid(10)),
      documentsProcessed = 10))
    writeFixture(root, "shop", "orders", (1 to 14).map(i => doc(i, "1.00", "gold")))
    val table = orch.syncCollection(c, Files.createTempDirectory("ck2").toString)
    assert(table.read().count() == 14)
    assert(table.read().groupBy("_id").count().filter(col("count") > 1).count() == 0)
    assert(orch.checkpoints.read("analytics.orders").get.documentsProcessed == 14)
  }

  test("compaction preserves the initial-sync resume marker") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    writeFixture(root, "shop", "orders", (1 to 12).map(i => doc(i, "1.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val c = cfg.sync.collections.head
    orch.syncCollection(c, Files.createTempDirectory("ck1").toString)
    val cp = orch.checkpoints.read("analytics.orders").get
    orch.checkpoints.write(cp.copy(
      state = SyncState.InitialSync, highWaterMarkId = Some(oid(10)),
      documentsProcessed = 10))
    val t0 = graft.table.IceliteTable.load(spark, wh, "analytics", "orders")
    t0.compact() // folds every chunk snapshot into one rewrite
    assert(t0.meta.snapshots.last.summary.get(InitialSync.HwmKey).contains(oid(12)))
    writeFixture(root, "shop", "orders", (1 to 14).map(i => doc(i, "1.00", "gold")))
    val table = orch.syncCollection(c, Files.createTempDirectory("ck2").toString)
    assert(table.read().count() == 14)
    assert(table.read().groupBy("_id").count().filter(col("count") > 1).count() == 0)
    assert(orch.checkpoints.read("analytics.orders").get.documentsProcessed == 14)
  }

  test("change stream: insert/update/delete replay to golden LWW state; idempotent on batch replay") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 5).map(i => doc(i, s"$i.00", "gold")))
    writeChanges(root, "shop", "orders", "b0", Seq(
      s"""{"seq":1,"op":"insert","_id":"${oid(6)}","fullDocument":${jstr(doc(6, "6.00", "new"))},"clusterTime":"2024-02-01T00:00:00.000Z"}""",
      s"""{"seq":2,"op":"update","_id":"${oid(1)}","fullDocument":${jstr(doc(1, "99.99", "plat"))},"clusterTime":"2024-02-01T00:00:01.000Z"}""",
      s"""{"seq":3,"op":"delete","_id":"${oid(2)}","fullDocument":null,"clusterTime":"2024-02-01T00:00:02.000Z"}""",
      s"""{"seq":4,"op":"update","_id":"${oid(1)}","fullDocument":${jstr(doc(1, "111.11", "plat"))},"clusterTime":"2024-02-01T00:00:03.000Z"}"""))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)

    def state() = table.read().orderBy("_id").collect()
      .map(r => r.getString(0) -> r.getDecimal(1).toPlainString).toSeq
    val expected = Seq(
      oid(1) -> "111.110000000", // LWW: seq 4 wins over seq 2
      oid(3) -> "3.000000000", oid(4) -> "4.000000000",
      oid(5) -> "5.000000000", oid(6) -> "6.000000000")
    assert(state() == expected)
    val cp = orch.checkpoints.read("analytics.orders").get
    assert(cp.resumeToken.contains(4L))

    // crash-replay the same batch directly (at-least-once): converges
    val changes = new ChangeStreamSync(spark, c, table, orch.checkpoints, "shop")
    val batch = spark.read.schema(ChangeStreamSync.EventSchema)
      .json(root.resolve("shop/orders.changes").toString)
    changes.processBatch(batch, batchId = 0) // same batchId → skipped
    changes.processBatch(batch, batchId = 99) // new batchId, old seqs → filtered by resume token
    assert(state() == expected)
  }

  test("steady state: an oversized micro-batch splits into byte-bounded sub-commits") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = SyncConfig(
      MongoConfig(root.toString, "shop"),
      IcebergConfig(CatalogConfig("local", warehouse = Some(wh))),
      SyncSection(Seq(CollectionSyncConfig(
        SourceConfig("orders"),
        TargetConfig("analytics", "orders"),
        // ~180-byte event images; 256 bytes forces an 8-upsert batch
        // into multiple commits while initial sync (3 small docs, one
        // chunk under maxRecords) is unaffected
        batch = BatchConfig(maxRecords = 50, maxBytes = 256, flushIntervalSeconds = 1)))))
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 3).map(i => doc(i, s"$i.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    // drive the oversized batch directly (the orchestrator's post-drain
    // maintenance would fold the sub-commits into one rewrite snapshot)
    writeChanges(root, "shop", "orders", "b0",
      (4 to 11).map(i =>
        s"""{"seq":${i - 3},"op":"insert","_id":"${oid(i)}","fullDocument":${jstr(doc(i, s"$i.00", "new"))},"clusterTime":"2024-02-01T00:00:0${i - 4}.000Z"}""") :+
        s"""{"seq":9,"op":"delete","_id":"${oid(1)}","fullDocument":null,"clusterTime":"2024-02-01T00:00:09.000Z"}""")
    val changes = new ChangeStreamSync(spark, c, table, orch.checkpoints, "shop")
    val before = table.meta.snapshots.length
    val batch = spark.read.schema(ChangeStreamSync.EventSchema)
      .json(root.resolve("shop/orders.changes").toString)
    changes.processBatch(batch, batchId = 1000)
    // golden LWW state: docs 2..11 present, doc 1 deleted
    assert(table.read().select("_id").orderBy("_id").collect().map(_.getString(0)).toSeq
      == (2 to 11).map(oid).sorted)
    // the single micro-batch committed as >1 byte-bounded upsert snapshot
    val upserts = table.meta.snapshots.drop(before).count(_.operation == "upsert")
    assert(upserts > 1, s"expected byte-split sub-commits, got $upserts upsert snapshot(s)")
    assert(orch.checkpoints.read("analytics.orders").get.resumeToken.contains(9L))
  }

  test("schema evolution mid-stream: new field widens table, old rows null") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 3).map(i => doc(i, s"$i.00", "gold")))
    val evolvedDoc =
      s"""{"_id":{"$$oid":"${oid(9)}"},"total":{"$$numberDecimal":"9.00"},"customer":{"name":"c9","tier":"x"},"orderDate":{"$$date":"2024-03-01T00:00:00Z"},"coupon":"WELCOME"}"""
    writeChanges(root, "shop", "orders", "b0", Seq(
      s"""{"seq":1,"op":"insert","_id":"${oid(9)}","fullDocument":${jstr(evolvedDoc)},"clusterTime":"2024-03-01T00:00:00.000Z"}"""))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    assert(table.schema.fieldNames.contains("coupon"))
    val rows = table.read().orderBy("_id").select("_id", "coupon").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq(oid(1), oid(2), oid(3), oid(9)))
    assert(rows.take(3).forall(_.isNullAt(1)) && rows.last.getString(1) == "WELCOME")
  }

  test("schema evolution: a rare new field past the first 1,000 upserts of a batch is kept") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 3).map(i => doc(i, s"$i.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    // 2,400 inserts in one micro-batch; only the last (highest key, last
    // seq) carries the new top-level field
    val n = 2400
    val carrier = n + 3
    val carrierDoc =
      s"""{"_id":{"$$oid":"${oid(carrier)}"},"total":{"$$numberDecimal":"1.00"},"customer":{"name":"cc","tier":"x"},"orderDate":{"$$date":"2024-03-01T00:00:00Z"},"coupon":"RARE"}"""
    writeChanges(root, "shop", "orders", "b0", (4 to carrier).map { i =>
      val d = if (i == carrier) carrierDoc else doc(i, s"$i.00", "new")
      s"""{"seq":${i - 3},"op":"insert","_id":"${oid(i)}","fullDocument":${jstr(d)},"clusterTime":"2024-03-01T00:00:00.000Z"}"""
    })
    val changes = new ChangeStreamSync(spark, c, table, orch.checkpoints, "shop")
    val batch = spark.read.schema(ChangeStreamSync.EventSchema)
      .json(root.resolve("shop/orders.changes").toString)
    changes.processBatch(batch, batchId = 1000)
    assert(table.schema.fieldNames.contains("coupon"), "the rare field never became a column")
    val coupons = table.read().filter(col("coupon").isNotNull)
      .select("_id", "coupon").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(coupons == Seq((oid(carrier), "RARE")))
    assert(table.read().count() == 3 + n)
  }

  test("sync metrics: change events count every consumed event, not the keys they fold to") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 3).map(i => doc(i, s"$i.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    // five events over three keys: oid(1) updated three times
    writeChanges(root, "shop", "orders", "b0", Seq(
      s"""{"seq":1,"op":"update","_id":"${oid(1)}","fullDocument":${jstr(doc(1, "10.00", "plat"))},"clusterTime":"2024-02-01T00:00:00.000Z"}""",
      s"""{"seq":2,"op":"update","_id":"${oid(1)}","fullDocument":${jstr(doc(1, "20.00", "plat"))},"clusterTime":"2024-02-01T00:00:01.000Z"}""",
      s"""{"seq":3,"op":"delete","_id":"${oid(2)}","fullDocument":null,"clusterTime":"2024-02-01T00:00:02.000Z"}""",
      s"""{"seq":4,"op":"replace","_id":"${oid(1)}","fullDocument":${jstr(doc(1, "30.00", "plat"))},"clusterTime":"2024-02-01T00:00:03.000Z"}""",
      s"""{"seq":5,"op":"insert","_id":"${oid(7)}","fullDocument":${jstr(doc(7, "7.00", "new"))},"clusterTime":"2024-02-01T00:00:04.000Z"}"""))
    val metrics = new SyncMetrics
    val changes = new ChangeStreamSync(spark, c, table, orch.checkpoints, "shop", metrics)
    val batch = spark.read.schema(ChangeStreamSync.EventSchema)
      .json(root.resolve("shop/orders.changes").toString)
    changes.processBatch(batch, batchId = 1000)
    assert(metrics.of("analytics.orders").changeEvents.sum() == 5)
    val state = table.read().orderBy("_id").collect()
      .map(r => r.getString(0) -> r.getDecimal(1).toPlainString).toSeq
    assert(state == Seq(oid(1) -> "30.000000000", oid(3) -> "3.000000000",
      oid(7) -> "7.000000000"))
    // a replayed batch consumes nothing
    changes.processBatch(batch, batchId = 1001)
    assert(metrics.of("analytics.orders").changeEvents.sum() == 5)
  }

  test("invalidate control event forces re-initial-sync (R7)") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 4).map(i => doc(i, s"$i.00", "gold")))
    writeChanges(root, "shop", "orders", "b0", Seq(
      """{"seq":1,"op":"invalidate","_id":null,"fullDocument":null,"clusterTime":"2024-02-01T00:00:00.000Z"}"""))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    // table still consistent with the (re-read) source
    assert(table.read().count() == 4)
    assert(table.read().groupBy("_id").count().filter(col("count") > 1).count() == 0)
  }

  test("drop/recreate: rebuild truncates stale rows, resets hwm, applies post-drop events") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    // phase 1: initial collection synced to steady state
    writeFixture(root, "shop", "orders", (1 to 4).map(i => doc(i, s"$i.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    orch.syncCollection(c, Files.createTempDirectory("ck1").toString)
    // phase 2: collection dropped and recreated with NEW docs (ids 101+),
    // plus a post-drop insert arriving via the change stream
    writeFixture(root, "shop", "orders", (101 to 103).map(i => doc(i, s"$i.00", "silver")))
    writeChanges(root, "shop", "orders", "b0", Seq(
      """{"seq":1,"op":"drop","_id":null,"fullDocument":null,"clusterTime":"2024-02-01T00:00:00.000Z"}""",
      s"""{"seq":2,"op":"insert","_id":"${oid(104)}","fullDocument":${jstr(doc(104, "104.00", "silver"))},"clusterTime":"2024-02-01T00:00:01.000Z"}"""))
    val table = orch.syncCollection(c, Files.createTempDirectory("ck2").toString)
    val ids = table.read().orderBy("_id").collect().map(_.getString(0)).toSeq
    // pre-drop rows are gone (truncate), recreated docs + post-drop insert present
    assert(ids == Seq(oid(101), oid(102), oid(103), oid(104)))
    assert(table.read().groupBy("_id").count().filter(col("count") > 1).count() == 0)
    val cp = orch.checkpoints.read("analytics.orders").get
    assert(cp.resumeToken.contains(2L)) // past the post-drop insert
    assert(cp.documentsProcessed == 4)  // 3 rebuilt + 1 streamed
  }

  test("initial sync with numeric ids: chunk boundaries stay in native order (no string sort)") {
    import graft.table.IceliteTable
    val wh = Files.createTempDirectory("sync-wh").toString
    // ids 1..25 with small chunks: lexicographic boundary order ("14" < "2"
    // < "25" < "9") would duplicate ids 3..14 and mis-split ranges
    val src = spark.range(1, 26).toDF("_id")
      .withColumn("v", concat(lit("v"), col("_id")))
    val table = IceliteTable.create(spark, wh, "t", "num", src.schema)
    val ckpts = new CheckpointStore(spark, wh)
    val c = CollectionSyncConfig(SourceConfig("num"), TargetConfig("t", "num"),
      batch = BatchConfig(maxRecords = 7, maxBytes = 1 << 20, flushIntervalSeconds = 1))
    val n = new InitialSync(spark, c, table, ckpts, "db").run(src)
    assert(n == 25)
    assert(table.read().count() == 25)
    assert(table.read().groupBy("_id").count().filter(col("count") > 1).count() == 0)
    assert(table.meta.snapshots.count(_.operation == "append") >= 4)
  }

  test("sync metrics: documents/events/commits/state populated; registry queryable") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 12).map(i => doc(i, s"$i.00", "gold")))
    writeChanges(root, "shop", "orders", "b0", Seq(
      s"""{"seq":1,"op":"update","_id":"${oid(1)}","fullDocument":${jstr(doc(1, "9.99", "plat"))},"clusterTime":"2024-02-01T00:00:00.000Z"}""",
      s"""{"seq":2,"op":"delete","_id":"${oid(2)}","fullDocument":null,"clusterTime":"2024-02-01T00:00:01.000Z"}"""))
    val metrics = new SyncMetrics
    val orch = new SyncOrchestrator(spark, cfg, wh, metrics)
    orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    val m = metrics.of("analytics.orders")
    assert(m.initialDocs.sum() == 12)
    assert(m.changeEvents.sum() == 2)
    assert(m.commits.sum() >= 2) // ≥1 initial chunk + 1 change batch
    assert(m.commitLatencyMsSum.sum() >= 0 && m.commitLatencyMsMax.get() >= 0)
    assert(m.state.get() == SyncState.SteadyState)
    val df = metrics.asDataFrame(spark)
    val row = df.filter(org.apache.spark.sql.functions.col("sync_id") === "analytics.orders")
      .collect().head
    assert(row.getAs[Long]("initial_documents_processed") == 12)
    assert(row.getAs[Long]("changestream_events_processed") == 2)
  }

  test("post-drain maintenance compacts MoR deletes into a rewrite snapshot") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    writeFixture(root, "shop", "orders", (1 to 6).map(i => doc(i, s"$i.00", "gold")))
    writeChanges(root, "shop", "orders", "b0", Seq(
      s"""{"seq":1,"op":"update","_id":"${oid(3)}","fullDocument":${jstr(doc(3, "33.33", "plat"))},"clusterTime":"2024-02-01T00:00:00.000Z"}"""))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    // the change batch produced equality-delete files; post-drain
    // maintenance must have folded them away
    assert(table.meta.liveDeleteFiles.isEmpty)
    assert(table.meta.snapshots.map(_.operation) == Seq("rewrite"))
    assert(table.read().count() == 6)
    val updated = table.read().filter(col("_id") === oid(3)).collect().head
    assert(updated.getDecimal(1).toPlainString == "33.330000000")
  }

  test("rebuild intent survives a crash: restart truncates and resyncs from the checkpoint alone") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val cfg = config(root, wh)
    val c = cfg.sync.collections.head
    // steady state with the original collection
    writeFixture(root, "shop", "orders", (1 to 4).map(i => doc(i, s"$i.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck1").toString)
    assert(table.read().count() == 4)
    // a drop arrives; the handler checkpoints the rebuild obligation —
    // then the process "crashes" (we do nothing further with the stream)
    val changes = new ChangeStreamSync(spark, c, table, orch.checkpoints, "shop")
    val drop = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        1L, "drop", null, null, null)), ChangeStreamSync.EventSchema)
    changes.processBatch(drop, batchId = 0)
    assert(changes.invalidated)
    val intent = orch.checkpoints.read("analytics.orders").get
    assert(intent.state == SyncState.InitialSync)
    assert(intent.highWaterMarkId.isEmpty && intent.resumeToken.contains(1L))
    // stale pre-drop rows are still in the table at crash time
    assert(table.read().count() == 4)
    // restart: collection was recreated; recovery runs purely from the
    // checkpoint — decision table says initial sync, no hwm ⇒ truncate
    writeFixture(root, "shop", "orders", (101 to 102).map(i => doc(i, s"$i.00", "silver")))
    assert(SyncStateMachine.decideStart(Some(intent)) == SyncStateMachine.InitialSyncPhase)
    val fresh = graft.schema.DocumentSource.readJsonl(spark,
      root.resolve("shop/orders.jsonl").toString)
    new InitialSync(spark, c, table, orch.checkpoints, "shop").run(fresh)
    val ids = table.read().orderBy("_id").collect().map(_.getString(0)).toSeq
    assert(ids == Seq(oid(101), oid(102))) // pre-drop rows truncated
    val cp = orch.checkpoints.read("analytics.orders").get
    assert(cp.state == SyncState.SteadyState)
    assert(cp.resumeToken.contains(1L)) // pre-drop events stay retired
  }

  test("syncAll: multi-collection drive; explicit mapping projects/renames/casts") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    writeFixture(root, "shop", "orders", (1 to 5).map(i => doc(i, s"$i.00", "gold")))
    writeFixture(root, "shop", "users", (1 to 3).map(i =>
      s"""{"_id":{"$$oid":"${oid(100 + i)}"},"profile":{"name":"u$i","age":{"$$numberInt":"${20 + i}"}},"active":true}"""))
    val cfg = SyncConfig(
      MongoConfig(root.toString, "shop"),
      IcebergConfig(CatalogConfig("local", warehouse = Some(wh))),
      SyncSection(Seq(
        CollectionSyncConfig(SourceConfig("orders"), TargetConfig("analytics", "orders")),
        CollectionSyncConfig(SourceConfig("users"), TargetConfig("analytics", "users"),
          mapping = MappingConfig(MappingConfig.ModeExplicit, Seq(
            FieldMapping("_id", "_id", None),
            FieldMapping("profile.name", "user_name", None),
            FieldMapping("profile.age", "age", Some("long")),
            FieldMapping("active", "active", None)))))))
    // change events must run through the SAME explicit projection:
    // an update whose post-image carries the SOURCE shape (nested
    // profile.name / profile.age) lands with renamed+cast columns
    writeChanges(root, "shop", "users", "b0", Seq(
      s"""{"seq":1,"op":"update","_id":"${oid(101)}","fullDocument":${jstr(
        s"""{"_id":{"$$oid":"${oid(101)}"},"profile":{"name":"u1-renamed","age":{"$$numberInt":"31"}},"active":false}""")},"clusterTime":"2024-02-01T00:00:00.000Z"}"""))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val tables = orch.syncAll(Files.createTempDirectory("ck").toString)
    assert(tables.keySet == Set("analytics.orders", "analytics.users"))
    assert(tables("analytics.orders").read().count() == 5)
    val users = tables("analytics.users").read().orderBy("_id").collect()
    assert(users.map(_.getString(1)).toSeq == Seq("u1-renamed", "u2", "u3"))
    assert(users.map(_.getLong(2)).toSeq == Seq(31L, 22L, 23L)) // int → long override
    assert(users.head.getBoolean(3) == false) // updated via the stream
    assert(tables("analytics.users").schema.fieldNames.toSeq ==
      Seq("_id", "user_name", "age", "active"))
  }

  test("explicit-mode mapping skips schema evolution (log-and-ignore, design §evolution)") {
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val c = CollectionSyncConfig(
      SourceConfig("orders"), TargetConfig("analytics", "orders"),
      mapping = MappingConfig(MappingConfig.ModeExplicit, Seq(
        FieldMapping("_id", "_id", None),
        FieldMapping("total", "total", Some("double")))))
    val cfg = SyncConfig(
      MongoConfig(root.toString, "shop"),
      IcebergConfig(CatalogConfig("local", warehouse = Some(wh))),
      SyncSection(Seq(c)))
    writeFixture(root, "shop", "orders", (1 to 3).map(i => doc(i, s"$i.00", "gold")))
    // change event carries a NEW field; explicit mode must not widen
    val evolved =
      s"""{"_id":{"$$oid":"${oid(9)}"},"total":{"$$numberDouble":"9.0"},"surprise":"nope"}"""
    writeChanges(root, "shop", "orders", "b0", Seq(
      s"""{"seq":1,"op":"insert","_id":"${oid(9)}","fullDocument":${jstr(evolved)},"clusterTime":"2024-03-01T00:00:00.000Z"}"""))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    assert(table.schema.fieldNames.toSeq == Seq("_id", "total")) // no "surprise" column
    assert(table.read().count() == 4)
  }

  test("partitioned sync: transform columns recorded with stats; readRange prunes the synced table") {
    import graft.table.{IceliteTable, RangeFilters}
    val root = Files.createTempDirectory("sync-fix")
    val wh = Files.createTempDirectory("sync-wh").toString
    val c = CollectionSyncConfig(
      SourceConfig("orders"), TargetConfig("analytics", "orders"),
      partitioning = Seq(PartitionConfig("orderDate", "month")),
      batch = BatchConfig(maxRecords = 10, maxBytes = 1 << 20, flushIntervalSeconds = 1))
    val cfg = SyncConfig(
      MongoConfig(root.toString, "shop"),
      IcebergConfig(CatalogConfig("local", warehouse = Some(wh))),
      SyncSection(Seq(c)))
    // docs span January 2024 by construction
    writeFixture(root, "shop", "orders", (1 to 25).map(i => doc(i, s"$i.00", "gold")))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, Files.createTempDirectory("ck").toString)
    val partCol = IceliteTable.partColName(PartitionConfig("orderDate", "month"))
    assert(table.meta.snapshots.exists(_.fileStats.nonEmpty))
    val jan = table.scan(RangeFilters(partCol, Some("2024-01"), Some("2024-01")))
    assert(jan.count() == 25)
    val fromFeb = RangeFilters(partCol, Some("2024-02"), None)
    assert(table.scan(fromFeb).count() == 0)
    // pruning answered the out-of-range query from metadata alone
    assert(table.planFiles(table.meta.snapshots, fromFeb)._1.isEmpty)
  }

  test("state machine decision table + backoff curve") {
    import SyncStateMachine._
    assert(decideStart(None) == InitialSyncPhase)
    val cp = CheckpointRecord("s", SyncState.InitialSync, "db", "c", None, Some("x"),
      10, 1, -1, 0)
    assert(decideStart(Some(cp)) == InitialSyncPhase)
    assert(decideStart(Some(cp.copy(state = SyncState.SteadyState,
      resumeToken = Some(7L)))) == SteadyStatePhase)
    assert(backoffMs(0) == 1000L && backoffMs(1) == 2000L && backoffMs(5) == 32000L)
    assert(backoffMs(6) == 60000L && backoffMs(40) == 60000L)
    // withRetry retries transient, rethrows fatal
    var calls = 0
    val r = withRetry(maxAttempts = 5, sleep = _ => ()) {
      calls += 1; if (calls < 3) throw new RuntimeException("transient"); 42
    }
    assert(r == 42 && calls == 3)
    intercept[IllegalArgumentException] {
      withRetry(maxAttempts = 5, sleep = _ => ())(throw new IllegalArgumentException("fatal"))
    }
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
