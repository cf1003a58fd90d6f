package graft.table

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.config.PartitionConfig

class IceliteTableSpec extends AnyFunSuite with SparkFixture {

  private def freshWarehouse(): String =
    Files.createTempDirectory("icelite-wh").toString

  private val docSchema = StructType(Seq(
    StructField("_id", StringType), StructField("total", DoubleType),
    StructField("status", StringType),
    StructField("order_ts", TimestampType)))

  private def rows(data: (String, Double, String, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      data.map { case (id, t, s, ts) =>
        org.apache.spark.sql.Row(id, t, s, java.sql.Timestamp.from(java.time.Instant.parse(ts)))
      }.asJava, docSchema)
  }

  test("create → append → read round trip; seq increments") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "orders", docSchema)
    val s1 = t.append(rows(("a", 10.0, "new", "2024-01-05T00:00:00Z")))
    val s2 = t.append(rows(("b", 20.0, "new", "2024-02-05T00:00:00Z")))
    assert(s1 == 1 && s2 == 2)
    val got = t.read().orderBy("_id").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a", "b"))
    // reload from disk sees the same state (metadata is the truth)
    val t2 = IceliteTable.load(spark, wh, "ns", "orders")
    assert(t2.read().count() == 2)
    assert(t2.meta.snapshots.map(_.operation) == Seq("append", "append"))
  }

  test("time travel: readAt reconstructs each committed state; truncate bounds history") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "tt", docSchema)
    val s1 = t.append(rows(("a", 10.0, "new", "2024-01-05T00:00:00Z")))
    val s2 = t.append(rows(("b", 20.0, "new", "2024-01-06T00:00:00Z")))
    val s3 = t.upsert(rows(("a", 99.0, "paid", "2024-01-07T00:00:00Z")), Seq("_id"))
    assert(t.readAt(s1).collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(t.readAt(s2).orderBy("_id").collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // at s2, "a" still has its original value; at s3 the upsert wins
    assert(t.readAt(s2).filter(col("_id") === "a").head().getDouble(1) == 10.0)
    assert(t.readAt(s3).filter(col("_id") === "a").head().getDouble(1) == 99.0)
    assert(t.readAt(0).count() == 0) // before the first commit
    // AS-OF-TIMESTAMP resolves a wall-clock stamp to the newest
    // covered seq from the RECORDED snapshot stamps
    val byTs = t.meta.snapshots.map(s => s.seq -> s.timestampMs).toMap
    if (byTs(s1) < byTs(s2)) // commits in the same millisecond legitimately see further
      assert(t.readAsOf(byTs(s1)).collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(t.readAsOf(byTs(s3) + 1000).filter(col("_id") === "a").head().getDouble(1) == 99.0)
    intercept[IllegalArgumentException](t.readAsOf(byTs.values.min - 1))
    val s4 = t.truncate()
    assert(t.readAt(s4).count() == 0)
    assert(t.read().count() == 0)
  }

  test("incremental read: readAppendedSince returns only later row versions with their seqs") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "inc", docSchema)
    val s1 = t.append(rows(("a", 10.0, "new", "2024-01-05T00:00:00Z")))
    t.append(rows(("b", 20.0, "new", "2024-01-06T00:00:00Z")))
    t.upsert(rows(("a", 99.0, "paid", "2024-01-07T00:00:00Z")), Seq("_id"))
    val inc = t.readAppendedSince(s1).orderBy(IceliteTable.SeqCol).collect()
    assert(inc.map(_.getString(0)).toSeq == Seq("b", "a")) // append s2, upsert image s3
    assert(inc.map(_.getAs[Long](IceliteTable.SeqCol)).toSeq == Seq(2L, 3L))
    assert(t.readAppendedSince(3L).isEmpty)
  }

  test("file stats: commits record per-file partition min/max; readRange prunes from metadata") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "pruned", docSchema,
      partitioning = Seq(PartitionConfig("order_ts", "month")))
    // three commits in three disjoint months → three disjoint file sets
    t.append(rows(("a1", 1.0, "new", "2024-01-05T00:00:00Z"),
      ("a2", 2.0, "new", "2024-01-20T00:00:00Z")))
    t.append(rows(("b1", 3.0, "new", "2024-02-05T00:00:00Z")))
    t.append(rows(("c1", 4.0, "new", "2024-03-05T00:00:00Z"),
      ("c2", 5.0, "new", "2024-03-25T00:00:00Z")))
    val partCol = IceliteTable.partColName(PartitionConfig("order_ts", "month"))
    // every data file carries stats for the derived partition column
    assert(t.meta.snapshots.flatMap(_.dataFiles).nonEmpty)
    assert(t.meta.snapshots.forall(s => s.dataFiles.forall(s.fileStats.contains)))
    // metadata-only pruning: the February range keeps only Feb files
    val febFiles = t.pruneDataFiles(partCol, Some("2024-02"), Some("2024-02"))
    assert(febFiles.nonEmpty && febFiles.size < t.meta.liveDataFiles.size)
    val feb = t.readRange(partCol, Some("2024-02"), Some("2024-02"))
    assert(feb.collect().map(_.getString(0)).toSeq == Seq("b1"))
    // open-ended range + equivalence with the full read filtered by month
    val fromFeb = t.readRange(partCol, Some("2024-02"), None)
      .orderBy("_id").collect().map(_.getString(0)).toSeq
    assert(fromFeb == Seq("b1", "c1", "c2"))
    // stats survive metadata round-trip + compaction keeps them
    val reloaded = IceliteTable.load(spark, wh, "ns", "pruned")
    assert(reloaded.pruneDataFiles(partCol, Some("2024-03"), None).nonEmpty)
    t.compact()
    assert(t.meta.snapshots.head.fileStats.nonEmpty)
    assert(t.readRange(partCol, Some("2024-02"), Some("2024-02"))
      .collect().map(_.getString(0)).toSeq == Seq("b1"))
  }

  test("commit recovers from a crash-orphaned claim file once it ages past the TTL") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "claims", docSchema)
    t.append(rows(("a", 1.0, "new", "2024-01-05T00:00:00Z")))
    // simulate a writer that died between claiming v2 and publishing it
    val orphan = java.nio.file.Paths.get(s"$wh/ns/claims/metadata/v00002.json.claim")
    java.nio.file.Files.createFile(orphan)
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - IceliteTable.ClaimTtlMs - 60000))
    val s2 = t.append(rows(("b", 2.0, "new", "2024-01-06T00:00:00Z")))
    assert(s2 == 2)
    assert(t.read().count() == 2)
  }

  test("upsert: equality delete + append in one commit; last-writer-wins") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "t", docSchema)
    t.append(rows(("a", 10.0, "new", "2024-01-05T00:00:00Z"),
      ("b", 20.0, "new", "2024-01-06T00:00:00Z")))
    t.upsert(rows(("a", 11.0, "updated", "2024-01-07T00:00:00Z"),
      ("c", 30.0, "new", "2024-01-08T00:00:00Z")), Seq("_id"))
    val got = t.read().orderBy("_id").collect()
    assert(got.map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq ==
      Seq(("a", 11.0, "updated"), ("b", 20.0, "new"), ("c", 30.0, "new")))
    val ops = t.meta.snapshots.map(_.operation)
    assert(ops == Seq("append", "upsert"))
    assert(t.meta.snapshots.last.deleteFiles.nonEmpty &&
      t.meta.snapshots.last.dataFiles.nonEmpty)
  }

  test("upsert dedups the batch last-writer-wins on the order column") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "t", docSchema)
    val batch = rows(
      ("a", 1.0, "v1", "2024-01-01T00:00:00Z"),
      ("a", 2.0, "v2", "2024-01-02T00:00:00Z"),
      ("a", 3.0, "v3", "2024-01-03T00:00:00Z"))
    t.upsert(batch, Seq("_id"), orderCol = Some("order_ts"))
    val got = t.read().collect()
    assert(got.length == 1 && got.head.getString(2) == "v3")
  }

  test("delete removes by key; re-insert after delete survives") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "t", docSchema)
    t.append(rows(("a", 1.0, "x", "2024-01-01T00:00:00Z"),
      ("b", 2.0, "x", "2024-01-01T00:00:00Z")))
    import spark.implicits._
    t.delete(Seq("a").toDF("_id"), Seq("_id"))
    assert(t.read().collect().map(_.getString(0)).toSeq == Seq("b"))
    t.append(rows(("a", 9.0, "reborn", "2024-02-01T00:00:00Z")))
    assert(t.read().orderBy("_id").collect().map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("partition transforms cluster files and store derived columns in-file") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "t", docSchema,
      partitioning = Seq(PartitionConfig("order_ts", "month"), PartitionConfig("_id", "bucket[4]")))
    t.append(rows(("a", 1.0, "x", "2024-01-05T00:00:00Z"),
      ("b", 2.0, "x", "2024-02-06T00:00:00Z")))
    // derived columns are physical data columns (metadata-pruned reads)
    val raw = spark.read.parquet(t.meta.liveDataFiles.map(f => s"${t.location}/$f"): _*)
    assert(raw.columns.contains("_p_order_ts_month"))
    assert(raw.columns.contains("_p__id_bucket_4_"))
    assert(raw.select("_p_order_ts_month").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("2024-01", "2024-02"))
    assert(t.read().count() == 2) // partition cols hidden from logical view
    assert(t.read().columns.toSeq == docSchema.fieldNames.toSeq)
  }

  test("regression: partitioned table read across MANY commits (no hive-discovery conflict)") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "t", docSchema,
      partitioning = Seq(PartitionConfig("order_ts", "month")))
    (1 to 4).foreach { i =>
      t.append(rows((s"k$i", i.toDouble, "x", s"2024-0$i-05T00:00:00Z")))
    }
    t.upsert(rows(("k1", 9.0, "upd", "2024-01-06T00:00:00Z")), Seq("_id"))
    assert(t.read().count() == 4)
    assert(t.read().filter(col("status") === "upd").count() == 1)
  }

  test("MoR replay determinism: replaying the same upsert batch twice (at-least-once) converges") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "t", docSchema)
    val batch = rows(("a", 5.0, "v1", "2024-01-01T00:00:00Z"))
    t.upsert(batch, Seq("_id"))
    t.upsert(batch, Seq("_id")) // crash-replay of the same batch
    val got = t.read().collect()
    assert(got.length == 1 && got.head.getDouble(1) == 5.0)
  }

  test("compaction rewrites to one snapshot, result unchanged, files shrink") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "t", docSchema)
    (1 to 5).foreach { i =>
      t.upsert(rows((s"k${i % 3}", i.toDouble, s"v$i", "2024-01-01T00:00:00Z")), Seq("_id"))
    }
    val before = t.read().orderBy("_id").collect().map(r => (r.getString(0), r.getString(2))).toSeq
    val filesBefore = t.meta.liveDataFiles.size + t.meta.liveDeleteFiles.size
    t.compact()
    val after = t.read().orderBy("_id").collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(after == before)
    assert(t.meta.snapshots.map(_.operation) == Seq("rewrite"))
    assert(t.meta.liveDeleteFiles.isEmpty)
    assert(t.meta.liveDataFiles.size <= filesBefore)
    // expiry drops orphaned commit dirs + old metadata versions — but
    // only past the grace TTL: a young unreferenced dir may belong to a
    // concurrent committer that has not published yet
    val dataDir = new java.io.File(s"$wh/ns/t/data")
    val live = t.meta.liveDataFiles.map(_.split('/')(1)).toSet
    val orphansBefore = dataDir.listFiles.count(d => !live.contains(d.getName))
    assert(orphansBefore > 0)
    t.expireSnapshots(keepVersions = 1) // default grace: young orphans SURVIVE
    assert(dataDir.listFiles.count(d => !live.contains(d.getName)) == orphansBefore)
    t.expireSnapshots(keepVersions = 1, orphanGraceMs = -1L) // grace off → GC
    assert(dataDir.listFiles.forall(d => live.contains(d.getName)))
    val t2 = IceliteTable.load(spark, wh, "ns", "t")
    assert(t2.read().orderBy("_id").collect()
      .map(r => (r.getString(0), r.getString(2))).toSeq == before)
  }

  test("partition-spec evolution: old files keep pruning on the retired spec, no rewrite") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "evo", docSchema,
      Seq(PartitionConfig("order_ts", "month")))
    t.append(rows(("a", 10.0, "new", "2024-01-05T00:00:00Z")))
    t.append(rows(("b", 20.0, "new", "2024-03-05T00:00:00Z")))
    val filesBefore = t.meta.liveDataFiles

    t.evolvePartitioning(Seq(PartitionConfig("status", "identity")))
    assert(t.meta.partitioning.map(_.transform) == Seq("identity"))
    assert(t.retiredPartitioning == Seq(PartitionConfig("order_ts", "month")))
    // metadata-only: no data file was rewritten
    assert(t.meta.liveDataFiles == filesBefore)

    // new-spec write + old-spec write coexist
    t.append(rows(("c", 30.0, "paid", "2024-01-20T00:00:00Z")))

    // range read on the RETIRED spec column: old files prune by their
    // stored stats, the new-spec file is kept (no stat) and filtered
    // row-level by the recomputed transform
    val jan = t.readRange("_p_order_ts_month", Some("2024-01"), Some("2024-01"))
      .orderBy("_id").collect()
    assert(jan.map(_.getString(0)).toSeq == Seq("a", "c"))
    // b's March file is pruned from metadata alone; a's old-spec file
    // and c's new-spec (stat-less on the retired column) file remain
    val pruned = t.pruneDataFiles("_p_order_ts_month", Some("2024-01"), Some("2024-01"))
    assert(pruned.size == t.meta.liveDataFiles.size - 1)

    // full read sees all spec generations; reload round-trips the
    // retired spec through the metadata JSON
    assert(t.read().count() == 3)
    val t2 = IceliteTable.load(spark, wh, "ns", "evo")
    assert(t2.retiredPartitioning == Seq(PartitionConfig("order_ts", "month")))
    assert(t2.readRange("_p_order_ts_month", Some("2024-01"), Some("2024-01")).count() == 2)
    // compaction migrates everything to the CURRENT spec in one rewrite
    t2.compact()
    assert(t2.read().count() == 3)
    assert(t2.meta.snapshots.map(_.operation) == Seq("rewrite"))
  }

  test("metadata tables: history mirrors commits, files carries manifests + stats") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "md", docSchema,
      Seq(PartitionConfig("order_ts", "month")))
    t.append(rows(("a", 10.0, "new", "2024-01-05T00:00:00Z")))
    t.upsert(rows(("a", 11.0, "paid", "2024-02-05T00:00:00Z")), Seq("_id"))
    val hist = t.historyTable().orderBy("seq").collect()
    assert(hist.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "append"), (2L, "upsert")))
    assert(hist.map(_.getLong(5)).toSeq == Seq(1L, 1L))
    val files = t.filesTable().collect()
    assert(files.count(_.getString(1) == "data") == t.meta.liveDataFiles.size)
    assert(files.count(_.getString(1) == "delete") == t.meta.liveDeleteFiles.size)
    // every data file of the month-partitioned table carries min/max
    // stats for the derived partition column
    files.filter(_.getString(1) == "data").foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](4).nonEmpty, r.getString(0))
    }
  }

  test("cold compaction folds only the cold prefix; hot tail untouched; result unchanged") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "cold", docSchema)
    t.append(rows(("a", 10.0, "new", "2024-01-05T00:00:00Z")))
    t.append(rows(("b", 20.0, "new", "2024-01-06T00:00:00Z")))
    t.upsert(rows(("a", 11.0, "paid", "2024-01-07T00:00:00Z")), Seq("_id"))
    // hot tail: two most recent commits
    t.upsert(rows(("c", 30.0, "new", "2024-01-08T00:00:00Z")), Seq("_id"))
    t.delete(rows(("b", 0.0, "x", "2024-01-09T00:00:00Z")).select("_id"), Seq("_id"))
    val before = t.read().orderBy("_id").collect().map(r => (r.getString(0), r.getDouble(1)))
    val hotBefore = t.meta.snapshots.takeRight(2)

    val cut = t.compactCold(keepHotCommits = 2)
    assert(cut.contains(3L))
    // hot snapshots byte-identical; cold prefix collapsed to one rewrite
    val snaps = t.meta.snapshots
    assert(snaps.takeRight(2) == hotBefore)
    assert(snaps.head.operation == "rewrite-cold" && snaps.head.seq == 3L)
    assert(snaps.head.deleteFiles.isEmpty)
    // cold deletes folded away, hot delete file retained
    assert(t.meta.liveDeleteFiles.nonEmpty)
    assert(t.meta.liveDeleteFiles.forall(f => hotBefore.flatMap(_.deleteFiles).contains(f)))
    // result identical (including the hot delete of b and upsert of a)
    val after = t.read().orderBy("_id").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(after.toSeq == before.toSeq)
    assert(after.map(_._1).toSeq == Seq("a", "c"))
    // reload from disk agrees (metadata round-trips the synthetic snapshot)
    assert(IceliteTable.load(spark, wh, "ns", "cold").read().count() == 2)
    // rewritten rows keep their original seqs: a's live version was
    // written at seq 3, so time travel at the cutoff still shows it
    assert(t.readAt(3L).filter(col("_id") === "a").head().getDouble(1) == 11.0)
    // hot deletes must NOT leak into history: b was deleted at seq 5,
    // so the folded seq-3 state still shows it
    assert(t.readAt(3L).filter(col("_id") === "b").head().getDouble(1) == 20.0)
    assert(t.readAt(3L).count() == 2)
    // idempotent: the surviving cold prefix is one rewrite-cold
    // snapshot — the next maintenance cycle must NOT rewrite the table
    assert(t.compactCold(keepHotCommits = 2).isEmpty)
    // a metadata-only snapshot aging into the cold window must not
    // trigger a spurious rewrite: collapse fully, evolve the schema,
    // land two hot commits — the cold prefix is then exactly
    // [rewrite-cold, evolve], which holds nothing foldable
    assert(t.compactCold(keepHotCommits = 0).nonEmpty)
    t.addColumns(StructType(Seq(StructField("note", StringType))))
    t.append(rows(("d", 40.0, "new", "2024-01-10T00:00:00Z"))) // conformed: note=null
    t.append(rows(("e", 50.0, "new", "2024-01-11T00:00:00Z")))
    assert(t.compactCold(keepHotCommits = 2).isEmpty)
    // nothing cold at all → no-op
    assert(t.compactCold(keepHotCommits = 5).isEmpty)
  }

  test("evolvePartitioning rejects unknown transforms and unknown fields") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "evoval", docSchema)
    intercept[Exception] {
      t.evolvePartitioning(Seq(PartitionConfig("order_ts", "moth")))
    }
    intercept[IllegalArgumentException] {
      t.evolvePartitioning(Seq(PartitionConfig("nope", "month")))
    }
    // nothing was committed by the failed attempts
    assert(t.meta.snapshots.isEmpty && t.retiredPartitioning.isEmpty)
  }

  test("session-timezone guard: date-partitioned writes/range reads reject a TZ change") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "tzpin", docSchema,
      Seq(PartitionConfig("order_ts", "month")))
    t.append(rows(("a", 10.0, "new", "2024-01-05T00:00:00Z")))
    val orig = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      intercept[IllegalStateException] {
        t.append(rows(("b", 20.0, "new", "2024-02-05T00:00:00Z")))
      }
      intercept[IllegalStateException] {
        t.readRange("_p_order_ts_month", Some("2024-01"), Some("2024-01")).collect()
      }
    } finally spark.conf.set("spark.sql.session.timeZone", orig)
    // back under the pinned timezone everything works again
    t.append(rows(("b", 20.0, "new", "2024-02-05T00:00:00Z")))
    assert(t.readRange("_p_order_ts_month", Some("2024-01"), Some("2024-01")).count() == 1)
  }

  test("schema evolution: added column is null for old rows, filled for new") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "t", docSchema)
    t.append(rows(("a", 1.0, "x", "2024-01-01T00:00:00Z")))
    t.addColumns(StructType(Seq(StructField("note", StringType))))
    val withNote = t.read().withColumn("note", lit("added")).filter(col("_id") === "zzz")
    // append a row carrying the new column
    val newRow = rows(("b", 2.0, "y", "2024-01-02T00:00:00Z")).withColumn("note", lit("hello"))
    t.append(newRow)
    val got = t.read().orderBy("_id").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(got(0).isNullAt(4) && got(1).getString(4) == "hello")
  }

  test("optimistic commit: concurrent appends both land (retry loop)") {
    val wh = freshWarehouse()
    val t1 = IceliteTable.create(spark, wh, "ns", "t", docSchema)
    val t2 = IceliteTable.load(spark, wh, "ns", "t")
    t1.append(rows(("a", 1.0, "x", "2024-01-01T00:00:00Z")))
    // t2 commits against a stale head → must retry and succeed
    t2.append(rows(("b", 2.0, "y", "2024-01-01T00:00:00Z")))
    t1.refresh()
    assert(t1.read().count() == 2)
  }

  test("create twice fails; load of missing table fails") {
    val wh = freshWarehouse()
    IceliteTable.create(spark, wh, "ns", "t", docSchema)
    intercept[IllegalStateException](IceliteTable.create(spark, wh, "ns", "t", docSchema))
    intercept[IllegalStateException](IceliteTable.load(spark, wh, "ns", "missing"))
  }

  test("zorder compaction: rows unchanged, files prune on EVERY z dimension, property persists") {
    val wh = freshWarehouse()
    val gridSchema = StructType(Seq(
      StructField("_id", StringType), StructField("x", LongType), StructField("y", LongType)))
    val t = IceliteTable.create(spark, wh, "ns", "zgrid", gridSchema)
    // a 64×64 grid: x and y are fully independent, so any single-key
    // sort layout can only ever prune on ONE of them
    val grid = spark.range(4096).select(
      concat(lit("d"), col("id")).as("_id"),
      (col("id") % 64).as("x"), (col("id") / 64).as("y"))
    t.append(grid)
    t.compact(targetFileMB = 256, zorderBy = Seq("x", "y"), numFilesOverride = Some(16))

    // values untouched by the layout rewrite
    val sums = t.read().agg(sum("x"), sum("y")).head()
    assert(t.read().count() == 4096)
    assert(sums.getLong(0) == 4096L * 63 / 2 && sums.getLong(1) == 4096L * 63 / 2)

    // metadata pruning works on BOTH dimensions: a quarter-range query
    // keeps at most half the files on either axis
    val total = t.meta.liveDataFiles.size
    assert(total > 4)
    val px = t.pruneDataFiles("x", Some("0"), Some("15"))
    val py = t.pruneDataFiles("y", Some("0"), Some("15"))
    assert(px.size <= total / 2, s"x-prune kept ${px.size}/$total")
    assert(py.size <= total / 2, s"y-prune kept ${py.size}/$total")

    // property survives reload; pruning still available from cold metadata
    val t2 = IceliteTable.load(spark, wh, "ns", "zgrid")
    assert(t2.meta.properties(IceliteTable.ZorderColumnsProp) == "x,y")
    assert(t2.pruneDataFiles("y", Some("48"), None).size <= total / 2)
  }

  test("merge: conditional update/delete/insert in one snapshot; t-references; dup source rejected") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "mrg", docSchema)
    t.append(rows(
      ("a", 10.0, "new", "2024-01-01T00:00:00Z"),
      ("b", 20.0, "new", "2024-01-01T00:00:00Z"),
      ("c", 30.0, "paid", "2024-01-01T00:00:00Z"),
      ("k", 40.0, "new", "2024-01-01T00:00:00Z")))
    // source: update a (changed total), keep c (t-condition false: total
    // unchanged → skip), delete b, insert d; k untouched (not in source)
    val src = rows(
      ("a", 11.0, "new", "2024-01-02T00:00:00Z"),
      ("b", 0.0, "gone", "2024-01-02T00:00:00Z"),
      ("c", 30.0, "paid", "2024-01-02T00:00:00Z"),
      ("d", 44.0, "new", "2024-01-02T00:00:00Z"))
    val stats = t.merge(src, Seq("_id"),
      matchedUpdate = Some(col("s.total") =!= col("t.total")),
      matchedDelete = Some(col("s.status") === "gone"))
    assert(stats == IceliteTable.MergeStats(2L, inserted = 1, updated = 1, deleted = 1))
    assert(t.meta.snapshots.map(_.operation) == Seq("append", "merge")) // ONE commit
    val got = t.read().orderBy("_id").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == Seq(("a", 11.0), ("c", 30.0), ("d", 44.0), ("k", 40.0)))

    // changelog sees merge updates as proper pre/post pairs
    val types = t.readChanges(1, 2).collect()
      .map(r => (r.getAs[String]("_id"), r.getAs[String]("_change_type"))).sorted.toSeq
    assert(types == Seq(("a", "update_postimage"), ("a", "update_preimage"),
      ("b", "delete"), ("d", "insert")))

    // no-op merge commits nothing
    val noop = t.merge(src.filter(col("_id") === "c"), Seq("_id"),
      matchedUpdate = Some(col("s.total") =!= col("t.total")))
    assert(noop == IceliteTable.MergeStats(2L, 0, 0, 0) && t.meta.lastSeq == 2L)

    // duplicate source keys are ambiguous → rejected
    intercept[IllegalArgumentException](t.merge(src.unionAll(src), Seq("_id")))
  }

  test("readChanges: insert / update pair / delete preimages; replay rebuilds the target state") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "cdc", docSchema)
    t.append(rows( // s1
      ("a", 10.0, "new", "2024-01-01T00:00:00Z"),
      ("b", 20.0, "new", "2024-01-01T00:00:00Z"),
      ("c", 30.0, "new", "2024-01-01T00:00:00Z")))
    t.upsert(rows(("a", 99.0, "paid", "2024-01-02T00:00:00Z")), Seq("_id")) // s2
    t.delete(rows(("b", 20.0, "new", "2024-01-01T00:00:00Z")).select("_id"), Seq("_id")) // s3
    t.append(rows(("d", 40.0, "new", "2024-01-03T00:00:00Z"))) // s4
    t.upsert(rows(("e", 50.0, "new", "2024-01-04T00:00:00Z")), Seq("_id")) // s5: upsert of a NEW key
    t.delete(rows(("b", 0.0, "x", "2024-01-01T00:00:00Z")).select("_id"), Seq("_id")) // s6: key already dead

    val ch = t.readChanges(1, 6)
      .select("_change_type", "_commit_seq", "_id", "total")
      .orderBy("_commit_seq", "_change_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(ch.toSeq == Seq(
      ("update_postimage", 2L, "a", 99.0),
      ("update_preimage", 2L, "a", 10.0),
      ("delete", 3L, "b", 20.0), // preimage carries the pre-delete values
      ("insert", 4L, "d", 40.0),
      ("insert", 5L, "e", 50.0))) // upsert of an unseen key is an insert, not an update
      // s6 emits nothing: the equality delete matched no live row

    // full-range changelog also reports the initial appends
    assert(t.readChanges(0, 1).collect().forall(_.getAs[String]("_change_type") == "insert"))
    assert(t.readChanges(6, 6).isEmpty)

    // replay invariant: applying the per-key LAST change onto readAt(from)
    // reproduces readAt(to) exactly
    val changes = t.readChanges(1, 6)
    val lastPerKey = changes
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("_id")
          .orderBy(col("_commit_seq").desc,
            // postimage outranks its same-commit preimage
            when(col("_change_type") === "update_postimage", 1).otherwise(0).desc)))
      .filter(col("rn") === 1).drop("rn")
    val replayed = t.readAt(1).join(lastPerKey.select("_id"), Seq("_id"), "left_anti")
      .unionByName(lastPerKey
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type", "_commit_seq"))
    val want = t.readAt(6).orderBy("_id").collect().toSeq
    assert(replayed.orderBy("_id").collect().toSeq == want)

    // maintenance snapshots break changelog derivability → explicit error
    t.compact()
    intercept[IllegalStateException](t.readChanges(1, t.meta.lastSeq))
  }

  test("zorder compaction rejects unknown and non-integral columns") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "zbad", docSchema)
    t.append(rows(("a", 1.0, "x", "2024-01-01T00:00:00Z")))
    intercept[IllegalArgumentException](
      t.compact(targetFileMB = 256, zorderBy = Seq("nope"), numFilesOverride = None))
    intercept[IllegalArgumentException](
      t.compact(targetFileMB = 256, zorderBy = Seq("total"), numFilesOverride = None))
  }

  test("analyze publishes column stats in metadata; statsTable reads them back") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "stats", docSchema)
    assert(t.statsTable().count() == 0) // never analyzed yet
    t.upsert(rows(
      ("a", 10.0, "new", "2024-01-05T00:00:00Z"),
      ("b", 10.0, "new", "2024-01-06T00:00:00Z"),
      ("c", 30.0, null, "2024-01-07T00:00:00Z")), Seq("_id"))
    val seq = t.analyze(Seq("_id", "total", "status"))
    assert(t.meta.snapshots.last.operation == "analyze" && t.meta.lastSeq == seq)
    val st = t.statsTable().collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // n < k: the KMV estimate is the exact distinct count
    assert(st("_id") == ((3L, 0L, 3L, 3L)))
    assert(st("total") == ((3L, 0L, 2L, 2L))) // 10.0 twice, 30.0 once
    assert(st("status") == ((3L, 1L, 1L, 1L))) // one null, one distinct value
    // a later analyze supersedes (stats follow the data)
    t.delete(rows(("c", 0.0, "x", "2024-01-07T00:00:00Z")).select("_id"), Seq("_id"))
    t.analyze(Seq("status"))
    val st2 = t.statsTable().collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(st2.keySet == Set("status"))
    assert(st2("status") == ((2L, 0L, 1L)))
  }

  test("analyze hashes doubles by canonical hex-float: NaNs and ±0 collapse, extremes stay distinct") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "canon", docSchema)
    val vals = Seq(0.0, -0.0, Double.NaN, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity,
      1.0e7, 12345678.9, 1.5e300, 1.0e-320)
    t.append(rows(vals.zipWithIndex.map { case (v, i) =>
      (s"r$i", v, "x", "2024-01-05T00:00:00Z")
    }: _*))
    t.analyze(Seq("total"))
    val st = t.statsTable().collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // 10 values, but -0.0 ≡ 0.0 and the NaNs collapse to one token:
    // 8 distinct canonical encodings, counted exactly (n < k)
    assert(st("total") == 8L)
  }

  test("analyzeIncremental: delta-only fold ≡ full recompute; no-op and delete-fallback paths") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "statsincr", docSchema)
    val batch1 = Seq(
      ("a", 10.0, "new", "2024-01-05T00:00:00Z"),
      ("b", 20.0, null, "2024-01-06T00:00:00Z"))
    val batch2 = Seq(
      ("c", 10.0, "paid", "2024-01-07T00:00:00Z"),
      ("d", 40.0, "paid", "2024-01-08T00:00:00Z"),
      ("e", 50.0, null, "2024-01-09T00:00:00Z"),
      ("f", 60.0, "ship", "2024-01-10T00:00:00Z"))
    // k=4 < the 6 distinct _id hashes → the saturated-estimate merge
    // path runs, not just the exact small-n path; order_ts (timestamp,
    // no portable ordered encoding) proves the null-bounds corner
    t.append(rows(batch1: _*))
    t.analyze(Seq("_id", "total", "status", "order_ts"), k = 4)
    t.append(rows(batch2: _*))
    val seq = t.analyzeIncremental()
    assert(t.meta.lastSeq == seq && t.meta.snapshots.last.operation == "analyze")
    def statsOf(x: IceliteTable) = x.statsTable().orderBy("column").collect().map(_.toSeq).toSeq
    // bit-equal to analyzing the full table from scratch (same k)
    val full = IceliteTable.create(spark, wh, "ns", "statsfull", docSchema)
    full.append(rows((batch1 ++ batch2): _*))
    full.analyze(Seq("_id", "total", "status", "order_ts"), k = 4)
    assert(statsOf(t) == statsOf(full))
    // bounds folded typed-correctly: the delta raised the max (60.0 →
    // hex-float 0x1.ep5) while the min stayed in the base batch; the
    // timestamp column publishes no bounds
    val bounds = t.statsTable().collect()
      .map(r => r.getString(0) -> ((r.getString(5), r.getString(6)))).toMap
    assert(bounds("_id") == (("a", "f")))
    assert(bounds("total") == (("0x1.4p3", "0x1.ep5")))
    assert(bounds("order_ts") == ((null, null)))
    // nothing new committed → returns the existing seq, writes nothing
    val nSnaps = t.meta.snapshots.size
    assert(t.analyzeIncremental() == seq)
    assert(t.meta.snapshots.size == nSnaps)
    // a delete since the base can't be subtracted from sketches →
    // the call falls back to one full re-analyze and stays correct
    t.delete(rows(("a", 0.0, "x", "2024-01-05T00:00:00Z")).select("_id"), Seq("_id"))
    t.analyzeIncremental()
    val st = t.statsTable().collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(st("_id") == ((5L, 0L)))
    assert(st("status") == ((5L, 2L)))
  }

  test("analyzeHistogram: frozen-bounds buckets, exact intervals, incremental fold clamps late values") {
    val wh = freshWarehouse()
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("_id", StringType), StructField("v", LongType)))
    def df(vs: Long*) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        vs.map(v => org.apache.spark.sql.Row(s"k$v", v)).asJava, sch)
    }
    val t = IceliteTable.create(spark, wh, "ns", "hist", sch)
    assert(t.histogramTable().count() == 0)
    intercept[IllegalStateException](t.analyzeHistogram(Seq("v"))) // analyze first
    // base: v in [0, 7], 4 buckets of width exactly 2
    t.append(df(0L, 1L, 2L, 7L))
    t.analyze(Seq("v"))
    intercept[IllegalArgumentException](t.analyzeHistogram(Seq("_id"))) // not integral
    t.analyzeHistogram(Seq("v"), buckets = 4)
    def cells(x: IceliteTable) = x.histogramTable().orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // intervals partition [0, 7] exactly; counts by hand
    assert(cells(t) == Seq((0L, 0L, 1L, 2L), (1L, 2L, 3L, 1L), (2L, 4L, 5L, 0L), (3L, 6L, 7L, 1L)))
    // append in-range AND out-of-range values; the fold adds counts
    // under the FROZEN bounds, clamping 9 into the top bucket
    t.append(df(3L, 4L, 9L))
    t.analyzeIncremental()
    assert(cells(t) == Seq((0L, 0L, 1L, 2L), (1L, 2L, 3L, 2L), (2L, 4L, 5L, 1L), (3L, 6L, 7L, 2L)))
    // the fold is bit-equal to a full recompute under the SAME bounds:
    // a fresh table with all 7 rows, analyzed to the same [0, 7]
    // bounds (9 present but bounds frozen is the incremental contract,
    // so compare the three in-range buckets + clamped top)
    val full = IceliteTable.create(spark, wh, "ns", "histfull", sch)
    full.append(df(0L, 1L, 2L, 7L, 3L, 4L, 9L))
    full.analyze(Seq("v"))
    // full analyze sees max 9 → different bounds; histogram still
    // covers every row (its own contract), 4 buckets over [0, 9]
    full.analyzeHistogram(Seq("v"), buckets = 4)
    assert(cells(full).map(_._4).sum == 7L)
    // a delete forces the full re-analyze path, which DROPS the
    // histogram (bounds re-base; re-run analyzeHistogram to restore)
    t.delete(df(9L).select("_id"), Seq("_id"))
    t.analyzeIncremental()
    assert(t.histogramTable().count() == 0)
    t.analyzeHistogram(Seq("v"), buckets = 4)
    assert(t.histogramTable().count() == 4)
  }

  test("trackStats + readStatRange: declared-column file skipping, conservative pre-declaration, MoR-exact") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "statskip", docSchema)
    // file written BEFORE the declaration: no stats recorded → every
    // later prune must keep it
    t.append(rows(("pre", 5.0, "old", "2024-01-01T00:00:00Z")))
    intercept[IllegalArgumentException](t.readStatRange("_id", Some("a"), Some("b")))
    // only integral/string columns are declarable
    intercept[IllegalArgumentException](t.trackStats(Seq("total")))
    intercept[IllegalArgumentException](t.trackStats(Seq("nope")))
    t.trackStats(Seq("_id"))
    // three post-declaration files with disjoint _id ranges
    t.append(rows(("a1", 1.0, "x", "2024-01-02T00:00:00Z"),
      ("a9", 2.0, "x", "2024-01-02T00:00:00Z")))
    t.append(rows(("m1", 3.0, "y", "2024-01-03T00:00:00Z"),
      ("m9", 4.0, "y", "2024-01-03T00:00:00Z")))
    t.append(rows(("z1", 5.0, "z", "2024-01-04T00:00:00Z"),
      ("z9", 6.0, "z", "2024-01-04T00:00:00Z")))
    // metadata keep-set: the middle band plus the statless pre file
    val kept = t.pruneDataFiles("_id", Some("m0"), Some("mz")).toSet
    assert(kept.size == 2, s"expected middle file + pre-declaration file, got $kept")
    // the pruned read is row-exact, including under a later DELETE
    // whose delete file is never pruned
    assert(t.readStatRange("_id", Some("m0"), Some("mz"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("m1", "m9"))
    t.delete(rows(("m9", 0.0, "x", "2024-01-04T00:00:00Z")).select("_id"), Seq("_id"))
    assert(t.readStatRange("_id", Some("m0"), Some("mz"))
      .collect().map(_.getString(0)).toSeq == Seq("m1"))
    // open-ended range; the statless file always survives pruning and
    // its rows row-filter correctly
    assert(t.readStatRange("_id", None, Some("a9"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a1", "a9"))
  }

  test("key blooms: prune hash-scattered files bounds cannot, conservative for uncovered, MoR-exact") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "bloomkeys", docSchema)
    intercept[IllegalStateException](t.readForKeys(Seq("a1")))
    // three files with fully OVERLAPPING _id ranges [a*, z*] — min/max
    // bounds keep all three for any probe; only a bloom can skip
    t.append(rows(("a1", 1.0, "x", "2024-01-02T00:00:00Z"),
      ("z1", 2.0, "x", "2024-01-02T00:00:00Z")))
    t.append(rows(("a2", 3.0, "y", "2024-01-03T00:00:00Z"),
      ("z2", 4.0, "y", "2024-01-03T00:00:00Z")))
    t.append(rows(("a3", 5.0, "z", "2024-01-04T00:00:00Z"),
      ("z3", 6.0, "z", "2024-01-04T00:00:00Z")))
    assert(t.buildKeyBlooms("_id") == 3)
    assert(t.buildKeyBlooms("_id") == 0) // fully covered → no-op
    intercept[IllegalArgumentException](t.buildKeyBlooms("status")) // one bloom column per table
    // string-hash probe keeps exactly the carrier file (fpp ~1% on 3
    // files — a false positive would add a file, never lose the row)
    assert(t.pruneByBlooms(Seq("z2")).size <= 2)
    assert(t.pruneByBlooms(Seq("z2")).nonEmpty)
    assert(t.readForKeys(Seq("z2")).collect().map(_.getString(0)).toSeq == Seq("z2"))
    // a file appended AFTER the build has no bloom → always kept, and
    // its rows are findable before any re-build
    t.append(rows(("m9", 7.0, "w", "2024-01-05T00:00:00Z")))
    assert(t.readForKeys(Seq("m9")).collect().map(_.getString(0)).toSeq == Seq("m9"))
    assert(t.buildKeyBlooms("_id") == 1) // fold: only the new file scans
    // MoR: a keyed delete wins over the pruned read
    t.delete(rows(("z2", 0.0, "x", "2024-01-03T00:00:00Z")).select("_id"), Seq("_id"))
    assert(t.readForKeys(Seq("z2", "a3")).collect().map(_.getString(0)).toSeq == Seq("a3"))
    // an absent key returns empty (usually zero files even read)
    assert(t.readForKeys(Seq("nope")).count() == 0)
  }

  test("ANALYZE stats drive the MoR delete-side broadcast decision") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "statsbc", docSchema)
    t.upsert(rows(
      ("a", 10.0, "new", "2024-01-05T00:00:00Z"),
      ("b", 20.0, "new", "2024-01-06T00:00:00Z"),
      ("c", 30.0, "new", "2024-01-07T00:00:00Z")), Seq("_id"))
    t.upsert(rows(
      ("a", 11.0, "paid", "2024-01-08T00:00:00Z"),
      ("b", 21.0, "paid", "2024-01-09T00:00:00Z")), Seq("_id"))
    def hinted = t.read().queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast")
    def state = t.read().orderBy("_id").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val expected = Seq(("a", 11.0), ("b", 21.0), ("c", 30.0))
    assert(state == expected)
    val savedBytes = t.maxBroadcastDeleteBytes
    val savedRowBytes = t.estDeleteKeyRowBytes
    try {
      // raw delete parquet files far exceed 512 B at rest, so the
      // stats-free byte guard withdraws the broadcast hint...
      t.maxBroadcastDeleteBytes = 512L
      assert(!hinted, "without stats the oversized raw delete files must shuffle")
      // ...but the folded delete set is ~NDV(_id) rows: once an
      // analyze snapshot covers the key, the estimate (3 keys × 64 B
      // ≤ 512 B) flips the decision back to broadcast
      t.analyze(Seq("_id"))
      assert(hinted, "stats covering the key must restore the broadcast")
      assert(state == expected, "the decision flip must not change results")
      // precedence: a stats estimate ABOVE the bound vetoes broadcast
      // even when the byte guard alone would have allowed it
      t.maxBroadcastDeleteBytes = savedBytes // 256 MB: bytes say broadcast
      t.estDeleteKeyRowBytes = 1L << 30
      assert(!hinted, "an over-bound stats estimate must veto the broadcast")
      // an analyze snapshot NOT covering the key columns is no planner
      // input — the byte guard decides again
      t.estDeleteKeyRowBytes = savedRowBytes
      t.analyze(Seq("status"))
      assert(hinted, "a non-covering analyze must fall back to the byte guard")
      assert(state == expected)
    } finally {
      t.maxBroadcastDeleteBytes = savedBytes
      t.estDeleteKeyRowBytes = savedRowBytes
    }
  }

  test("equality deletes: the raw broadcast anti-join and the folded shuffle path agree") {
    val wh = freshWarehouse()
    val t = IceliteTable.create(spark, wh, "ns", "eqpaths", docSchema)
    t.append(rows(
      ("a", 1.0, "new", "2024-01-01T00:00:00Z"),
      ("b", 2.0, "new", "2024-01-01T00:00:00Z"),
      ("c", 3.0, "new", "2024-01-01T00:00:00Z"),
      (null, 4.0, "nokey", "2024-01-01T00:00:00Z")))
    // same-seq upsert pair: the new image of "a" survives its own delete
    t.upsert(rows(("a", 10.0, "paid", "2024-01-02T00:00:00Z")), Seq("_id"))
    // repeated deletes of one key, one of them after a re-insert
    t.delete(rows(("b", 0.0, "", "2024-01-03T00:00:00Z")).select("_id"), Seq("_id"))
    t.upsert(rows(("b", 20.0, "back", "2024-01-04T00:00:00Z")), Seq("_id"))
    t.delete(rows(("b", 0.0, "", "2024-01-05T00:00:00Z")).select("_id"), Seq("_id"))
    t.delete(rows(("b", 0.0, "", "2024-01-06T00:00:00Z")).select("_id"), Seq("_id"))
    // a NULL delete key matches nothing; the NULL-keyed row survives
    t.delete(rows((null, 0.0, "", "2024-01-07T00:00:00Z")).select("_id"), Seq("_id"))
    t.upsert(rows(("c", 30.0, "paid", "2024-01-08T00:00:00Z")), Seq("_id"))
    val expected = Seq(
      (null, 4.0, "nokey"), ("a", 10.0, "paid"), ("c", 30.0, "paid"))
    def state = t.read().orderBy("_id").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
    def plan = t.read().queryExecution.optimizedPlan.toString
    assert(state == expected)
    assert(plan.contains("strategy=broadcast") && !plan.contains("Aggregate"),
      s"under the byte guard the raw delete rows broadcast unfolded:\n$plan")
    val saved = t.maxBroadcastDeleteBytes
    try {
      t.maxBroadcastDeleteBytes = 1L
      assert(plan.contains("Aggregate") && !plan.contains("strategy=broadcast"),
        s"past the byte guard the delete rows fold and lose the hint:\n$plan")
      assert(state == expected, "the folded path must read identically")
      val travelled = t.readAt(3).orderBy("_id").collect().map(_.getString(0)).toSeq
      assert(travelled == Seq(null, "a", "c"))
    } finally t.maxBroadcastDeleteBytes = saved
    assert(t.readAt(3).orderBy("_id").collect().map(_.getString(0)).toSeq ==
      Seq(null, "a", "c"))
  }

  test("a stale handle's commit lands at the real head after another handle's expiry") {
    val wh = freshWarehouse()
    val a = IceliteTable.create(spark, wh, "ns", "stale", docSchema)
    a.append(rows(("a", 1.0, "new", "2024-01-01T00:00:00Z")))
    val b = IceliteTable.load(spark, wh, "ns", "stale")
    (1 to 3).foreach(i =>
      b.upsert(rows((s"b$i", i.toDouble, "new", "2024-01-02T00:00:00Z")), Seq("_id")))
    b.compact()
    // every version handle A knows of, and its successors, are gone
    assert(b.expireSnapshots(keepVersions = 1) > 0)
    a.append(rows(("late", 9.0, "new", "2024-01-03T00:00:00Z")))
    val fresh = IceliteTable.load(spark, wh, "ns", "stale")
    assert(fresh.read().orderBy("_id").collect().map(_.getString(0)).toSeq ==
      Seq("a", "b1", "b2", "b3", "late"), "the stale handle's append was lost")
    assert(fresh.meta.lastSeq == a.meta.lastSeq)
  }
}
