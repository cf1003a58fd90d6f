package graft.table

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.config.PartitionConfig

/** Named snapshot refs (branches/tags) and the `partitions` metadata
  * table — the table-layer surfaces after rollback: metadata-only ref
  * CRUD, time-travel reads through refs, explicit expiry when a
  * rewrite collapses the referenced history, and exact MoR partition
  * record counts.
  */
class IceliteRefsSpec extends AnyFunSuite with SparkFixture {

  private def wh(): String = Files.createTempDirectory("icelite-refs").toString

  private def rows(data: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    data.toDF("id", "grp", "score")
  }

  test("tag and branch: create, read, fast-forward, drop; refsTable lists them") {
    val t = IceliteTable.create(spark, wh(), "ns", "refs", rows().schema)
    t.upsert(rows((1L, "a", 1.0), (2L, "a", 2.0)), Seq("id"))
    t.createTag("v1", t.meta.lastSeq)
    t.createBranch("audit") // at head = v1's seq
    t.upsert(rows((2L, "a", 9.0), (3L, "b", 3.0)), Seq("id"))

    // the tag and the un-advanced branch both read the OLD state
    assert(t.readRef("v1").orderBy("id").collect().map(_.getDouble(2)).toSeq ==
      Seq(1.0, 2.0))
    assert(t.readRef("audit").orderBy("id").collect().map(_.getDouble(2)).toSeq ==
      Seq(1.0, 2.0))
    // fast-forward moves the branch to head; the tag stays immutable
    t.fastForward("audit")
    assert(t.readRef("audit").orderBy("id").collect().map(_.getDouble(2)).toSeq ==
      Seq(1.0, 9.0, 3.0))
    intercept[IllegalArgumentException](t.fastForward("v1"))
    assert(t.refsTable().collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("audit", "branch"), ("v1", "tag")))
    t.dropRef("v1")
    assert(t.refs.keySet == Set("audit"))
    intercept[IllegalArgumentException](t.readRef("v1"))
  }

  test("ref validation: duplicates, unknown seqs, bad names rejected") {
    val t = IceliteTable.create(spark, wh(), "ns", "refsv", rows().schema)
    t.append(rows((1L, "a", 1.0)))
    t.createTag("v1", 1L)
    intercept[IllegalArgumentException](t.createTag("v1", 1L))       // duplicate
    intercept[IllegalArgumentException](t.createTag("v2", 99L))      // not a snapshot
    intercept[IllegalArgumentException](t.createTag("bad name", 1L)) // invalid name
    intercept[IllegalArgumentException](t.dropRef("nope"))
  }

  test("refs into collapsed or erased history fail explicitly") {
    val t = IceliteTable.create(spark, wh(), "ns", "refse", rows().schema)
    t.append(rows((1L, "a", 1.0)))
    t.createTag("old", 1L)
    t.append(rows((2L, "a", 2.0)))
    t.compact(targetFileMB = 256) // collapses history: tag expires
    val e = intercept[IllegalStateException](t.readRef("old"))
    assert(e.getMessage.contains("expired"))
    // a branch above a rolled-back head is erased, not silently head
    t.append(rows((3L, "b", 3.0)))
    t.createBranch("future") // at head
    t.rollbackTo(t.meta.snapshots.head.seq)
    val e2 = intercept[IllegalStateException](t.readRef("future"))
    assert(e2.getMessage.contains("rollback"))
  }

  test("partitions metadata table: exact MoR record counts per partition value") {
    import spark.implicits._
    val src = Seq(
      (1L, "2024-01-05", 1.0), (2L, "2024-01-20", 2.0),
      (3L, "2024-02-01", 3.0), (4L, "2024-03-10", 4.0))
      .toDF("id", "d", "score").withColumn("d", col("d").cast("date"))
    val t = IceliteTable.create(spark, wh(), "ns", "parts", src.schema,
      partitioning = Seq(PartitionConfig("d", "month")))
    t.upsert(src, Seq("id"))
    t.delete(Seq(2L).toDF("id"), Seq("id")) // MoR: count reflects the delete
    val got = t.partitionsTable().orderBy(col(IceliteTable.partColName(
      PartitionConfig("d", "month")))).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("2024-01", 1L), ("2024-02", 1L), ("2024-03", 1L)))
    // file_count is never below 1 for a populated partition
    assert(t.partitionsTable().collect().forall(_.getLong(2) >= 1L))
  }

  test("refs persist across a fresh table load (metadata round-trip)") {
    val w = wh()
    val t = IceliteTable.create(spark, w, "ns", "refsrt", rows().schema)
    t.append(rows((1L, "a", 1.0)))
    t.createTag("v1", 1L)
    t.createBranch("dev")
    val reloaded = IceliteTable.load(spark, w, "ns", "refsrt")
    assert(reloaded.refs == Map("v1" -> ("tag", 1L), "dev" -> ("branch", 1L)))
    assert(reloaded.readRef("v1").count() == 1L)
  }

  test("partitions metadata table: file counts are join-based, no per-value prune loop") {
    import spark.implicits._
    // several partition values × several files — the shape where a
    // per-value planFiles loop would fire values×columns times
    val src = (1 to 24).map(i => (i.toLong, f"2024-${i % 6 + 1}%02d-10", i.toDouble))
      .toDF("id", "d", "score").withColumn("d", col("d").cast("date"))
    val t = IceliteTable.create(spark, wh(), "ns", "partsjoin", src.schema,
      partitioning = Seq(PartitionConfig("d", "month")))
    t.append(src)
    t.append(src.withColumn("id", col("id") + 100L)) // second file set
    val before = t.planCalls.get()
    val got = t.partitionsTable().orderBy(col(IceliteTable.partColName(
      PartitionConfig("d", "month")))).collect()
    // the record counts are ONE MoR read: one plan, never one per value
    assert(t.planCalls.get() - before == 1,
      s"partitionsTable planned ${t.planCalls.get() - before} scans, want 1")
    assert(got.length == 6)
    assert(got.forall(_.getLong(1) == 8L)) // 4 ids/month × 2 appends
    assert(got.forall(_.getLong(2) >= 1L)) // ≥1 file per populated value
  }

  test("partitions metadata table: identity transform reports all files, no crash") {
    import spark.implicits._
    // identity is the config DEFAULT transform; it has no sound stat
    // ordering, so file_count must conservatively count every file
    val src = Seq((1L, "red", 1.0), (2L, "red", 2.0), (3L, "blue", 3.0))
      .toDF("id", "color", "score")
    val t = IceliteTable.create(spark, wh(), "ns", "partsid", src.schema,
      partitioning = Seq(PartitionConfig("color"))) // identity
    t.append(src)
    t.append(src.withColumn("id", col("id") + 10L))
    val total = t.meta.liveDataFiles.size.toLong
    val got = t.partitionsTable().orderBy(col(IceliteTable.partColName(
      PartitionConfig("color")))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("blue", 2L, total), ("red", 4L, total)))
  }

  test("partitions metadata table: unpartitioned tables report one row") {
    val t = IceliteTable.create(spark, wh(), "ns", "parts0", rows().schema)
    t.append(rows((1L, "a", 1.0), (2L, "b", 2.0)))
    val got = t.partitionsTable().collect()
    assert(got.length == 1 && got.head.getLong(1) == 2L)
  }

  test("snapshots metadata table: added/cumulative totals, bytes, summary") {
    val t = IceliteTable.create(spark, wh(), "ns", "snaps", rows().schema)
    t.append(rows((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)),
      summary = n => Map("marker" -> s"rows=$n"))
    t.upsert(rows((2L, "a", 9.0), (4L, "b", 4.0)), Seq("id"))
    t.delete(rows((1L, "a", 0.0)).select("id"), Seq("id"))
    val got = t.snapshotsTable().orderBy("seq").collect()
    assert(got.map(_.getString(2)).toSeq == Seq("append", "upsert", "delete"))
    // added / cumulative record totals
    assert(got.map(_.getLong(6)).toSeq == Seq(3L, 2L, 0L))
    assert(got.map(_.getLong(9)).toSeq == Seq(3L, 5L, 5L))
    // added_file_bytes present (metrics captured) and matches the files
    val metaBySeq = t.meta.snapshots.map(s => s.seq -> s).toMap
    got.foreach { r =>
      val s = metaBySeq(r.getLong(0))
      assert(!r.isNullAt(7)) // all commits post-metrics-capture
      assert(r.getLong(7) == s.dataFiles.map(f => s.fileMetrics(f)._2).sum)
      if (s.dataFiles.nonEmpty) assert(r.getLong(7) > 0)
      else assert(r.getLong(7) == 0L) // delete-only commit adds no data bytes
    }
    // commit summary travels through
    assert(got(0).getMap[String, String](10).get("marker").contains("rows=3"))
  }

  test("branch writes: staged on the ref, main isolated, publish fast-forwards") {
    val t = IceliteTable.create(spark, wh(), "ns", "bw", rows().schema)
    t.append(rows((1L, "a", 1.0)))
    t.createBranch("dev")
    t.appendToBranch("dev", rows((2L, "b", 2.0)))
    t.appendToBranch("dev", rows((3L, "c", 3.0)))
    // main untouched; branch view = base + both staged batches
    assert(t.read().count() == 1)
    assert(t.readBranch("dev").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(t.branchStages("dev").size == 2)
    val seq = t.publishBranch("dev")
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(t.refs("dev") == ("branch", seq), "publish must fast-forward the ref")
    assert(t.branchStages("dev").isEmpty, "publish must clear the stage list")
    // staged batches became ORDINARY commits (zero-rewrite publish)
    assert(t.meta.snapshots.map(_.operation).count(_ == "append") == 3)
  }

  test("branch publish survives an interleaved main commit (cherry-pick re-apply)") {
    val t = IceliteTable.create(spark, wh(), "ns", "bw2", rows().schema)
    t.append(rows((1L, "a", 1.0)))
    t.createBranch("dev")
    t.appendToBranch("dev", rows((2L, "b", 2.0)))
    t.append(rows((9L, "z", 9.0))) // main moves: staged seq is claimed
    val got = t.publishBranch("dev")
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 9L))
    assert(t.refs("dev") == ("branch", got))
  }

  test("branch writes refuse on tags and unknown refs; dropRef discards staged work") {
    val t = IceliteTable.create(spark, wh(), "ns", "bw3", rows().schema)
    t.append(rows((1L, "a", 1.0)))
    t.createTag("v1", t.meta.lastSeq)
    intercept[IllegalArgumentException](t.appendToBranch("v1", rows((2L, "b", 2.0))))
    intercept[IllegalArgumentException](t.appendToBranch("nope", rows((2L, "b", 2.0))))
    t.createBranch("dev")
    t.appendToBranch("dev", rows((3L, "c", 3.0)))
    t.dropRef("dev")
    assert(t.read().count() == 1, "dropped branch's staged rows must never surface")
    assert(t.branchStages("dev").isEmpty)
  }

  test("manifests metadata table: per-file metrics from metadata alone") {
    val w = wh()
    val t = IceliteTable.create(spark, w, "ns", "mans", rows().schema)
    t.append(rows((1L, "a", 1.0), (2L, "a", 2.0)))
    t.upsert(rows((2L, "a", 9.0), (3L, "b", 3.0), (4L, "b", 4.0)), Seq("id"))
    val rowsOut = t.manifestsTable().collect()
    // every live file has captured metrics: positive size, exact rows
    assert(rowsOut.nonEmpty)
    rowsOut.foreach { r =>
      assert(!r.isNullAt(4) && !r.isNullAt(5), s"missing metrics for ${r.getString(0)}")
      assert(r.getLong(5) > 0)
    }
    val dataRows = rowsOut.filter(_.getString(1) == "data").map(_.getLong(4)).sum
    val delRows = rowsOut.filter(_.getString(1) == "delete").map(_.getLong(4)).sum
    assert(dataRows == 5L) // 2 appended + 3 upserted physical rows
    assert(delRows == 3L) // upsert writes one delete key per batch row
    // metrics survive the JSON metadata round trip (fresh instance)
    val t2 = IceliteTable.load(spark, w, "ns", "mans")
    assert(t2.manifestsTable().collect().map(_.toSeq).toSet ==
      rowsOut.map(_.toSeq).toSet)
    // WAP: staged manifests carry metrics through publish
    val stage = t.stageAppend(rows((9L, "z", 9.9)))
    t.publishStaged(stage)
    val staged = t.manifestsTable().collect()
      .filter(r => r.getLong(2) == t.meta.lastSeq)
    assert(staged.nonEmpty && staged.forall(r => !r.isNullAt(4) && r.getLong(4) == 1L))
  }
}
