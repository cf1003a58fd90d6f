package graft.table

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Position deletes (Iceberg v2's second delete shape,
  * [[IceliteTable.deleteWhere]]): predicate deletes land as
  * (file_path, pos) coordinate files, merge on read alongside
  * equality deletes, respect time travel, fold under compaction, and
  * resolve to exact pre-image delete events in the changelog.
  */
class IcelitePosDeleteSpec extends AnyFunSuite with SparkFixture {

  private def wh(): String = Files.createTempDirectory("icelite-posdel").toString

  private def rows(data: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    data.toDF("id", "grp", "score")
  }

  private def state(t: IceliteTable): Seq[(Long, String, Double)] =
    t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  test("deleteWhere removes exactly the matching visible rows, no rewrite") {
    val t = IceliteTable.create(spark, wh(), "ns", "pd", rows().schema)
    t.append(rows((1L, "a", 1.0), (2L, "a", 9.0), (3L, "b", 5.0), (4L, "b", 9.5)))
    val filesBefore = t.meta.liveDataFiles.toSet
    t.deleteWhere(col("score") > 8.0)
    assert(t.meta.liveDataFiles.toSet == filesBefore) // MoR: no data rewrite
    assert(t.meta.snapshots.last.operation == "pos-delete")
    assert(t.meta.snapshots.last.recordCount == 2L)
    assert(state(t) == Seq((1L, "a", 1.0), (3L, "b", 5.0)))
  }

  test("no-match predicate publishes no new snapshot") {
    val t = IceliteTable.create(spark, wh(), "ns", "pd0", rows().schema)
    t.append(rows((1L, "a", 1.0)))
    val seqBefore = t.meta.lastSeq
    val snapsBefore = t.meta.snapshots.size
    t.deleteWhere(col("score") > 100.0)
    assert(t.meta.lastSeq == seqBefore && t.meta.snapshots.size == snapsBefore)
  }

  test("position + equality deletes compose; time travel sees pre-delete rows") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdmix", rows().schema)
    t.upsert(rows((1L, "a", 1.0), (2L, "a", 9.0), (3L, "b", 5.0)), Seq("id"))
    val preDelete = t.meta.lastSeq
    t.deleteWhere(col("grp") === "a" && col("score") > 8.0) // pos-deletes id 2
    t.delete(rows((3L, "b", 5.0)).select("id"), Seq("id"))  // eq-deletes id 3
    assert(state(t) == Seq((1L, "a", 1.0)))
    // upsert of a pos-deleted id is a fresh row (new physical position)
    t.upsert(rows((2L, "a", 2.0)), Seq("id"))
    assert(state(t) == Seq((1L, "a", 1.0), (2L, "a", 2.0)))
    // travel before either delete: all three original rows
    assert(t.readAt(preDelete).orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("pruned key-range read honors position deletes") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdrange", rows().schema)
    t.upsert(rows((1L, "a", 1.0), (2L, "a", 9.0), (3L, "b", 5.0)), Seq("id"))
    t.deleteWhere(col("score") > 8.0)
    val probe = rows((2L, "a", 0.0), (3L, "b", 0.0))
    val got = t.scan(t.keyRangeFilters(probe.select("id"), Seq("id")))
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L)) // id 2 pos-deleted; id 1 may prune, ids asked for are exact
  }

  test("pos-delete merge plans as a BROADCAST anti-join; no-pos reads carry no pos columns") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdplan", rows().schema)
    t.append(rows((1L, "a", 1.0), (2L, "a", 9.0)))
    // before any pos delete: the scan must NOT pay for row coordinates
    val before = t.read().queryExecution.executedPlan.toString
    assert(!before.contains("_graft_pos"),
      "a table without position deletes read row coordinates anyway")
    t.deleteWhere(col("score") > 8.0)
    val plan = t.read().queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"position-delete merge must broadcast the coordinate set:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("position deletes survive a table relocation (coordinates are relative)") {
    val whRoot = Files.createTempDirectory("icelite-posmv")
    val t0 = IceliteTable.create(spark, s"$whRoot/a", "ns", "pdmv", rows().schema)
    t0.append(rows((1L, "a", 1.0), (2L, "a", 9.0)))
    t0.deleteWhere(col("score") > 8.0)
    assert(state(t0) == Seq((1L, "a", 1.0)))
    // mv the whole warehouse — every stored path must keep resolving
    Files.move(whRoot.resolve("a"), whRoot.resolve("b"))
    val moved = IceliteTable.load(spark, s"$whRoot/b", "ns", "pdmv")
    assert(state(moved) == Seq((1L, "a", 1.0)),
      "a relocated table resurrected its position-deleted rows")
  }

  test("oversized delete sets degrade to a shuffle join with identical results") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdbig", rows().schema)
    t.upsert(rows((1L, "a", 1.0), (2L, "a", 9.0), (3L, "b", 5.0)), Seq("id"))
    t.deleteWhere(col("score") > 8.0)
    val broadcastState = state(t)
    def hinted = t.read().queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast")
    assert(hinted, "under the bound the delete side carries the broadcast hint")
    val saved = t.maxBroadcastDeleteBytes
    try {
      t.maxBroadcastDeleteBytes = 0L // force the over-limit path
      // the FORCED broadcast hint is withdrawn — join strategy is the
      // optimizer's size-based choice (it would shuffle a huge side);
      // tiny test data may still auto-broadcast, which is the point
      assert(!hinted, "above the bound the delete side must not be hint-forced")
      assert(state(t) == broadcastState) // strategy changes, rows don't
    } finally t.maxBroadcastDeleteBytes = saved
  }

  test("full compact folds position deletes and the changelog stays readable") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdfold", rows().schema)
    t.upsert(rows((1L, "a", 1.0), (2L, "a", 9.0), (3L, "b", 5.0)), Seq("id"))
    t.deleteWhere(col("score") > 8.0)
    // the pos delete resolves to an exact pre-image delete event
    val ch = t.readChanges(0L, t.meta.lastSeq)
      .select("_change_type", "_commit_seq", "id", "score").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      .sortBy(e => (e._2, e._3, e._1))
    assert(ch == Seq(
      ("insert", 1L, 1L, 1.0), ("insert", 1L, 2L, 9.0), ("insert", 1L, 3L, 5.0),
      ("delete", 2L, 2L, 9.0)))
    val before = state(t)
    t.compact(targetFileMB = 256)
    assert(state(t) == before)
    assert(t.meta.livePosDeleteFiles.isEmpty && t.meta.liveDeleteFiles.isEmpty)
    val from = t.meta.lastSeq // fold point: consume increments after it
    t.upsert(rows((4L, "c", 4.0)), Seq("id"))
    assert(t.readChanges(from, t.meta.lastSeq)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("changelog: pos deletes interleave with keyed commits, pre-images stay exact") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdcdc", rows().schema)
    t.upsert(rows((1L, "a", 1.0), (2L, "a", 9.0)), Seq("id")) // s1
    t.deleteWhere(col("id") === 2L) // s2: physical delete of key 2's row
    t.delete(rows((2L, "x", 0.0)).select("id"), Seq("id")) // s3: no-op (already gone)
    t.upsert(rows((2L, "b", 3.0)), Seq("id")) // s4: fresh insert, NOT an update
    val ch = t.readChanges(0L, t.meta.lastSeq)
      .select("_change_type", "_commit_seq", "id", "score").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      .sortBy(e => (e._2, e._3, e._1))
    assert(ch == Seq(
      ("insert", 1L, 1L, 1.0), ("insert", 1L, 2L, 9.0),
      // the row leaves at the POS-delete seq with its exact pre-image;
      // the later equality delete of the already-gone key emits nothing
      // and the re-upsert reads as a fresh insert, not an update pair
      ("delete", 2L, 2L, 9.0),
      ("insert", 4L, 2L, 3.0)))
  }

  test("changelog: pos-delete-only range on a keyed table classifies like a wide range") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdrange", rows().schema)
    t.upsert(rows((1L, "a", 1.0), (2L, "a", 9.0)), Seq("id")) // s1
    t.updateWhere(col("id") === 2L, Map("score" -> (col("score") * 2.0))) // s2
    def events(from: Long, to: Long) = t.readChanges(from, to)
      .filter(col("id") === 2L)
      .select("_change_type", "_commit_seq", "score").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    // the narrow range (pos delete only) and the wide range must agree:
    // an incremental per-commit consumer may not see different change
    // types than a batch reader of the same history
    val expected = Seq(
      ("update_postimage", 2L, 18.0), ("update_preimage", 2L, 9.0))
    assert(events(1L, 2L) == expected)
    assert(events(0L, 2L).filter(_._2 == 2L) == expected)
  }

  test("changelog resolves pos deletes across a column rename (epoch translation)") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdren", rows().schema)
    t.upsert(rows((1L, "a", 1.0), (2L, "a", 9.0)), Seq("id")) // s1, files store "score"
    t.renameColumn("score", "points") // s2: metadata-only
    t.deleteWhere(col("points") > 8.0) // s3: coordinates into an epoch-0 file
    val ch = t.readChanges(0L, t.meta.lastSeq)
      .select("_change_type", "_commit_seq", "id", "points").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      .sortBy(e => (e._2, e._3, e._1))
    // the pre-image surfaces under the NEW name even though the killed
    // physical row was written before the rename
    assert(ch == Seq(
      ("insert", 1L, 1L, 1.0), ("insert", 1L, 2L, 9.0),
      ("delete", 3L, 2L, 9.0)))
  }

  test("updateWhere: keyless row update = pos-delete + mutated append in ONE commit") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdupd", rows().schema)
    t.append(rows((1L, "a", 1.0), (2L, "a", 9.0), (3L, "b", 9.5)))
    val preUpdate = t.meta.lastSeq
    t.updateWhere(col("score") > 8.0,
      Map("score" -> (col("score") * 2.0), "grp" -> concat(col("grp"), lit("+"))))
    assert(t.meta.snapshots.last.operation == "update")
    assert(state(t) == Seq((1L, "a", 1.0), (2L, "a+", 18.0), (3L, "b+", 19.0)))
    // one commit: time travel to just before shows the originals
    assert(t.readAt(preUpdate).orderBy("id").collect().map(_.getDouble(2)).toSeq ==
      Seq(1.0, 9.0, 9.5))
    // set-expressions see the PRE-update row (grp mutated from old grp,
    // score from old score — not from each other's outputs)
    t.updateWhere(col("id") === 1L, Map("grp" -> lit("z"), "score" -> (col("score") + 1.0)))
    assert(state(t).head == ((1L, "z", 2.0)))
    // no-match update publishes nothing
    val seqBefore = t.meta.lastSeq
    t.updateWhere(col("score") > 1e9, Map("grp" -> lit("x")))
    assert(t.meta.lastSeq == seqBefore)
  }

  test("cold compaction skips while a hot pos-delete lives, folds after it ages in") {
    val t = IceliteTable.create(spark, wh(), "ns", "pdcold", rows().schema)
    t.append(rows((1L, "a", 1.0), (2L, "a", 9.0)))
    t.append(rows((3L, "b", 5.0)))
    t.deleteWhere(col("score") > 8.0) // hot (last commit)
    // the pos-delete is within the hot window AND targets a cold file
    assert(t.compactCold(keepHotCommits = 1).isEmpty)
    assert(state(t) == Seq((1L, "a", 1.0), (3L, "b", 5.0)))
    // two more commits age the pos-delete into the cold window
    t.append(rows((4L, "c", 4.0)))
    t.append(rows((5L, "c", 4.5)))
    assert(t.compactCold(keepHotCommits = 2).nonEmpty)
    assert(t.meta.livePosDeleteFiles.isEmpty) // folded
    assert(state(t) ==
      Seq((1L, "a", 1.0), (3L, "b", 5.0), (4L, "c", 4.0), (5L, "c", 4.5)))
  }
}
