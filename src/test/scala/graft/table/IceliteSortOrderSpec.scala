package graft.table

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Declared sort order (IceliteTable.declareSortOrder): appends land
  * unsorted, compaction rewrites under the order into files owning
  * disjoint key ranges, and the range read's metadata keep-set shrinks
  * from "every file" to "the intersecting band" — with identical
  * answers throughout.
  */
class IceliteSortOrderSpec extends AnyFunSuite with SparkFixture {

  private def wh(): String = Files.createTempDirectory("icelite-sort").toString

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("k", LongType)))

  private def rows(ids: Seq[Long]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      ids.map(i => Row(java.lang.Long.valueOf(i), java.lang.Long.valueOf(i * 7 % 100))).asJava,
      schema)
  }

  test("compaction under the declared order makes range reads prune by file") {
    val t = IceliteTable.create(spark, wh(), "ns", "sorted", schema)
    t.trackStats(Seq("k"))
    t.declareSortOrder(Seq("k"))
    // four hash-scattered appends: every file spans ~the full k range
    (0 until 4).foreach(i => t.append(rows((0L until 200L).filter(_ % 4 == i))))
    val expect = t.read().filter(col("k").between(20L, 40L))
      .orderBy("id").collect().toSeq
    assert(t.meta.liveDataFiles.size == 4)
    // scattered layout: bounds prune nothing (all files kept)
    val keptBefore = t.meta.liveDataFiles.count { f =>
      val s = t.meta.snapshots.flatMap(_.fileStats.get(f)).headOption.getOrElse(Map.empty)
      s.get("k").forall { case (mn, mx) => mn.toLong <= 40L && mx.toLong >= 20L }
    }
    assert(keptBefore == 4, "scattered fixture should defeat bounds pruning")
    t.compact(targetFileMB = 256, Nil, numFilesOverride = Some(4))
    assert(t.meta.liveDataFiles.size == 4)
    // sorted layout: disjoint ranges -> only the intersecting band kept
    val keptAfter = t.meta.liveDataFiles.count { f =>
      val s = t.meta.snapshots.flatMap(_.fileStats.get(f)).headOption.getOrElse(Map.empty)
      s.get("k").exists { case (mn, mx) => mn.toLong <= 40L && mx.toLong >= 20L }
    }
    assert(keptAfter < 4, s"sorted compaction did not tighten bounds (kept $keptAfter)")
    // and the pruned read answers identically
    assert(t.scan(RangeFilters("k", Some(20L), Some(40L))).orderBy("id").collect().toSeq
      == expect)
  }

  test("SQL INSERT into a sort-declared table lands per-file DISJOINT ranges") {
    val w = wh()
    val cat = "icelite_so"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.IceliteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    val t = IceliteTable.create(spark, w, "ns", "sqlsorted", schema)
    t.trackStats(Seq("k"))
    t.declareSortOrder(Seq("k"))
    // a hash-scattered source big enough to clear the small-batch
    // single-file path: without the ordered write distribution every
    // task's file would span ~the full k range
    val n = 8000000L
    spark.range(0L, n).select(col("id"), (col("id") * 7 % 1000).as("k"))
      .repartition(8, col("id"))
      .createOrReplaceTempView("so_src")
    spark.sql(s"INSERT INTO $cat.ns.sqlsorted SELECT id, k FROM so_src")
    t.refresh()
    val ranges = t.meta.liveDataFiles.flatMap { f =>
      t.meta.snapshots.flatMap(_.fileStats.get(f)).headOption
        .flatMap(_.get("k")).map { case (mn, mx) => (mn.toLong, mx.toLong) }
    }.sortBy(_._1)
    assert(ranges.size > 1, s"expected a multi-file write, got ${ranges.size} file(s)")
    // Spark's ordered distribution (range partition + sort) makes
    // every pair of files disjoint on the sort key — planFiles
    // prunes steady-state appends without waiting for compaction
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // content unharmed and the range read answers exactly
    assert(t.read().count() == n)
    val got = t.scan(RangeFilters("k", Some(20L), Some(21L)))
      .agg(count(lit(1)), sum(col("id"))).collect().head
    val want = (0L until n).filter(i => { val k = i * 7 % 1000; k == 20 || k == 21 })
    assert(got.getLong(0) == want.size && got.getLong(1) == want.sum)
  }

  test("sort-order columns are anchored against rename/drop; zorder wins when explicit") {
    val t = IceliteTable.create(spark, wh(), "ns", "sortanchor", schema)
    t.declareSortOrder(Seq("k"))
    intercept[IllegalArgumentException](t.renameColumn("k", "kk"))
    intercept[IllegalArgumentException](t.dropColumn("k"))
    t.append(rows(0L until 50L))
    // explicit zorder compact on a sort-ordered table still succeeds
    t.compact(256, Seq("k"), None)
    assert(t.read().count() == 50)
  }
}
