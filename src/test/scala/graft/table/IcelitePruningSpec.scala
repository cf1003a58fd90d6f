package graft.table

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Footer-stat scan planning (IceliteTable.keyStatColumns / planFiles /
  * scan and their use inside merge and readChanges): a narrow key,
  * z-order or partition range must plan a STRICT SUBSET of the
  * table's files, under the right comparator, while never pruning on
  * missing information — and the pruned read paths must return exactly
  * what the unpruned ones would.
  */
class IcelitePruningSpec extends AnyFunSuite with SparkFixture {

  private def freshWarehouse(): String =
    Files.createTempDirectory("icelite-prune").toString

  private val kvSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  private def kv(data: (java.lang.Long, Double)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      data.map { case (id, v) => Row(id, v) }.asJava, kvSchema)
  }

  /** Table with one stat-less commit (plain append before any keyed
    * commit: no recorded key columns yet) and three keyed commits over
    * disjoint id ranges. Returns (table, statlessFiles).
    */
  private def multiRangeTable(): (IceliteTable, Seq[String]) = {
    val t = IceliteTable.create(spark, freshWarehouse(), "ns", "kv", kvSchema)
    t.append(kv((500L, 0.5))) // s1: NO key stats (key columns unknown yet)
    val statless = t.meta.snapshots.last.dataFiles
    t.upsert(kv((1L to 9L).map(i => (java.lang.Long.valueOf(i), i * 1.0)): _*), Seq("id")) // s2
    t.upsert(kv((10L to 19L).map(i => (java.lang.Long.valueOf(i), i * 1.0)): _*), Seq("id")) // s3
    t.upsert(kv((1000L to 1009L).map(i => (java.lang.Long.valueOf(i), i * 1.0)): _*), Seq("id")) // s4
    (t, statless)
  }

  test("keyStatColumns: integral→numeric, string→utf8-byte-order, unsound types excluded") {
    val t = IceliteTable.create(spark, freshWarehouse(), "ns", "ksc", StructType(Seq(
      StructField("l", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("ts", TimestampType))))
    assert(t.keyStatColumns(Seq("l", "s", "d", "ts", "nope"), t.schema) ==
      Seq("l" -> true, "s" -> false))
  }

  test("cmpStat strings: UTF-8 BYTE order (parquet/Spark), not Java UTF-16 code-unit order") {
    // U+FFFD (EF BF BD) sorts BELOW U+1F600 (F0 9F 98 80) in byte order,
    // but Java String.compareTo says the opposite (0xFFFD > 0xD83D):
    // with UTF-16 ordering a file containing the astral-plane key would
    // be pruned away and the row silently lost
    assert(IceliteTable.cmpStat("�", "😀", numeric = false) < 0)
    assert(IceliteTable.cmpStat("😀", "�", numeric = false) > 0)
    assert(IceliteTable.cmpStat("abc", "abd", numeric = false) < 0) // ASCII unchanged
    assert(IceliteTable.cmpStat("ab", "abc", numeric = false) < 0) // prefix shorter-first
    assert(IceliteTable.cmpStat("x", "x", numeric = false) == 0)
  }

  test("pruneByKeyStats: NUMERIC overlap (not lexicographic); files without stats always kept") {
    val (t, statless) = multiRangeTable()
    val all = t.meta.liveDataFiles
    // narrow range [1000, 1009]: keeps the matching commit + the
    // stat-less file; prunes [1..9] and [10..19]. Lexicographically
    // "9" > "1000" would KEEP the [1..9] file — numeric compare must win.
    def plan(lo: Long, hi: Long) = t.planFiles(t.meta.snapshots, RangeFilters("id", Some(lo), Some(hi)))
    val kept = plan(1000L, 1009L)._1
    val s4Files = t.meta.snapshots.last.dataFiles
    assert(kept.toSet == (statless ++ s4Files).toSet)
    assert(kept.size < all.size) // strict subset
    // range that misses everything still keeps the stat-less file
    val none = plan(5000L, 6000L)._1
    assert(none.toSet == statless.toSet)
    // delete files prune through the same path (s2-s4 upserts carry them)
    val delKept = plan(1L, 9L)._2
    val delAll = t.meta.liveDeleteFiles
    assert(delKept.nonEmpty && delKept.size < delAll.size)
  }

  test("readForKeyRange: rows in the source key range identical to full read; null range falls back") {
    val (t, _) = multiRangeTable()
    val src = kv((1000L, -1.0), (1004L, -1.0), (9999L, -1.0))
    val pruned = t.scan(t.keyRangeFilters(src, Seq("id")))
    // every row whose key CAN match the source is present and identical
    val inRange = (df: DataFrame) => df.filter(col("id").between(1000L, 9999L))
      .orderBy("id").collect().toSeq
    assert(inRange(pruned) == inRange(t.read()))
    // all-null key range: conservative fallback to the full read
    val nullSrc = kv((null, -1.0))
    assert(t.keyRangeFilters(nullSrc, Seq("id")).isEmpty)
    assert(t.scan(t.keyRangeFilters(nullSrc, Seq("id"))).orderBy("id").collect().toSeq ==
      t.read().orderBy("id").collect().toSeq)
    // unsound key type: fallback too (no prunable key column)
    assert(t.keyRangeFilters(src.withColumnRenamed("id", "x"), Seq("v")).isEmpty)
    assert(t.scan(t.keyRangeFilters(src.withColumnRenamed("id", "x"), Seq("v"))).count() ==
      t.read().count())
  }

  test("merge against a multi-commit table: pruned target scan, state identical to expected") {
    val (t, _) = multiRangeTable()
    // batch touching only the [1000..1009] range: update 1000, delete
    // 1004, insert 2000 — rows in other ranges must be untouched
    val src = kv((1000L, 77.0), (1004L, 0.0), (2000L, 20.0))
    val stats = t.merge(src, Seq("id"),
      matchedUpdate = Some(col("s.v") > 0),
      matchedDelete = Some(col("s.v") === 0))
    assert((stats.inserted, stats.updated, stats.deleted) == (1L, 1L, 1L))
    val got = t.read().orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = ((1L to 9L) ++ (10L to 19L)).map(i => (i, i * 1.0)) ++ Seq((500L, 0.5)) ++
      Seq((1000L, 77.0)) ++ (1001L to 1009L).filterNot(_ == 1004L).map(i => (i, i * 1.0)) ++
      Seq((2000L, 20.0))
    assert(got == want.sortBy(_._1))
  }

  test("narrow readChanges plans a strict file subset and still derives the exact changelog") {
    val (t, _) = multiRangeTable()
    val s5 = t.upsert(kv((1005L, 555.0)), Seq("id")) // update inside [1000..1009]
    // the history prune readChanges applies for range (s4, s5]: affected
    // key 1005 → only s4's data files (plus stat-less s1) are consulted
    val hist = t.meta.snapshots.filter(_.seq <= s5)
    val kept = t.planFiles(hist, RangeFilters("id", Some(1005L), Some(1005L)))._1
    assert(kept.size < hist.flatMap(_.dataFiles).size) // strict subset
    val ch = t.readChanges(s5 - 1, s5)
      .select("_change_type", "id", "v").orderBy("_change_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(ch == Seq(
      ("update_postimage", 1005L, 555.0),
      ("update_preimage", 1005L, 1005.0)))
    // wide range still exact: every key's history reconstructs
    assert(t.readChanges(0, s5).count() == 1 + 9 + 10 + 10 + 2) // s1..s4 inserts + s5 pair
  }

  test("readZRange: second-z-dimension range skips files, rows exact, post-rewrite files kept") {
    val gridSchema = StructType(Seq(
      StructField("_id", StringType), StructField("x", LongType), StructField("y", LongType)))
    val t = IceliteTable.create(spark, freshWarehouse(), "ns", "zread", gridSchema)
    val grid = spark.range(4096).select(
      concat(lit("d"), col("id")).as("_id"),
      (col("id") % 64).as("x"), (col("id") / 64).as("y"))
    t.append(grid)
    t.compact(targetFileMB = 256, zorderBy = Seq("x", "y"), numFilesOverride = Some(16))
    val total = t.meta.liveDataFiles.size
    // a quarter range on the SECOND dimension must skip files...
    val yRange = RangeFilters("y", Some(0L), Some(15L))
    assert(t.planFiles(t.meta.snapshots, yRange)._1.size <= total / 2)
    // ...and the pruned read returns exactly the filtered rows
    val got = t.scan(yRange)
    assert(got.count() == 16 * 64)
    assert(got.agg(min("y"), max("y")).head() == Row(0L, 15L))
    assert(got.orderBy("_id").collect().toSeq ==
      t.read().filter(col("y").between(0, 15)).orderBy("_id").collect().toSeq)
    // files appended AFTER the z rewrite record y stats too (the z
    // columns stay in the table's stat set) and are planned like any
    t.append(kvLike(gridSchema, ("late", 999L, 7L)))
    assert(t.meta.snapshots.last.fileStats.values.forall(_.contains("y")))
    assert(t.scan(yRange).filter(col("_id") === "late").count() == 1)
  }

  private def kvLike(schema: StructType, data: (String, Long, Long)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      data.map { case (a, b, c) => Row(a, java.lang.Long.valueOf(b), java.lang.Long.valueOf(c)) }.asJava,
      schema)
  }

  // ------------------------------------------- composite-key pruning

  private val tenantSchema = StructType(Seq(
    StructField("tenant", StringType), StructField("id", LongType),
    StructField("v", DoubleType)))

  private def trows(data: (String, Long, Double)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      data.map { case (t, i, v) => Row(t, java.lang.Long.valueOf(i), v) }.asJava, tenantSchema)
  }

  test("composite key (tenant, id): the SECOND column prunes files the first cannot") {
    val t = IceliteTable.create(spark, freshWarehouse(), "ns", "tkv", tenantSchema)
    // three keyed commits: same low-cardinality leading tenant 'a' on
    // two disjoint id ranges, plus a 'b' commit
    t.upsert(trows((1L to 9L).map(i => ("a", i, i * 1.0)): _*), Seq("tenant", "id")) // s1
    t.upsert(trows((1000L to 1009L).map(i => ("a", i, i * 1.0)): _*), Seq("tenant", "id")) // s2
    t.upsert(trows((1L to 9L).map(i => ("b", i, i * 1.0)): _*), Seq("tenant", "id")) // s3
    val src = trows(("a", 1000L, -1.0), ("a", 1005L, -1.0))
    // leading column alone keeps BOTH 'a' commits; the id dimension
    // must cut the [1..9] one → strictly fewer files than tenant-only
    val tenantOnly = t.planFiles(t.meta.snapshots, Seq(EqualTo("tenant", "a")))._1
    val s2Files = t.meta.snapshots(1).dataFiles.toSet
    val pruned = t.scan(t.keyRangeFilters(src, Seq("tenant", "id")))
    assert(tenantOnly.size > s2Files.size) // tenant alone under-prunes
    assert(pruned.orderBy("tenant", "id").collect().toSeq ==
      t.read().filter(col("tenant") === "a" && col("id").between(1000L, 1005L))
        .orderBy("tenant", "id").collect().toSeq)
    // merge keyed on the composite still lands the right final state
    val stats = t.merge(trows(("a", 1005L, 55.0), ("a", 1500L, 15.0)), Seq("tenant", "id"))
    assert((stats.inserted, stats.updated, stats.deleted) == (1L, 1L, 0L))
    assert(t.read().filter(col("tenant") === "a" && col("id") === 1005L)
      .head().getDouble(2) == 55.0)
    assert(t.read().count() == 9 + 10 + 9 + 1)
  }

  test("identity partition columns record footer stats and prune files") {
    import graft.config.PartitionConfig
    val pconf = PartitionConfig("id", "identity")
    val t = IceliteTable.create(spark, freshWarehouse(), "ns", "idp",
      kvSchema, partitioning = Seq(pconf))
    t.append(kv((1L to 5L).map(i => (java.lang.Long.valueOf(i), i * 1.0)): _*))
    t.append(kv((100L to 105L).map(i => (java.lang.Long.valueOf(i), i * 1.0)): _*))
    val pcol = IceliteTable.partColName(pconf)
    val all = t.meta.snapshots.flatMap(_.dataFiles)
    val lowOnly = t.planFiles(t.meta.snapshots, RangeFilters(pcol, Some(1L), Some(50L)))._1
    assert(lowOnly.toSet == t.meta.snapshots.head.dataFiles.toSet,
      s"identity stats must prune the high-range file (kept $lowOnly of $all)")
    // pruned range read returns exactly the rows a full read would
    val got = t.scan(RangeFilters(pcol, Some(1L), Some(50L)))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 5L))
  }

  test("identity partitions over unsound base types stay unprunable (no bad comparator)") {
    import graft.config.PartitionConfig
    val t = IceliteTable.create(spark, freshWarehouse(), "ns", "idd",
      kvSchema, partitioning = Seq(PartitionConfig("v", "identity")))
    t.append(kv((1L, 1.5)))
    val pcol = IceliteTable.partColName(PartitionConfig("v", "identity"))
    // no comparator for the derived double column: every file is kept,
    // and the row bound still answers exactly
    assert(t.planFiles(t.meta.snapshots, RangeFilters(pcol, Some(0.0), None))._1 ==
      t.meta.liveDataFiles)
    assert(t.scan(RangeFilters(pcol, Some(0.0), None)).count() == 1)
  }

  test("keyStatColumns resolves case-insensitively (Spark default) with canonical names") {
    val t = IceliteTable.create(spark, freshWarehouse(), "ns", "cikv", StructType(Seq(
      StructField("TenantId", StringType), StructField("v", DoubleType))))
    assert(t.keyStatColumns(Seq("tenantid"), t.schema) == Seq("TenantId" -> false))
    assert(t.keyStatColumns(Seq("TENANTID"), t.schema) == Seq("TenantId" -> false))
  }

  test("renderStat: invalid-UTF-8 binary stats are dropped, valid ones kept") {
    import org.apache.parquet.io.api.Binary
    val good = Binary.fromConstantByteArray("plain".getBytes("UTF-8"))
    assert(IceliteTable.renderStat(good).contains("plain"))
    // 0xC3 alone is a truncated UTF-8 sequence → replacement on decode
    val bad = Binary.fromConstantByteArray(Array[Byte](0x61, 0xC3.toByte))
    assert(IceliteTable.renderStat(bad).isEmpty)
    assert(IceliteTable.renderStat(java.lang.Long.valueOf(7L)).contains("7"))
  }

  test("readZBox: 2-D box reads strictly fewer files than either single-dimension range") {
    val gridSchema = StructType(Seq(
      StructField("_id", StringType), StructField("x", LongType), StructField("y", LongType)))
    val t = IceliteTable.create(spark, freshWarehouse(), "ns", "zbox", gridSchema)
    val grid = spark.range(4096).select(
      concat(lit("d"), col("id")).as("_id"),
      (col("id") % 64).as("x"), (col("id") / 64).as("y"))
    t.append(grid)
    t.compact(targetFileMB = 256, zorderBy = Seq("x", "y"), numFilesOverride = Some(16))
    val xRange = RangeFilters("x", Some(0L), Some(15L))
    val yRange = RangeFilters("y", Some(0L), Some(15L))
    val xKeep = t.planFiles(t.meta.snapshots, xRange)._1.toSet
    val yKeep = t.planFiles(t.meta.snapshots, yRange)._1.toSet
    val boxKeep = t.planFiles(t.meta.snapshots, xRange ++ yRange)._1.toSet
    assert(boxKeep == (xKeep intersect yKeep))
    assert(boxKeep.size < xKeep.size && boxKeep.size < yKeep.size)
    val box = t.scan(xRange ++ yRange)
    assert(box.count() == 16 * 16)
    assert(box.orderBy("_id").collect().toSeq ==
      t.read().filter(col("x").between(0, 15) && col("y").between(0, 15))
        .orderBy("_id").collect().toSeq)
  }
}
