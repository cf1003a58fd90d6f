package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.table.IceliteTable
import graft.util.Scratch

/** The DSv2 SQL surface over icelite tables ([[IceliteCatalog]]):
  * catalog registration, MoR reads through `spark.sql`, filter/column
  * pushdown reaching the scan, time travel, metadata tables, INSERT,
  * CREATE/DROP — the engine-facing contract of the reference's design
  * (`docs/design.md:291-299`).
  */
class IceliteCatalogSpec extends AnyFunSuite with SparkFixture {

  private val cat = "icelite_t"
  private lazy val wh: String = {
    val w = Scratch.dir("cat-spec-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[IceliteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    w
  }

  private def seed(name: String): IceliteTable = {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"s${i % 3}", i * 10L))
      .toDF("k", "cat", "v")
    val t = IceliteTable.create(spark, wh, "ns", name, df.schema)
    t.append(df)
    t
  }

  test("SELECT through the catalog sees the MoR state (equality + pos deletes)") {
    val t = seed("t_mor")
    t.applyChanges(t.read().limit(0), spark.range(1, 101, 10).select(col("id").as("k")), Seq("k"))
    t.deleteWhere(col("k") % 7 === 0)
    val got = spark.sql(s"SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS s FROM $cat.ns.t_mor")
      .collect().head
    val want = (1L to 100L).filter(k => k % 10 != 1 && k % 7 != 0)
    assert(got.getLong(0) == want.size)
    assert(got.getLong(1) == want.map(_ * 10).sum)
  }

  test("filters and column pruning are pushed into the scan") {
    seed("t_push")
    val df = spark.sql(s"SELECT v FROM $cat.ns.t_push WHERE k > 90")
    val plan = df.queryExecution.executedPlan.toString
    // DSv2 pushdown reached the scan builder: the v1 row scan reports
    // the pushed predicate and the pruned read schema
    assert(plan.contains("PushedFilters") && plan.contains("k"), plan)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (91L to 100L).map(_ * 10))
  }

  test("VERSION AS OF / TIMESTAMP AS OF travel through SQL") {
    import spark.implicits._
    val t = seed("t_travel") // seq 1: 100 rows
    t.append(Seq((101L, "s0", 1010L)).toDF("k", "cat", "v")) // seq 2
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t_travel VERSION AS OF 1")
      .collect().head.getLong(0) == 100)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t_travel")
      .collect().head.getLong(0) == 101)
    val ts = java.time.LocalDateTime.now().plusHours(1)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $cat.ns.t_travel TIMESTAMP AS OF '$ts'")
      .collect().head.getLong(0) == 101)
  }

  test("metadata tables address with a $ suffix") {
    seed("t_meta")
    val snaps = spark.sql(s"SELECT seq, operation FROM $cat.ns.`t_meta$$snapshots`").collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.sql(s"SELECT * FROM $cat.ns.`t_meta$$history`").count() == 1)
    assert(spark.sql(s"SELECT * FROM $cat.ns.`t_meta$$files`").count() >= 1)
  }

  test("INSERT INTO appends one commit; CREATE/DROP TABLE work in SQL") {
    spark.sql(s"CREATE TABLE $cat.ns.t_ddl (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.ns.t_ddl VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $cat.ns.t_ddl VALUES (3, 'c')")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t_ddl").collect().head.getLong(0) == 3)
    val t = IceliteTable.load(spark, wh, "ns", "t_ddl")
    assert(t.meta.lastSeq == 2, "each INSERT is one commit")
    spark.sql(s"DROP TABLE $cat.ns.t_ddl")
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .forall(_.getString(1) != "t_ddl"))
  }

  test("DELETE FROM commits a position delete through the catalog") {
    seed("t_del")
    spark.sql(s"DELETE FROM $cat.ns.t_del WHERE k > 90 AND cat = 's1'")
    val want = (1L to 100L).filterNot(k => k > 90 && k % 3 == 1)
    val got = spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t_del").collect().head.getLong(0)
    assert(got == want.size)
    val t = IceliteTable.load(spark, wh, "ns", "t_del")
    assert(t.meta.livePosDeleteFiles.nonEmpty, "DELETE FROM must land as a pos-delete commit")
    // a predicate outside the v1 Filter shapes errors loudly, never partially deletes
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"DELETE FROM $cat.ns.t_del WHERE k % 10 = 0")
    }
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t_del")
      .collect().head.getLong(0) == want.size)
  }

  test("batch read/write through spark.read/write.format(icelite)") {
    import spark.implicits._
    seed("t_fmt")
    val opts = Map("warehouse" -> wh, "namespace" -> "ns", "table" -> "t_fmt")
    val df = spark.read.format("icelite").options(opts).load()
      .filter(col("k") > 95).select("k", "v")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (96L to 100L))
    Seq((200L, "s9", 2000L)).toDF("k", "cat", "v")
      .write.format("icelite").mode("append").options(opts).save()
    assert(spark.read.format("icelite").options(opts).load().count() == 101)
    intercept[UnsupportedOperationException] {
      Seq((1L, "s0", 1L)).toDF("k", "cat", "v")
        .write.format("icelite").mode("overwrite").options(opts).save()
    }
  }

  test("ALTER TABLE add/rename/drop column are schema-evolution commits") {
    import spark.implicits._
    seed("t_alter")
    spark.sql(s"ALTER TABLE $cat.ns.t_alter ADD COLUMNS (tag STRING)")
    spark.sql(s"ALTER TABLE $cat.ns.t_alter RENAME COLUMN cat TO segment")
    IceliteTable.load(spark, wh, "ns", "t_alter")
      .append(Seq((500L, "sx", 5L, "fresh")).toDF("k", "segment", "v", "tag"))
    val got = spark.sql(
      s"SELECT count(*) AS n, count(tag) AS tags, count(segment) AS segs FROM $cat.ns.t_alter")
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((101L, 1L, 101L)))
    spark.sql(s"ALTER TABLE $cat.ns.t_alter DROP COLUMN tag")
    assert(!spark.table(s"$cat.ns.t_alter").columns.contains("tag"))
  }

  test("a governed catalog serves the policy view read-only") {
    val t = seed("t_gov")
    t.declarePolicy("analyst", Some("k <= 50"), Map("v" -> "CAST(NULL AS BIGINT)"))
    val gcat = "icelite_gov"
    spark.conf.set(s"spark.sql.catalog.$gcat", classOf[IceliteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$gcat.warehouse", wh)
    spark.conf.set(s"spark.sql.catalog.$gcat.principal", "analyst")
    val got = spark.sql(s"SELECT count(*) AS n, count(v) AS vs FROM $gcat.ns.t_gov").collect().head
    assert(got.getLong(0) == 50 && got.getLong(1) == 0,
      "row filter and column mask must both apply")
    // un-policied tables serve the plain read (no-policy default = allow)
    seed("t_gov_open")
    assert(spark.sql(s"SELECT count(*) AS n FROM $gcat.ns.t_gov_open").collect().head.getLong(0) == 100)
    // the governed catalog is read-only and travel-free
    intercept[Exception] { spark.sql(s"INSERT INTO $gcat.ns.t_gov VALUES (1, 's0', 1)") }
    intercept[Exception] { spark.sql(s"SELECT * FROM $gcat.ns.t_gov VERSION AS OF 1").collect() }
    intercept[Exception] { spark.sql(s"DROP TABLE $gcat.ns.t_gov") }
    // the same table through the ungoverned catalog still reads fully
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t_gov").collect().head.getLong(0) == 100)
  }

  test("ALTER TABLE nested struct-field add/rename evolve through epoch translation") {
    import spark.implicits._
    val wh0 = wh
    val df1 = (1L to 50L).map(i => (i, (s"n$i", i * 10L))).toDF("k", "meta")
    val t = IceliteTable.create(spark, wh0, "ns", "t_nested", df1.schema)
    t.append(df1) // epoch 1: meta = {_1, _2}
    spark.sql(s"ALTER TABLE $cat.ns.t_nested RENAME COLUMN meta._1 TO label")
    spark.sql(s"ALTER TABLE $cat.ns.t_nested ADD COLUMNS (meta.score BIGINT)")
    // epoch 2 writes the NEW shape
    val t2 = IceliteTable.load(spark, wh0, "ns", "t_nested")
    val df2 = (51L to 60L).map(i => (i, (s"n$i", i * 10L, i * 7L))).toDF("k", "meta")
    t2.append(df2)
    val got = spark.sql(
      s"""SELECT k, meta.label AS label, meta._2 AS v, meta.score AS score
         |FROM $cat.ns.t_nested ORDER BY k""".stripMargin).collect()
    assert(got.length == 60)
    // epoch-1 rows: renamed field serves the old bytes, added field is null
    assert(got(0).getString(1) == "n1" && got(0).getLong(2) == 10L && got(0).isNullAt(3))
    // epoch-2 rows carry the new field
    assert(got(59).getString(1) == "n60" && got(59).getLong(3) == 420L)
    // time travel BEFORE the evolution shows the original nested shape
    val old = t2.readAt(1).schema("meta").dataType.asInstanceOf[StructType]
    assert(old.fieldNames.toSeq == Seq("_1", "_2"))
    // refusal discipline: nested ops and top renames don't mix
    intercept[IllegalArgumentException](t2.renameColumn("meta", "meta2"))
    // nested DROP: the field leaves the current shape (old files clip
    // their stored bytes, zero IO); time travel resurrects it
    spark.sql(s"ALTER TABLE $cat.ns.t_nested DROP COLUMN meta._2")
    val t3 = IceliteTable.load(spark, wh0, "ns", "t_nested")
    assert(t3.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("label", "score"))
    val after = spark.sql(
      s"SELECT k, meta.label AS label, meta.score AS score FROM $cat.ns.t_nested ORDER BY k")
      .collect()
    assert(after.length == 60 && after(0).getString(1) == "n1" && after(0).isNullAt(2))
    assert(after(59).getLong(2) == 420L)
    // a RE-ADD of the dropped name starts null-filled — stored _2 bytes
    // in epoch-1/2 files must NOT resurrect
    spark.sql(s"ALTER TABLE $cat.ns.t_nested ADD COLUMNS (meta._2 BIGINT)")
    val readd = spark.sql(s"SELECT count(meta._2) AS n FROM $cat.ns.t_nested").collect()(0)
    assert(readd.getLong(0) == 0, "dropped nested bytes resurrected through a re-add")
    // time travel below the drop still serves the old field's bytes
    val t4 = IceliteTable.load(spark, wh0, "ns", "t_nested")
    val tt = t4.readAt(2).selectExpr("k", "meta._2 AS v").orderBy("k").collect()
    assert(tt(0).getLong(1) == 10L)
    // the last remaining field cannot be dropped (drop the column instead)
    t4.dropNestedField("meta", "label")
    t4.dropNestedField("meta", "score")
    val last = intercept[IllegalArgumentException](t4.dropNestedField("meta", "_2"))
    assert(last.getMessage.contains("last field"))
  }

  test("nested-field pruning reads the right field (ordinal-misalignment regression)") {
    import spark.implicits._
    val wh0 = wh
    // UNEVOLVED struct: Spark prunes requiredSchema to meta:struct<b>;
    // the scan emits the full struct, so reporting the pruned shape
    // made `meta.b` read `meta.a` by ordinal (caught via count/null)
    val df = (1L to 10L).map(i => (i, (s"a$i", i * 2L))).toDF("k", "meta")
      .selectExpr("k", "named_struct('a', meta._1, 'b', meta._2) AS meta")
    val t = IceliteTable.create(spark, wh0, "ns", "t_nprune", df.schema)
    t.append(df)
    val got = spark.sql(s"SELECT sum(meta.b) AS s FROM $cat.ns.t_nprune").collect()(0)
    assert(got.getLong(0) == (1L to 10L).map(_ * 2).sum)
  }

  test("schema evolution: pre-add rows read null through SQL") {
    import spark.implicits._
    val t = seed("t_evo")
    t.addColumns(StructType(Seq(StructField("tag", StringType))))
    IceliteTable.load(spark, wh, "ns", "t_evo")
      .append(Seq((200L, "s0", 2000L, "new")).toDF("k", "cat", "v", "tag"))
    val got = spark.sql(
      s"SELECT count(*) AS n, count(tag) AS tags FROM $cat.ns.t_evo").collect().head
    assert(got.getLong(0) == 101 && got.getLong(1) == 1)
  }

  test("ALTER COLUMN TYPE widening, COMMENT, and DROP NOT NULL through SQL; refusals") {
    wh
    spark.sql(s"CREATE TABLE $cat.ns.t_widen (k BIGINT NOT NULL, n INT, d DOUBLE)")
    spark.sql(s"INSERT INTO $cat.ns.t_widen VALUES (1, 7, 1.5)")
    spark.sql(s"ALTER TABLE $cat.ns.t_widen ALTER COLUMN n TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.ns.t_widen VALUES (2, 6000000000, 2.5)")
    val rows = spark.sql(s"SELECT k, n FROM $cat.ns.t_widen ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 7L), (2L, 6000000000L)))
    // narrowing refuses at the analyzer or the engine — either way loudly
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.ns.t_widen ALTER COLUMN d TYPE FLOAT"))
    // comment + DROP NOT NULL are metadata-only commits
    spark.sql(s"ALTER TABLE $cat.ns.t_widen ALTER COLUMN n COMMENT 'a counter'")
    spark.sql(s"ALTER TABLE $cat.ns.t_widen ALTER COLUMN k DROP NOT NULL")
    val t = IceliteTable.load(spark, wh, "ns", "t_widen")
    assert(t.meta.schema("n").getComment().contains("a counter"))
    assert(t.meta.schema("k").nullable)
    // SET NOT NULL runs the one-scan proof (parser-routed around
    // Spark's blanket v2 refusal): k has no NULLs, so the flip lands
    spark.sql(s"ALTER TABLE $cat.ns.t_widen ALTER COLUMN k SET NOT NULL")
    assert(!IceliteTable.load(spark, wh, "ns", "t_widen").meta.schema("k").nullable)
    // and a NULL write to the tightened column now fails fast
    intercept[Exception](
      spark.sql(s"INSERT INTO $cat.ns.t_widen VALUES (NULL, 1, 0.5)"))
    // a column WITH stored NULLs refuses with the violating count
    spark.sql(s"INSERT INTO $cat.ns.t_widen VALUES (9, NULL, 0.5)")
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.ns.t_widen ALTER COLUMN n SET NOT NULL"))
    assert(e.getMessage.contains("SET NOT NULL") &&
      e.getMessage.contains("1 existing row"), e.getMessage)
  }

  test("a SQL _id point read over equality deletes plans with no schema-inference job") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"s${i % 3}", i * 10L)).toDF("_id", "cat", "v")
    val t = IceliteTable.create(spark, wh, "ns", "t_point", df.schema)
    t.append(df)
    t.upsert((1L to 200L by 7).map(i => (i, "up", i * 100L)).toDF("_id", "cat", "v"), Seq("_id"))
    t.delete((1L to 200L by 5).toDF("_id"), Seq("_id"))
    assert(t.meta.snapshots.exists(_.deleteFiles.nonEmpty))
    def point(id: Long) = spark.sql(s"SELECT _id, v FROM $cat.ns.t_point WHERE _id = $id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    point(3L) // warm-up: first-use class loading and catalog registration
    val sc = spark.sparkContext
    // the stage names (call sites) of every job one point read runs
    def jobsOf(id: Long): (Seq[(Long, Long)], Seq[String]) = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(e.stageInfos.map(_.name).mkString("; "))
      }
      org.apache.spark.graft.ListenerFlush.flush(sc)
      sc.addSparkListener(listener)
      val got = try point(id) finally {
        org.apache.spark.graft.ListenerFlush.flush(sc)
        sc.removeSparkListener(listener)
      }
      (got, jobs.asScala.toSeq)
    }
    // an upserted key, a deleted key and an untouched key
    for ((id, want) <- Seq(8L -> Seq((8L, 800L)), 11L -> Nil, 12L -> Seq((12L, 120L)))) {
      val (got, jobs) = jobsOf(id)
      assert(got == want)
      // a schema-inference job's call site is the `parquet` reader call
      assert(!jobs.exists(_.contains("parquet at")),
        s"schema inference ran for _id = $id:\n${jobs.mkString("\n")}")
      assert(jobs.size <= 2, s"_id = $id ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
    }
  }

  /** Basenames of the data files a SQL query's icelite scan reads: the
    * file scans in the lineage of the V1 scan's RDD (the delete sides
    * broadcast, so only data files appear there).
    */
  private def scannedDataFiles(q: org.apache.spark.sql.DataFrame, t: IceliteTable): Set[String] = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    val rdd = q.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s.rdd
    }.getOrElse(fail(s"no icelite scan in\n${q.queryExecution.sparkPlan}"))
    def walk(r: RDD[_]): Seq[String] = (r match {
      case f: FileScanRDD => f.filePartitions.flatMap(_.files.map(_.toPath.getName))
      case _ => Nil
    }) ++ r.dependencies.flatMap(d => walk(d.rdd))
    val data = t.meta.liveDataFiles.map(_.split('/').last).toSet
    walk(rdd).toSet.intersect(data)
  }

  test("SQL _id point and range reads plan a strict file subset over every delete kind") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    val t = IceliteTable.create(spark, wh, "ns", "t_planned",
      Seq((0L, 0L)).toDF("_id", "v").schema)
    t.append((1L to 400L).map(i => (i, i)).toDF("_id", "v"))
    t.upsert(Seq((400L, -400L)).toDF("_id", "v"), Seq("_id")) // records _id as the key
    t.declareSortOrder(Seq("_id"))
    t.compact(targetFileMB = 256, Nil, numFilesOverride = Some(4)) // 4 disjoint _id bands
    t.deleteWhere(col("_id") === 150L)
    t.consolidateDeleteVectors() // a DV generation
    t.deleteWhere(col("_id") === 250L) // position deletes after it
    t.upsert(Seq((50L, -50L)).toDF("_id", "v"), Seq("_id")) // equality delete of 50's old row
    t.delete(Seq(320L).toDF("_id"), Seq("_id")) // equality delete of 320
    assert(t.meta.liveDvFiles.nonEmpty && t.meta.livePosDeleteFiles.nonEmpty)
    val del320 = t.meta.snapshots.last.deleteFiles
    assert(del320.nonEmpty)
    val allData = t.meta.liveDataFiles.map(_.split('/').last).toSet
    def check(where: String, filters: Seq[org.apache.spark.sql.sources.Filter],
        want: org.apache.spark.sql.Column): Set[String] = {
      val q = spark.sql(s"SELECT _id, v FROM $cat.ns.t_planned WHERE $where")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val exp = t.read().filter(want).collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq
      assert(got == exp, s"WHERE $where")
      val scanned = scannedDataFiles(q, t)
      assert(scanned.nonEmpty && scanned.size < allData.size,
        s"WHERE $where scanned ${scanned.size} of ${allData.size} data files")
      // the planner the SQL scan runs keeps the same files
      assert(scanned == t.planFiles(t.meta.snapshots, filters)._1.map(_.split('/').last).toSet)
      scanned
    }
    // point read of the upserted key: its new version only
    check("_id = 50", Seq(EqualTo("_id", 50L)), col("_id") === 50L)
    assert(spark.sql(s"SELECT v FROM $cat.ns.t_planned WHERE _id = 50").as[Long].collect()
      .toSeq == Seq(-50L))
    // range over the band holding 320, whose delete file planning drops:
    // the band's file still holds 320's old row, bounded away before the merge
    val band = Seq(GreaterThanOrEqual("_id", 330L), LessThan("_id", 360L))
    check("_id >= 330 AND _id < 360", band, col("_id") >= 330L && col("_id") < 360L)
    assert(t.planFiles(t.meta.snapshots, band)._2.intersect(del320).isEmpty)
    assert(t.scan(band).count() == 30)
    // the DV and position-deleted rows stay deleted in the bands that hold them
    check("_id >= 140 AND _id < 160", Seq(GreaterThanOrEqual("_id", 140L), LessThan("_id", 160L)),
      col("_id") >= 140L && col("_id") < 160L)
    check("_id = 250", Seq(EqualTo("_id", 250L)), col("_id") === 250L)
    assert(spark.sql(s"SELECT * FROM $cat.ns.t_planned WHERE _id IN (150, 250, 320)").count() == 0)
  }
}
