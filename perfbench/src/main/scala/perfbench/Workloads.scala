package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config._
import graft.schema.DocumentSource
import graft.sync.{ChangeStreamSync, InitialSync, SyncMetrics, SyncOrchestrator}
import graft.table.IceliteTable

/** Checks computed on the program's outputs, compared with figures the
  * generator computed apart from it.
  */
object Checks {

  /** Row count and the sum of per-row CRC32s of the key fields — the
    * same canonical string [[Doc.canonical]] builds.
    */
  def digest(df: DataFrame, withPromo: Boolean): Digest = {
    val parts = Seq(
      col("_id"),
      unix_millis(col("ts")).cast("string"),
      (col("amount") * 100).cast("long").cast("string"),
      coalesce(col("code"), lit("~")),
      coalesce(col("note"), lit("~")),
      col("customer.city"),
      col("customer.tier").cast("string"),
      size(col("items")).cast("string"),
      expr("aggregate(items, 0, (a, x) -> a + x.qty)").cast("string"),
      col("status")) ++ (if (withPromo) Seq(coalesce(col("promo"), lit("~"))) else Nil)
    val r = df.select(crc32(concat_ws("|", parts: _*).cast("binary")).as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect().head
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def distinctIds(df: DataFrame): Long =
    df.agg(countDistinct(col("_id"))).collect().head.getLong(0)

  /** Bytes of every file under a directory. */
  def bytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

object Workloads {
  val Db = "shop"

  /** Untimed full-size warm-up rounds of initial_sync. After a single
    * one, round times still fell by a third over the next five rounds
    * as the JIT compiled the driver's code; smaller warm-up inputs do
    * not shorten this, as a sync's time is mostly per job and commit.
    * More warm-up rounds did not narrow the spread between runs enough
    * to pay for their time.
    */
  val WarmRounds = 2

  /** Untimed passes of the iterative queries before the timed ones. */
  val QueryWarmPasses = 1

  /** Timed passes of the iterative queries, at the least: each query's
    * time is its median over the passes.
    */
  val QueryMinPasses = 3

  val Queries: Seq[String] = Seq(
    "graph_pagerank", "graph_ppr", "graph_bfs", "graph_communities", "graph_triangles",
    "text_bpe_merges", "text_unigram_lm")

  /** Every per-layer metric of BENCHMARK.json, in the order they are
    * printed. A layer a workload does not exercise reads 0 there.
    */
  val Layers: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.job_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.shuffle_bytes" -> "B",
    "schema.infer_s" -> "s", "schema.parse_docs_per_s" -> "docs/s",
    "sync.initial_s" -> "s", "sync.commits" -> "count", "sync.batch_p50_ms" -> "ms",
    "table.commits" -> "count", "table.data_files" -> "count", "table.delete_files" -> "count",
    "table.bytes" -> "B",
    "sql.load_ms" -> "ms", "sql.plan_ms" -> "ms", "sql.exec_ms" -> "ms",
    "sql.files_per_point_read" -> "count", "sql.scan_p50_ms" -> "ms") ++
    Queries.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count",
      s"query.$q.cuts" -> "count")) ++
    Seq("ingest.edge_index_s" -> "s", "trace.work_per_s_norm" -> "1/s", "host.kernel_ms" -> "ms")

  /** Per-layer metrics of the structured-streaming drain, printed by
    * change_backlog only (a workload BENCHMARK.json does not list).
    */
  val StreamLayers: Seq[(String, String)] = Seq(
    "sync.post_drain_s" -> "s", "sync.jobs_per_batch" -> "count", "stream.batches" -> "count",
    "stream.add_batch_ms" -> "ms", "stream.source_ms" -> "ms", "stream.wal_ms" -> "ms")

  private def config(root: Path, wh: String, coll: String, table: String, chunk: Long)
      : (SyncConfig, CollectionSyncConfig) = {
    val c = CollectionSyncConfig(SourceConfig(coll), TargetConfig("bench", table),
      batch = BatchConfig(maxRecords = chunk))
    (SyncConfig(MongoConfig(root.toString, Db),
      IcebergConfig(CatalogConfig("local", warehouse = Some(wh))), SyncSection(Seq(c))), c)
  }

  private def collection(seed: Long, n: Int): Collection = {
    val c = new Collection(seed)
    (0 until n).foreach(_ => c.insert())
    c
  }

  private def writeCollection(root: Path, name: String, c: Collection): Path = {
    val p = root.resolve(Db).resolve(s"$name.jsonl")
    Gen.writeLines(p, c.docs.values().iterator.asScala.map(_.json))
    p
  }

  /** A throughput scaled to a host on which the [[HostSpeed]] kernel
    * takes [[HostSpeed.RefMs]].
    */
  private def perRefS(ctx: Ctx, perS: Double): Double = perS * ctx.host.medianMs / HostSpeed.RefMs

  /** End-to-end metrics every workload reports. The timings are
    * normalised by the host kernel timed beside them; the result file
    * keeps them as measured as well.
    */
  private def endToEnd(ctx: Ctx, r: Result, workPerS: Double, opP50Ms: Double, bytesPerRow: Double): Unit = {
    r.put("work_per_s_norm", perRefS(ctx, workPerS), "1/s")
    r.put("op_p50_ms_norm", opP50Ms * HostSpeed.RefMs / ctx.host.medianMs, "ms")
    r.put("bytes_per_row", bytesPerRow, "B/row")
    r.raw("work_per_s") = (workPerS, "1/s")
    r.raw("op_p50_ms") = (opP50Ms, "ms")
    r.raw("host.kernel_ms") = (ctx.host.medianMs, "ms")
  }

  /** Per-layer metrics: the Spark engine's from the job log, the rest
    * from `layer` (0 where the workload leaves a layer idle).
    */
  private def perLayer(ctx: Ctx, r: Result, workPerS: Double, layer: Map[String, Double]): Unit =
    if (ctx.args.trace) {
      val j = ctx.jobs.get
      val spark = Map("spark.jobs" -> j.jobCount.toDouble, "spark.job_s" -> j.jobSeconds,
        "spark.driver_gap_s" -> j.gapSeconds, "spark.task_cpu_s" -> j.cpuSeconds,
        "spark.shuffle_bytes" -> j.shuffleBytes.toDouble,
        "trace.work_per_s_norm" -> perRefS(ctx, workPerS), "host.kernel_ms" -> ctx.host.medianMs)
      val all = spark ++ layer
      (Layers ++ StreamLayers.filter(x => layer.contains(x._1))).foreach { case (k, u) =>
        r.layers(k) = (all.getOrElse(k, 0.0), u)
      }
    }

  /** Traced-only probes of `graft.schema`: sample inference, then the
    * executor-side parse at the inferred schema.
    */
  private def schemaProbe(ctx: Ctx, jsonl: Path, docs: Int): Map[String, Double] =
    if (!ctx.args.trace) Map.empty
    else {
      val spark = ctx.spark
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("schema.readJsonl")(DocumentSource.readJsonl(spark, jsonl.toString))
      val infer = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      ctx.tracer.span("schema.fromJsonLines") {
        DocumentSource.fromJsonLines(spark.read.textFile(jsonl.toString), df.schema).count()
      }
      Map("schema.infer_s" -> infer,
        "schema.parse_docs_per_s" -> docs / ((System.nanoTime() - t1) / 1e9))
    }

  private def tableLayer(t: IceliteTable): Map[String, Double] = {
    val m = t.refresh()
    Map("table.commits" -> m.lastSeq.toDouble, "table.data_files" -> m.liveDataFiles.size.toDouble,
      "table.delete_files" -> m.liveDeleteFiles.size.toDouble,
      "table.bytes" -> Checks.bytes(t.location).toDouble)
  }

  /** Runs `round` until the timed seconds reach the run length; at
    * least `min` rounds.
    */
  private def rounds(ctx: Ctx, min: Int = 1)(round: Int => Double): Int = {
    var total = 0.0
    var k = 0
    while (k < min || total < ctx.args.seconds) {
      k += 1
      total += round(k)
    }
    k
  }

  private def report(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what failed: $e")

  // ---------------------------------------------------------------- initial_sync

  def initialSync(ctx: Ctx): Result = {
    val r = new Result
    val (spark, a, s) = (ctx.spark, ctx.args, ctx.args.sizes)
    val root = ctx.dir("source")
    val wh = ctx.dir("warehouse").toString
    val coll = collection(a.seed, s.syncDocs)
    val jsonl = writeCollection(root, "orders", coll)
    val expected = coll.digest()
    writeCollection(root, "warm", collection(a.seed ^ 0x5DEECE66DL, s.syncDocs))
    val chunks = (s.syncDocs + s.syncChunkDocs - 1) / s.syncChunkDocs
    ctx.note("inputs written")

    // untimed warm-up: WarmRounds rounds on another collection of the
    // same size
    (1 to WarmRounds).foreach { k =>
      val (wcfg, wc) = config(root, wh, "warm", s"warm_$k", s.syncChunkDocs)
      new SyncOrchestrator(spark, wcfg, wh).syncCollection(wc, ctx.dir("stream").resolve(s"warm$k").toString)
    }
    ctx.timedStarts()

    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[(IceliteTable, CollectionSyncConfig)] = None
    val n = rounds(ctx) { k =>
      val (cfg, c) = config(root, wh, "orders", s"orders_$k", s.syncChunkDocs)
      val orch = new SyncOrchestrator(spark, cfg, wh)
      r.attempted += s.syncDocs
      val (t, dt) = ctx.timed("sync.syncCollection")(
        try Some(orch.syncCollection(c, ctx.dir("stream").resolve(s"r$k").toString))
        catch { case NonFatal(e) => report("initial sync", e); None })
      t match {
        case Some(table) =>
          times += dt
          ctx.note(f"round $k: $dt%.3f s")
          val rows = table.meta.snapshots.map(_.recordCount).sum
          r.check(rows == s.syncDocs, s"round $k: $rows rows committed, expected ${s.syncDocs}")
          last.foreach { case (old, _) => Checks.deleteTree(java.nio.file.Paths.get(old.location)) }
          last = Some((table, c))
        case None => r.failed += s.syncDocs
      }
      dt
    }
    r.counts("rounds") = n
    r.counts("documents") = r.attempted

    last.foreach { case (table, c) =>
      val df = table.read()
      val got = Checks.digest(df, withPromo = false)
      r.check(got == expected, s"initial_sync digest $got, expected $expected")
      r.check(Checks.distinctIds(df) == s.syncDocs, "initial_sync: distinct _id count differs")
      val types = Map("ts" -> TimestampType, "code" -> StringType)
      types.foreach { case (f, t) =>
        r.check(df.schema(f).dataType == t, s"column $f is ${df.schema(f).dataType}, expected $t")
      }
      r.check(df.schema("amount").dataType.isInstanceOf[DecimalType],
        s"column amount is ${df.schema("amount").dataType}, expected a decimal")
      val marked = table.meta.snapshots.count(_.summary.get(InitialSync.SyncIdKey)
        .contains(c.target.qualifiedName))
      r.check(marked == chunks, s"$marked initial-sync snapshots, expected one per chunk ($chunks)")
      val workPerS = s.syncDocs * times.size / times.sum
      endToEnd(ctx, r, workPerS, Stats.median(times.toSeq) * 1000,
        Checks.bytes(table.location).toDouble / s.syncDocs)
      val m = SyncMetrics.global.of(c.target.qualifiedName)
      perLayer(ctx, r, workPerS, schemaProbe(ctx, jsonl, s.syncDocs) ++ tableLayer(table) ++ Map(
        "sync.initial_s" -> m.initialSyncMs.sum / 1000.0,
        "sync.commits" -> m.commits.sum.toDouble))
    }
    r
  }

  // -------------------------------------------------------------- change_backlog

  def changeBacklog(ctx: Ctx): Result = {
    val r = new Result
    val (spark, a, s) = (ctx.spark, ctx.args, ctx.args.sizes)
    val root = ctx.dir("source")
    val wh = ctx.dir("warehouse").toString
    val coll = collection(a.seed, s.backlogBase)
    val jsonl = writeCollection(root, "orders", coll)
    // no new top-level field in the timed backlog: in a micro-batch of
    // more than 1,000 upserts the program's schema evolution infers the
    // new column from the first 1,000 post-images only, so a rare field
    // those miss is dropped from that batch's rows (2 seeds in 10 failed
    // the digest at 5,000-event batches)
    val events = Events.draw(coll, 1L, s.backlogEvents, promoEvery = 0)
    val drop = if (a.inject == "drop-event") Some(Events.droppable(events)) else None
    Events.writeLog(root.resolve(Db).resolve("orders.changes"), events, s.backlogFiles, drop)
    val expected = coll.digest()
    val withPromo = coll.withPromo
    val warm = collection(a.seed ^ 0x5DEECE66DL, s.backlogBase / 20)
    val warmEvents = Events.draw(warm, 1L, s.backlogEvents / 20, promoEvery = 400)
    writeCollection(root, "warm", warm)
    Events.writeLog(root.resolve(Db).resolve("warm.changes"), warmEvents, 20, None)
    ctx.note("inputs written")

    // untimed warm-up: initial sync and a two-batch drain of a small
    // log. A full-size warm-up round did not narrow the spread between
    // runs and cost as much as a timed one.
    val (wcfg, wc) = config(root, wh, "warm", "warm", s.backlogBase)
    new SyncOrchestrator(spark, wcfg, wh).syncCollection(wc, ctx.dir("stream").resolve("warm").toString)
    // set-up ends here: each round's base sync below is untimed work of
    // that round, not of the process's set-up
    ctx.timedStarts()

    val drains = mutable.ArrayBuffer.empty[Double]
    val addBatch = mutable.ArrayBuffer.empty[Double]
    val source = mutable.ArrayBuffer.empty[Double]
    val wal = mutable.ArrayBuffer.empty[Double]
    val postDrain = mutable.ArrayBuffer.empty[Double]
    var batches = 0L
    var drainJobs = 0L
    var commits = 0L
    var last: Option[(IceliteTable, SyncOrchestrator, CollectionSyncConfig)] = None
    val n = rounds(ctx) { k =>
      // untimed set-up: a fresh table holding the synced base collection
      val (cfg, c) = config(root, wh, "orders", s"cb_$k", s.backlogBase)
      val orch = new SyncOrchestrator(spark, cfg, wh)
      val src = DocumentSource.readJsonl(spark, orch.collectionPath(c))
      val base = InitialSync.ensureTable(spark, wh, c, src)
      new InitialSync(spark, c, base, orch.checkpoints, Db).run(src)
      val seq0 = base.meta.lastSeq
      ctx.note(s"round $k set up")
      val mark = ctx.streams.mark
      r.attempted += events.size
      val (t, dt, jobs, _) = ctx.timedJobs("sync.syncCollection")(
        try Some(orch.syncCollection(c, ctx.dir("stream").resolve(s"r$k").toString))
        catch { case NonFatal(e) => report("backlog drain", e); None })
      org.apache.spark.graft.ListenerFlush.flush(spark.sparkContext)
      val (bs, lifetime) = ctx.streams.since(mark)
      t match {
        case Some(table) =>
          drains += dt
          ctx.note(f"round $k: drain $dt%.3f s, addBatch ms ${bs.map(_.addBatchMs).mkString(" ")}")
          addBatch ++= bs.map(_.addBatchMs.toDouble)
          source ++= bs.map(_.sourceMs.toDouble)
          wal ++= bs.map(_.walMs.toDouble)
          postDrain += dt - lifetime
          batches += bs.size
          drainJobs += jobs
          commits += table.meta.lastSeq - seq0
          last.foreach { case (old, _, _) => Checks.deleteTree(java.nio.file.Paths.get(old.location)) }
          last = Some((table, orch, c))
        case None => r.failed += events.size
      }
      dt
    }
    r.counts("rounds") = n
    r.counts("events") = r.attempted
    // the program's own counter, for comparison with the events drained
    r.counts("sync_metrics_change_events") =
      (1 to n).map(k => SyncMetrics.global.of(s"bench.cb_$k").changeEvents.sum).sum

    last.foreach { case (table, orch, c) =>
      val df = table.read()
      val got = Checks.digest(df, withPromo)
      r.check(got == expected, s"change_backlog digest $got, expected $expected")
      r.check(Checks.distinctIds(df) == expected.rows, "change_backlog: distinct _id count differs")
      r.check(withPromo == df.columns.contains("promo"),
        s"schema evolution: promo column present=${df.columns.contains("promo")}, expected $withPromo")
      val token = orch.checkpoints.read(c.target.qualifiedName).flatMap(_.resumeToken)
      r.check(token.contains(events.last.seq),
        s"checkpointed resume token $token, expected ${events.last.seq}")
      r.check(addBatch.nonEmpty, "no micro-batch progress was reported")
      val workPerS = events.size * drains.size / drains.sum
      endToEnd(ctx, r, workPerS, Stats.median(addBatch.toSeq),
        Checks.bytes(table.location).toDouble / math.max(1L, expected.rows))
      val perRound = drains.size.toDouble
      perLayer(ctx, r, workPerS, schemaProbe(ctx, jsonl, s.backlogBase) ++ tableLayer(table) ++ Map(
        "table.commits" -> commits / perRound,
        "stream.batches" -> batches / perRound,
        "stream.add_batch_ms" -> Stats.median(addBatch.toSeq),
        "stream.source_ms" -> Stats.median(source.toSeq),
        "stream.wal_ms" -> Stats.median(wal.toSeq),
        "sync.jobs_per_batch" -> drainJobs.toDouble / math.max(1L, batches),
        "sync.post_drain_s" -> Stats.median(postDrain.toSeq),
        "sync.commits" -> SyncMetrics.global.of(c.target.qualifiedName).commits.sum.toDouble))
    }
    r
  }

  // ----------------------------------------------------------- reads_with_writes

  /** One round of reads_with_writes: a change batch file, and the live
    * row count and the answers the simulated collection gives after it.
    */
  private final case class RwRound(
      file: Path,
      live: Long,
      lookups: Seq[(String, Option[(Long, String, String)])],
      range: (String, String, Long, Long),
      agg: Map[String, (Long, Long)])

  private def rwRounds(c: Collection, dir: Path, n: Int, batch: Int): Vector[RwRound] = {
    var seq = 1L
    Vector.tabulate(n) { j =>
      val evs = Events.draw(c, seq, batch, promoEvery = 0)
      seq += batch
      val file = dir.resolve("b%04d.json".format(j))
      Gen.writeLines(file, evs.iterator.map(_.json))
      val lastOp = evs.map(e => e.id -> e.op).toMap
      val updated = lastOp.collect { case (id, op) if op != "delete" => id }.toSeq.sorted.take(PointReads)
      val deleted = lastOp.collect { case (id, "delete") => id }.toSeq.sorted.take(PointReads)
      val untouched = Iterator.continually(c.pickUniform()).filterNot(lastOp.contains)
        .take(PointReads).toSeq
      val keys = untouched ++ updated ++ deleted
      val lookups = keys.map(k => k -> Option(c.docs.get(k)).map(d =>
        (d.cents, d.status, d.code.fold(_.toString, identity))))
      val lo = c.pickUniform()
      val span = c.docs.tailMap(lo, true).keySet().iterator.asScala.take(math.max(2, c.size / 100)).toSeq
      val hi = span.last
      val inRange = c.docs.subMap(lo, true, hi, false).values().asScala
      val agg = c.docs.values().asScala.groupBy(_.status).map { case (st, ds) =>
        st -> (ds.size.toLong, ds.iterator.map(_.cents).sum)
      }
      RwRound(file, c.size.toLong, lookups, (lo, hi, inRange.size.toLong, inRange.iterator.map(_.cents).sum), agg)
    }
  }

  /** Untimed rounds of reads_with_writes before the timed cycles. */
  private val RwWarmRounds = 2

  /** Point reads per round on each kind of key (live untouched, just
    * updated, just deleted): 6 a round, 18 in a cycle, so the median of
    * one cycle rests on more than a handful of reads.
    */
  private val PointReads = 2

  def readsWithWrites(ctx: Ctx): Result = {
    val r = new Result
    val (spark, a, s) = (ctx.spark, ctx.args, ctx.args.sizes)
    val root = ctx.dir("source")
    val wh = ctx.dir("warehouse").toString
    val coll = collection(a.seed, s.rwBase)
    val jsonl = writeCollection(root, "orders", coll)
    // the change batches of every round the run may reach, written
    // before the timed region: the warm-up rounds plus whole timed cycles.
    // A cycle takes well over a second, so this many cycles outlast the
    // run.
    val maxCycles = a.seconds + 2
    val plan = rwRounds(coll, ctx.dir("batches"), RwWarmRounds + maxCycles * s.rwCycle, s.rwBatch)
    ctx.note("inputs written")

    val (cfg, c) = config(root, wh, "orders", "rw", math.max(1, s.rwBase / 4))
    val orch = new SyncOrchestrator(spark, cfg, wh)
    val table = orch.syncCollection(c, ctx.dir("stream").toString)
    val changes = new ChangeStreamSync(spark, c, table, orch.checkpoints, Db)
    val name = "icelite.bench.rw"

    val point = mutable.ArrayBuffer.empty[Double]
    val scans = mutable.ArrayBuffer.empty[Double]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val plans = mutable.ArrayBuffer.empty[Double]
    val execs = mutable.ArrayBuffer.empty[Double]
    val loads = mutable.ArrayBuffer.empty[Double]
    val files = mutable.ArrayBuffer.empty[Double]
    val deleteFiles = mutable.ArrayBuffer.empty[Double]
    var reads = 0L
    var timedTotal = 0.0
    /** Reads per second of each timed round, its processBatch included. */
    val roundRates = mutable.ArrayBuffer.empty[Double]

    /** One operation; in the timed region it is a sample. */
    def op[T](timed: Boolean, name: String)(body: => T): (T, Double) =
      if (timed) {
        val (out, dt) = ctx.timed(name)(body)
        timedTotal += dt
        (out, dt)
      } else (body, 0.0)

    /** One SQL read; traced, its plan and execution are timed apart. */
    def sql(timed: Boolean, kind: String, q: String): Option[Array[Row]] = {
      if (timed) reads += 1
      val (rows, dt) = op(timed, kind) {
        try {
          if (!a.trace) Some(spark.sql(q).collect())
          else {
            val t0 = System.nanoTime()
            val df = spark.sql(q)
            df.queryExecution.executedPlan
            val t1 = System.nanoTime()
            val out = df.collect()
            if (timed) {
              plans += (t1 - t0) / 1e6
              execs += (System.nanoTime() - t1) / 1e6
            }
            Some(out)
          }
        } catch { case NonFatal(e) if timed => report(kind, e); r.failed += 1; None }
      }
      if (timed) (if (kind == "sql.point_read") point else scans) += dt * 1000
      rows
    }

    def round(j: Int, rd: RwRound, timed: Boolean): Unit = {
      val batch = spark.read.schema(ChangeStreamSync.EventSchema).json(rd.file.toString)
      if (timed) r.attempted += 1
      val (ok, dt) = op(timed, "sync.processBatch")(
        try { changes.processBatch(batch, j.toLong); true }
        catch { case NonFatal(e) if timed => report("processBatch", e); r.failed += 1; false })
      if (timed && ok) batchMs += dt * 1000
      if (timed && a.trace) {
        val t0 = System.nanoTime()
        ctx.tracer.span("table.load")(IceliteTable.load(spark, wh, "bench", "rw"))
        loads += (System.nanoTime() - t0) / 1e6
        deleteFiles += table.meta.liveDeleteFiles.size
        rd.lookups.headOption.foreach { case (k, _) =>
          files += table.read().filter(col("_id") === k).inputFiles.length
        }
      }
      rd.lookups.foreach { case (k, want) =>
        sql(timed, "sql.point_read",
          s"SELECT _id, CAST(amount * 100 AS BIGINT) AS c, status, code FROM $name WHERE _id = '$k'")
          .foreach { rows =>
            val got = rows.headOption.map(x => (x.getLong(1), x.getString(2), x.getString(3)))
            r.check(rows.length <= 1 && got == want, s"round $j: lookup $k gave $got, expected $want")
          }
      }
      val (lo, hi, n, cents) = rd.range
      sql(timed, "sql.range_scan",
        s"SELECT count(*) AS n, CAST(sum(amount) * 100 AS BIGINT) AS c FROM $name " +
          s"WHERE _id >= '$lo' AND _id < '$hi'").foreach { rows =>
        val got = (rows.head.getLong(0), rows.head.getLong(1))
        r.check(got == ((n, cents)), s"round $j: range [$lo, $hi) gave $got, expected ${(n, cents)}")
      }
      sql(timed, "sql.aggregate",
        s"SELECT status, count(*) AS n, CAST(sum(amount) * 100 AS BIGINT) AS c FROM $name GROUP BY status")
        .foreach { rows =>
          val got = rows.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
          r.check(got == rd.agg, s"round $j: aggregate gave $got, expected ${rd.agg}")
        }
    }

    ctx.note("table synced")
    // untimed warm-up: RwWarmRounds rounds and a compaction. The first
    // round ran 3-4x slower than later ones.
    (0 until RwWarmRounds).foreach(i => round(i, plan(i), timed = false))
    table.compact()
    ctx.note("warm-up done")
    var j = RwWarmRounds
    var cycles = 0
    // bytes under the table location per live row, after the first
    // timed cycle: compaction leaves the files it replaced in place, so
    // a figure taken after the last cycle grows with the cycles a run
    // reaches
    var bytes = 0L
    var live = 1L
    // whole cycles: each starts from a compacted table and leaves
    // rwCycle uncompacted delete files behind
    while ((cycles == 0 || timedTotal < a.seconds) && j + s.rwCycle <= plan.size) {
      val before = timedTotal
      (0 until s.rwCycle).foreach { i =>
        val (reads0, t0) = (reads, timedTotal)
        round(j + i, plan(j + i), timed = true)
        roundRates += (reads - reads0) / (timedTotal - t0)
      }
      j += s.rwCycle
      cycles += 1
      ctx.note(f"cycle $cycles: ${timedTotal - before}%.3f s")
      if (cycles == 1) { bytes = Checks.bytes(table.location); live = plan(j - 1).live }
      if (timedTotal < a.seconds) table.compact()
    }
    r.check(timedTotal >= a.seconds,
      s"all $maxCycles cycles of change batches ran in ${timedTotal}s, before the run length")
    r.attempted += reads
    r.counts("cycles") = cycles
    r.counts("batches") = (j - RwWarmRounds).toLong
    r.counts("reads") = reads

    // the median over the timed rounds, so one round slowed by a burst
    // of host load does not move it. Every cycle holds one round at each
    // depth of 1, 2 and 3 delete files, so the mix of rounds the median
    // is taken over is the same whichever number of cycles a run reaches.
    val workPerS = Stats.median(roundRates.toSeq)
    endToEnd(ctx, r, workPerS, Stats.median(point.toSeq), bytes.toDouble / live)
    perLayer(ctx, r, workPerS, schemaProbe(ctx, jsonl, s.rwBase) ++ tableLayer(table) ++ Map(
      "table.delete_files" -> deleteFiles.sum / math.max(1, deleteFiles.size),
      "table.bytes" -> bytes.toDouble,
      "sync.batch_p50_ms" -> Stats.median(batchMs.toSeq),
      // the set-up's initial sync, and every commit since
      "sync.initial_s" -> SyncMetrics.global.of(c.target.qualifiedName).initialSyncMs.sum / 1000.0,
      "sync.commits" -> SyncMetrics.global.of(c.target.qualifiedName).commits.sum.toDouble,
      "sql.load_ms" -> Stats.median(loads.toSeq),
      "sql.plan_ms" -> Stats.median(plans.toSeq),
      "sql.exec_ms" -> Stats.median(execs.toSeq),
      "sql.files_per_point_read" -> files.sum / math.max(1, files.size),
      "sql.scan_p50_ms" -> Stats.median(scans.toSeq)))
    r
  }

  // ----------------------------------------------------------- iterative_queries

  private val Words: Vector[String] = Vector("a", "the", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "key",
    "order", "data", "column", "join", "small", "big", "customer", "query", "group", "filter",
    "vector", "stream")

  /** lineitem and documents tables, generated single-threaded and
    * written as one parquet file each.
    */
  private def writeTables(ctx: Ctx, dir: Path): Unit = {
    val (spark, s) = (ctx.spark, ctx.args.sizes)
    val rnd = new java.util.SplittableRandom(ctx.args.seed)
    val li = new java.util.ArrayList[Row]()
    val day = 86400000L
    (1 to s.orders).foreach { o =>
      (1 to 1 + rnd.nextInt(7)).foreach { ln =>
        val qty = 1.0 + rnd.nextInt(50)
        li.add(Row(o.toLong, 1L + rnd.nextInt(s.parts), 1L + rnd.nextInt(100), ln, qty,
          qty * (900 + rnd.nextInt(1000)), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
          new java.sql.Timestamp(694224000000L + rnd.nextInt(2500) * day)))
      }
    }
    val liSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    val docs = new java.util.ArrayList[Row]()
    (0 until s.documents).foreach { d =>
      val text = Seq.fill(10 + rnd.nextInt(60))(Words(rnd.nextInt(Words.size))).mkString(" ")
      docs.add(Row(d.toLong, text, Seq("en", "de", "fr")(rnd.nextInt(3)),
        Seq("web", "books", "code")(rnd.nextInt(3)), text.length.toLong))
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(li, liSchema).coalesce(1).write.parquet(dir.resolve("lineitem.parquet").toString)
    spark.createDataFrame(docs, docSchema).coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
  }

  def iterativeQueries(ctx: Ctx): Result = {
    val r = new Result
    val spark = ctx.spark
    val data = ctx.dir("data")
    writeTables(ctx, data)
    ctx.note("inputs written")
    val dir = data.toString
    val registry = graft.SparkEntry.queries
    val t0 = System.nanoTime()
    val edgeWh = ctx.tracer.span("operators.EdgeIndex.ensureBuilt")(
      graft.operators.EdgeIndex.ensureBuilt(spark, dir))
    val edgeS = (System.nanoTime() - t0) / 1e9
    ctx.note("edge index built")
    // untimed warm-up pass: the first pass took 12 s and the next ones
    // 9.2, 8.0, 7.5 and 7.1 s as the JIT compiled the planner and the
    // operators, so a timed cold pass measured mostly how fast the JIT
    // got CPU time on a busy host
    (1 to QueryWarmPasses).foreach { k =>
      Queries.foreach(q => registry(q)(spark, dir).collect())
      ctx.note(s"warm-up pass $k done")
    }

    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val jobs = mutable.Map.empty[String, Long]
    val cuts = mutable.Map.empty[String, Long]
    val results = mutable.Map.empty[String, (Array[Row], StructType)]
    val n = rounds(ctx, QueryMinPasses) { _ =>
      Queries.iterator.map { q =>
        r.attempted += 1
        val (out, dt, nJobs, nCuts) = ctx.timedJobs(s"query.$q") {
          try {
            val df = registry(q)(spark, dir)
            Some((df.collect(), df.schema))
          } catch { case NonFatal(e) => report(q, e); r.failed += 1; None }
        }
        ctx.note(f"$q: $dt%.3f s")
        out.foreach { o =>
          results(q) = o
          times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dt
          jobs(q) = nJobs
          cuts(q) = nCuts
        }
        dt
      }.sum
    }
    r.counts("rounds") = n
    r.counts("queries") = r.attempted

    // the last round's results, for the DuckDB oracle compare
    val out = ctx.dir("results")
    results.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(out.resolve(q).toString)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => Queries.contains(q) }
    r.check(oracle.size == Queries.size, s"oracle SQL missing for ${Queries.filterNot(oracle.contains)}")
    Files.write(out.resolve("oracle_sql.json"), oracle.toSeq.sortBy(_._1)
      .map { case (q, sql) => "\"" + q + "\":" + jsonString(sql) }.mkString("{", ",", "}")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val edges = IceliteTable.load(spark, edgeWh, "gidx", "copurchase_edges")
    val nEdges = edges.read().count()
    // each query's median time over the timed passes, so one query
    // slowed by a burst of host load in one pass does not move the
    // figures; work_per_s is queries over the sum of those medians and
    // op_p50_ms the median of them
    val medians = times.valuesIterator.map(t => Stats.median(t.toSeq)).toSeq
    val workPerS = medians.size / medians.sum
    endToEnd(ctx, r, workPerS, Stats.median(medians) * 1000,
      Checks.bytes(edges.location).toDouble / math.max(1L, nEdges))
    perLayer(ctx, r, workPerS, tableLayer(edges) ++ Map("ingest.edge_index_s" -> edgeS) ++
      Queries.flatMap(q => Seq(
        s"query.$q.s" -> Stats.median(times.get(q).map(_.toSeq).getOrElse(Nil)),
        s"query.$q.jobs" -> jobs.getOrElse(q, 0L).toDouble,
        s"query.$q.cuts" -> cuts.getOrElse(q, 0L).toDouble)))
    r
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => "\\u%04x".format(ch.toInt)
      case ch => ch.toString
    } + "\""
}
