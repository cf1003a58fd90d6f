package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Input sizes of one scale. `full` is what the benchmark measures;
  * `tiny` runs every workload and check in seconds, for the
  * benchmark's own tests. A full backlog drains in about 10 s here, so
  * a run of 8 s always times one drain: with a drain near the run
  * length, slow runs timed one drain and fast runs two, and the second,
  * warmer drain widened the spread between runs.
  */
final case class Sizes(
    syncDocs: Int, syncChunkDocs: Int,
    backlogBase: Int, backlogEvents: Int, backlogFiles: Int,
    rwBase: Int, rwBatch: Int, rwCycle: Int,
    orders: Int, parts: Int, documents: Int)

object Sizes {
  val full: Sizes = Sizes(
    syncDocs = 36000, syncChunkDocs = 3600,
    backlogBase = 10000, backlogEvents = 30000, backlogFiles = 60,
    rwBase = 10000, rwBatch = 1000, rwCycle = 3,
    orders = 1500, parts = 300, documents = 100)
  val tiny: Sizes = Sizes(
    syncDocs = 3000, syncChunkDocs = 250,
    backlogBase = 1000, backlogEvents = 1200, backlogFiles = 20,
    rwBase = 1000, rwBatch = 50, rwCycle = 3,
    orders = 300, parts = 60, documents = 40)
}

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    sizes: Sizes, inject: String, work: Path, out: Path, startMs: Long)

/** What a workload hands back: operations attempted and failed, the
  * checks that did not hold, and its metrics (value, unit).
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Figures kept in the result file only: the end-to-end ones before
    * normalisation, and the host kernel's median.
    */
  val raw = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val counts = mutable.LinkedHashMap.empty[String, Long]

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace, s"${args.workload}-${args.seed}")
  val jobs: Option[JobLog] =
    if (args.trace) Some(new JobLog(spark.sparkContext)) else None
  val streams = new StreamLog
  val host = new HostSpeed
  jobs.foreach(spark.sparkContext.addSparkListener)
  spark.streams.addListener(streams)

  /** Milliseconds from the process start to the first timed operation. */
  private var setupMs = -1L

  /** Marks the end of set-up: inputs written, warm-up done. */
  def timedStarts(): Unit =
    if (setupMs < 0) {
      setupMs = System.currentTimeMillis() - args.startMs
      host.warm()
      note("timed region starts")
    }
  def setupSeconds: Double = setupMs / 1000.0

  /** Time one operation, in seconds; with tracing on, its Spark jobs
    * are counted as well.
    */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val (out, dt, _, _) = timedJobs(name)(body)
    (out, dt)
  }

  /** Like [[timed]], also returning the operation's (jobs, cuts). Each
    * operation is followed by an untimed sample of the host's speed.
    */
  def timedJobs[T](name: String)(body: => T): (T, Double, Long, Long) = {
    timedStarts()
    val t0 = System.nanoTime()
    val (out, n, cuts) = jobs match {
      case Some(j) => tracer.span(name)(j.measure(body))
      case None => (body, 0L, 0L)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    host.sample()
    (out, dt, n, cuts)
  }

  def dir(name: String): Path = Files.createDirectories(args.work.resolve(name))

  /** A progress line on stderr, stamped with seconds since the start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - args.startMs) / 1000.0}%7.2f s  $msg")
}

object Main {

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      sizes = kv.getOrElse("scale", "full") match {
        case "full" => Sizes.full
        case "tiny" => Sizes.tiny
        case s => throw new IllegalArgumentException(s"unknown --scale $s")
      },
      inject = kv.getOrElse("inject", "none"),
      work = Paths.get(need("work")).toAbsolutePath,
      out = Paths.get(need("out")).toAbsolutePath,
      startMs = need("start-ms").toLong)
  }

  def session(work: Path, warehouse: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "graft.util.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.util.NioLocalFs")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.catalog.icelite", "graft.sql.IceliteCatalog")
      .config("spark.sql.catalog.icelite.warehouse", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(spark: SparkSession, args: Args): Result = {
    val ctx = new Ctx(spark, args)
    ctx.note("session started")
    val r = args.workload match {
      case "initial_sync" => Workloads.initialSync(ctx)
      case "change_backlog" => Workloads.changeBacklog(ctx)
      case "reads_with_writes" => Workloads.readsWithWrites(ctx)
      case "iterative_queries" => Workloads.iterativeQueries(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.note("timed region and checks done")
    r.put("setup_s", ctx.setupSeconds, "s")
    ctx.tracer.write(args.out.resolveSibling(args.out.getFileName.toString + ".trace.jsonl"),
      ctx.jobs.iterator.flatMap(_.lines(s"${args.workload}-${args.seed}")))
    spark.streams.removeListener(ctx.streams)
    ctx.jobs.foreach(spark.sparkContext.removeSparkListener)
    r
  }

  /** `--workload train` runs every workload once in one JVM, so that a
    * class-data archive written at its exit covers all of them.
    */
  val All: Seq[String] = Seq("initial_sync", "change_backlog", "reads_with_writes", "iterative_queries")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val spark = session(args.work, args.work.resolve("warehouse").toString)
    val res =
      try {
        if (args.workload != "train") run(spark, args)
        else All.map { w =>
          val work = args.work.resolve(w)
          spark.conf.set("spark.sql.catalog.icelite.warehouse", work.resolve("warehouse").toString)
          run(spark, args.copy(workload = w, work = work))
        }.last
      } finally {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      }
    Files.write(args.out, json(res).getBytes(UTF_8))
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  def json(r: Result): String = {
    def ms(m: Iterable[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    val cs = r.counts.map { case (k, v) => s"${str(k)}:$v" }
    s"""{"correct":${r.problems.isEmpty},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""problems":${r.problems.map(str).mkString("[", ",", "]")},""" +
      s""""counts":${cs.mkString("{", ",", "}")},"metrics":${ms(r.metrics)},"layers":${ms(r.layers)},"raw":${ms(r.raw)}}""" + "\n"
  }
}
