package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span around one public call the benchmark makes into a layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Disabled,
  * `span` only runs its body.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Writes the spans, then `extra` lines, one JSON object a line. */
  def write(path: Path, extra: Iterator[String]): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val lines = spans.iterator.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    } ++ extra
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Spark job, task and shuffle counts, read at the boundaries of the
  * timed operations ([[measure]]). Job intervals come from the
  * listener's event times, so the driver gap (timed wall time not
  * covered by any job) needs no hooks in the program.
  */
final class JobLog(sc: SparkContext) extends SparkListener {
  private final case class Job(start: Long, var end: Long, callSite: String)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val cpuNs = new AtomicLong
  private val shuffle = new AtomicLong

  var jobCount = 0L
  var jobSeconds = 0.0
  var gapSeconds = 0.0
  var cpuSeconds = 0.0
  var shuffleBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job's call site is the name of its final stage, "<action> at <file>:<line>"
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(e.time, -1L, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def flush(): Unit = org.apache.spark.graft.ListenerFlush.flush(sc)

  /** Every job seen, one JSON object each, for the trace file. */
  def lines(runId: String): Iterator[String] = synchronized {
    jobs.toSeq.iterator.map { case (id, j) =>
      s"""{"run":"$runId","job":$id,"start_ms":${j.start},"end_ms":${j.end},""" +
        s""""call_site":"${j.callSite.replace("\\", "/").replace("\"", "'")}"}"""
    }
  }

  /** Run `body` as one timed window and add its counts. Returns the
    * window's counts: (jobs, localCheckpoint jobs).
    */
  def measure[T](body: => T): (T, Long, Long) = {
    flush()
    val (c0, s0) = (cpuNs.get, shuffle.get)
    val ids0 = synchronized(jobs.keySet.toSet)
    val t0 = System.currentTimeMillis()
    val out = body
    val t1 = System.currentTimeMillis()
    flush()
    val window = synchronized(jobs.filter { case (id, _) => !ids0(id) }.values.toSeq)
    val intervals = window.map(j => (math.max(j.start, t0), if (j.end < 0) t1 else math.min(j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = t0
    intervals.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    val nCuts = window.count(_.callSite.startsWith("localCheckpoint")).toLong
    jobCount += window.size
    jobSeconds += intervals.map { case (a, b) => b - a }.sum / 1000.0
    gapSeconds += (t1 - t0 - covered) / 1000.0
    cpuSeconds += (cpuNs.get - c0) / 1e9
    shuffleBytes += shuffle.get - s0
    (out, window.size.toLong, nCuts)
  }
}

/** Per-trigger progress of every streaming query: the micro-batch
  * boundaries and the `addBatch`, source and WAL times Structured
  * Streaming reports, timed from outside the program.
  */
final class StreamLog extends StreamingQueryListener {
  final case class Batch(addBatchMs: Long, sourceMs: Long, walMs: Long)
  val batches = mutable.ArrayBuffer.empty[Batch]
  /** Stream lifetimes: query start to the end of its last trigger. */
  private val lifetimes = mutable.LinkedHashMap.empty[java.util.UUID, (Long, Long)]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    val t = java.time.Instant.parse(e.timestamp).toEpochMilli
    lifetimes(e.id) = (t, t)
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms("triggerExecution")
    lifetimes.get(p.id).foreach { case (s, e0) => lifetimes(p.id) = (s, math.max(e0, end)) }
    if (d.containsKey("addBatch"))
      batches += Batch(ms("addBatch"), ms("latestOffset") + ms("getBatch"), ms("walCommit"))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  def mark: (Int, Int) = synchronized((batches.size, lifetimes.size))

  /** Batches and summed stream lifetime (s) since `m`. */
  def since(m: (Int, Int)): (Seq[Batch], Double) = synchronized {
    (batches.drop(m._1).toSeq,
      lifetimes.values.drop(m._2).map { case (s, e) => (e - s) / 1000.0 }.sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
