package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `batch` is the shared identifier of the spans of
  * one micro-batch; `parent` is the id of the enclosing span (−1 = none).
  * Times are epoch milliseconds (fractional), so spans line up with the
  * Spark listener's job and task timestamps.
  */
final case class Span(id: Int, name: String, parent: Int, batch: Long,
                      startMs: Double, endMs: Double,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. Spans are cheap (a few per batch) and are
  * kept in both modes: the untraced run reads its batch and layer times
  * from them too. Only a traced run attaches listeners, turns on the
  * program's phase log, and writes the spans out.
  */
final class Tracer {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  val spans = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def span[A](name: String, parent: Int = -1, batch: Long = -1L)(body: Span => A): A = {
    val s = synchronized {
      val s = Span(spans.size, name, parent, batch, nowMs, Double.NaN)
      spans += s
      s
    }
    try body(s)
    finally synchronized { spans(s.id) = s.copy(endMs = nowMs) }
  }

  def closed: Seq[Span] = synchronized(spans.toList)
  def get(id: Int): Span = synchronized(spans(id))

  /** Run `body` in a span and return the closed span. */
  def timed(name: String, parent: Int = -1, batch: Long = -1L)(body: Span => Unit): Span =
    get(span(name, parent, batch) { s => body(s); s.id })

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val out = new StringBuilder
    closed.foreach { s =>
      out ++= s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},"""
      out ++= f"""\"start_ms\":${s.startMs}%.3f,\"end_ms\":${s.endMs}%.3f"""
      s.attrs.foreach { case (k, v) => out ++= s""","$k":${Json.num(v)}""" }
      out ++= "}\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, out.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Per-job Spark counters, summed from task ends. */
final class JobMeter extends SparkListener {
  final class Job(val id: Int, val submitMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var diskSpill = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    lastEventMs = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lastEventMs = System.currentTimeMillis()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.diskSpill += m.diskBytesSpilled
    }
    lastEventMs = System.currentTimeMillis()
  }

  /** Wait until the asynchronous listener bus has delivered every job end
    * and has been quiet for a moment (bounded).
    */
  def drain(maxMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (jobs.values.asScala.exists(_.endMs < 0) ||
        System.currentTimeMillis() - lastEventMs < 150)) Thread.sleep(20)
  }

  def all: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Jobs submitted inside `[s.startMs, s.endMs]`. */
  def within(s: Span): Seq[Job] =
    all.filter(j => j.submitMs >= s.startMs - 1 && j.submitMs <= s.endMs + 1)
}

/** Structured Streaming trigger durations, per query run and batch id. */
final class TriggerMeter extends StreamingQueryListener {
  /** Query runs in start order: the i-th run is the harness's pass i. */
  private val runs = new java.util.concurrent.CopyOnWriteArrayList[java.util.UUID]()
  private val progress =
    new java.util.concurrent.ConcurrentHashMap[(java.util.UUID, Long), Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    runs.add(e.runId)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      progress.put((p.runId, p.batchId),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  /** `durationMs` of batch `id` of pass `pass`. */
  def get(pass: Int, id: Long): Option[Map[String, Long]] =
    if (pass >= runs.size) None else Option(progress.get((runs.get(pass), id)))
  def drain(ids: Seq[(Int, Long)], maxMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline && !ids.forall { case (p, i) => get(p, i).nonEmpty })
      Thread.sleep(20)
  }
}

/** Reads the program's own phase log (`-Dgraft.phase.log=true` makes
  * `graft.Phase` print `[phase] <name>: <secs>s` to stderr) by teeing
  * stderr. Everything is passed through unchanged.
  */
object PhaseTap {
  private val Line = """\[phase\] ([\w.]+): ([0-9.]+)s""".r
  private val seen = new ConcurrentLinkedQueue[(String, Double)]()

  def install(): Unit = {
    val orig = System.err
    val tap = new OutputStream {
      private val buf = new ByteArrayOutputStream()
      override def write(b: Int): Unit = {
        orig.write(b)
        if (b == '\n') {
          buf.toString(StandardCharsets.UTF_8).trim match {
            case Line(name, secs) => seen.add(name -> secs.toDouble)
            case _ => ()
          }
          buf.reset()
        } else buf.write(b)
      }
      override def flush(): Unit = orig.flush()
    }
    System.setErr(new PrintStream(tap, true, "UTF-8"))
  }

  /** Phases logged since the last call, in order. */
  def take(): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    var x = seen.poll()
    while (x != null) { out += x; x = seen.poll() }
    out.toSeq
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
