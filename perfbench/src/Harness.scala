package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.sources.{PartitionedReplayProvider, ReplayProvider, ReplayServer}
import graft.streaming.{Changelog, IncrementalQ3, Snapshots}

/** Command line of one benchmark run (see `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      sf: Option[Double], fault: Boolean, work: Path, record: Path,
                      stamps: Map[String, String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      sf = kv.get("sf").map(_.toDouble),
      fault = kv.get("fault").contains("skip-batch"),
      work = Paths.get(need("work")),
      record = Paths.get(need("record")),
      stamps = kv.collect { case (k, v) if k.startsWith("stamp.") => k.stripPrefix("stamp.") -> v })
  }
}

/** Drives graft through its public functions and times every call from
  * outside. One JVM, `local[4]`, four shuffle partitions; the load
  * (changelog producer, replay servers) runs in the same process.
  *
  * Each run: session start, [[Harness.SetupReps]] repetitions of the
  * workload's input set-up (the last one is kept), an untimed warm-up,
  * the measured phase for `--seconds`, then the correctness gates. The
  * last stdout line is the result JSON; the full record (stamps, per-batch
  * rows, every metric) goes to `--record`, and a traced run also writes
  * its spans as JSONL next to it.
  */
object Harness {
  val Workloads: Seq[String] = Seq("cycle_fold", "replay_live", "cdc_backfill")
  val SetupReps = 3
  /** Scale of the class-data training run (`--workload train`). */
  val TrainSf = 0.001
  // default scale factors; `--sf` overrides them
  val CycleSf = 0.001
  val LiveSf = 0.002
  val CdcSf = 0.001
  val CdcBatches = 4
  /** The live query's warm-up: its first compaction cycle (graft compacts
    * every 4th batch under spill), published over this many seconds
    * before the measured `--seconds`.
    */
  val LiveWarmBatches = 4
  val LiveWarmS = 20
  val LiveTriggerMs = 4000L

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val a = Args.parse(argv)
    if (a.workload == "train") System.exit(new Run(a, jvmStartMs).train())
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    if (a.trace) PhaseTap.install()
    val code =
      try new Run(a, jvmStartMs).execute()
      catch { case e: Throwable => e.printStackTrace(); 3 }
    System.exit(code)
  }
}

final class Run(a: Args, jvmStartMs: Double) {
  private val tracer = new Tracer
  private val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(s"perfbench-${a.workload}")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", a.work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  private val jobMeter = if (a.trace) Some(new JobMeter) else None
  jobMeter.foreach(spark.sparkContext.addSparkListener)
  private val triggerMeter = if (a.trace) Some(new TriggerMeter) else None
  triggerMeter.foreach(spark.streams.addListener)

  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var batchesFailed = 0
  private val setupRepS = mutable.ArrayBuffer.empty[Double]
  private val generateS = mutable.ArrayBuffer.empty[Double]
  private val stageS = mutable.ArrayBuffer.empty[Double]
  private val stamps = mutable.LinkedHashMap.empty[String, String]
  private val extra = mutable.LinkedHashMap.empty[String, Double]
  // closed-loop passes: (events, seconds from pass start to last emission)
  private val passes = mutable.ArrayBuffer.empty[(Long, Double)]

  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  private def timed[A](into: mutable.ArrayBuffer[Double])(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally into += (System.nanoTime() - t0) / 1e9
  }

  /** Repeat the input set-up [[Harness.SetupReps]] times; keep the last. */
  private def setup[A](prepare: Boolean => A): A = {
    var kept: Option[A] = None
    for (rep <- 0 until Harness.SetupReps) {
      Changelog.resetSession(spark)
      kept = Some(timed(setupRepS)(prepare(rep == Harness.SetupReps - 1)))
    }
    kept.get
  }

  /** The class-data training run (`--workload train`): session start,
    * input generation and a SQL query, which load the classes every
    * workload loads before its first batch.
    */
  def train(): Int = {
    val t = Inputs.tables(spark, Harness.TrainSf, a.seed)
    Changelog.generateFrom(t.li, t.or, t.cu).localCheckpoint().count()
    Inputs.oracleTop20(spark, t)
    spark.stop()
    0
  }

  private def loadavg: String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split("\\s+").take(3).mkString(" ")

  private def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  /** Host CPU time stolen by the hypervisor so far (the `steal` column of
    * /proc/stat, in USER_HZ = 1/100 s): a validity stamp for noisy hosts.
    */
  private def stealSeconds: Double =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100.0)
      .getOrElse(Double.NaN)

  /** CPU time of this JVM so far (all threads). */
  private def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  // ------------------------------------------------------------------
  // layer calls, each in its own span under the batch span
  // ------------------------------------------------------------------

  private def fetch(bs: Span, batch: DataFrame): (DataFrame, Long) =
    tracer.span("fetch", bs.id, bs.batch) { _ =>
      val p = batch.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }

  private def step(bs: Span, st: IncrementalQ3.State, lines: DataFrame,
                   spillDir: Option[String]): IncrementalQ3.State =
    tracer.span("step", bs.id, bs.batch) { s =>
      val next = IncrementalQ3.step(st, lines, spillDir = spillDir)
      if (st.dirty > 0 && next.dirty == 0) bs.attrs("compacted") = 1
      if (a.trace) {
        val ph = PhaseTap.take()
        def sum(n: String) = ph.filter(_._1 == n).map(_._2).sum
        s.attrs("phase.parse_s") = sum("ivm.step.parsePin")
        s.attrs("phase.build_s") = sum("ivm.step.build")
      }
      next
    }

  /** A batch span that also records the CPU time this JVM spent in it. */
  private def batchSpan(id: Long)(body: Span => Unit): Span = {
    val cpu0 = processCpuSeconds
    val bs = tracer.timed("batch", batch = id)(body)
    bs.attrs("cpu_s") = processCpuSeconds - cpu0
    bs
  }

  private def emit(bs: Span, st: IncrementalQ3.State): Seq[(Long, String, String, Double)] =
    tracer.span("emit", bs.id, bs.batch)(_ => Inputs.rows(IncrementalQ3.topN(st)))

  private def snapshot(bs: Span, save: => Unit): Unit =
    tracer.span("snapshot", bs.id, bs.batch)(_ => save)

  /** Traced-only state measurements, taken after the batch span closes. */
  private def traceState(bs: Span, st: IncrementalQ3.State, countRows: Boolean): Unit =
    if (a.trace) {
      if (countRows) bs.attrs("state_rows") = st.all.map(_.count()).sum.toDouble
      bs.attrs("spill_versions") = st.spillHistory.headOption.getOrElse(0L).toDouble
    }

  private def dirBytes(root: Path): Double =
    if (!Files.exists(root)) 0.0
    else {
      val files = Files.walk(root)
      try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
      finally files.close()
    }

  /** Bytes of regular files under `root` whose inode was not there before
    * (hard links to earlier files count once).
    */
  private def newBytes(root: Path, seen: mutable.Set[Any]): Double =
    if (!Files.exists(root)) 0.0
    else {
      val files = Files.walk(root)
      try files.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        val ino: Any = Files.getAttribute(p, "unix:ino")
        if (seen.add(ino)) Files.size(p).toDouble else 0.0
      }.sum
      finally files.close()
    }

  // ------------------------------------------------------------------
  // workloads
  // ------------------------------------------------------------------

  private def deadlineAfter(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** Let the query finish committing (and report progress for) the batch
    * it last ran before it is stopped.
    */
  private def awaitCommitted(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val last = tracer.closed.filter(_.name == "batch").lastOption.map(_.batch).getOrElse(-1L)
    val deadline = deadlineAfter(5.0)
    while (q.isActive && System.nanoTime() < deadline &&
      Option(q.lastProgress).forall(_.batchId < last)) Thread.sleep(10)
  }

  /** Closed loops run whole measured passes: the first always, another
    * only if a pass as long as the last one still ends before the deadline.
    */
  private def another(deadline: Long): Boolean =
    passes.isEmpty || System.nanoTime() + (passes.last._2 * 1e9).toLong <= deadline

  /** Untimed warm-up between the set-up and the measured window: the
    * measured fold calls on the measured input, so that the measured
    * batches run on JIT-compiled code and on plan shapes Spark has already
    * compiled, instead of paying the JVM's warm-up in their first pass. Its
    * time is the per-layer `setup.warmup_s`; the phases it logged are
    * dropped.
    */
  private def warmUp(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    extra("warmup_s") = (System.nanoTime() - t0) / 1e9
    if (a.trace) PhaseTap.take()
  }

  /** Closed loop, no transport: the two-phase ±cycle folded in 8
    * trigger-ordered batches, top-20 emitted after each. One untimed pass
    * warms up; the measured passes follow.
    */
  private def cycleFold(): Unit = {
    val k = 8
    val sf = a.sf.getOrElse(Harness.CycleSf)
    val (t, ev, lines) = setup { _ =>
      val t = Inputs.tables(spark, sf, a.seed)
      val ev = timed(generateS)(Changelog.generateFrom(t.li, t.or, t.cu).localCheckpoint())
      val tMax = ev.agg(max(col("t"))).head().getLong(0)
      val batched = ev.withColumn("batch",
        least(expr(s"CAST(((t - 1L) * ${k}L) DIV ${tMax}L AS INT)"), lit(k - 1)))
      (t, ev, (0 until k).map(b => batched.filter(col("batch") === b).select("line")))
    }
    val perBatch = lines.map(_.count())
    stamps("changelog_fingerprint") = Inputs.fingerprint(ev)
    val oracle = Inputs.oracleTop20(spark, t)
    warmUp {
      var st = IncrementalQ3.init(spark)
      lines.foreach { l => st = IncrementalQ3.step(st, l); Inputs.rows(IncrementalQ3.topN(st)) }
    }
    measure { deadline =>
      var pass = 0
      while (another(deadline)) {
        var last = tracer.nowMs
        var busy = 0.0 // pass time without the traced-only state counts
        var st = IncrementalQ3.init(spark)
        for (b <- 0 until k) {
          val bs = batchSpan(b) { bs =>
            bs.attrs("pass") = pass
            bs.attrs("events") = perBatch(b).toDouble
            if (!(a.fault && pass == 0 && b == 1)) st = step(bs, st, lines(b), None)
            val top = emit(bs, st)
            if (b == 3) check(s"cycle_fold.pass$pass.top20_after_inserts", top == oracle,
              s"top-20 after the insert phase differs from the oracle: ${top.take(3)} vs ${oracle.take(3)}")
          }
          bs.attrs("latency_s") = (bs.endMs - last) / 1000.0
          busy += bs.attrs("latency_s")
          traceState(bs, st, countRows = true)
          last = tracer.nowMs
        }
        passes += ((perBatch.sum, busy))
        val residue = st.agg.count()
        check(s"cycle_fold.pass$pass.final_empty", residue == 0L,
          s"$residue groups left after every insert was retracted")
        pass += 1
      }
    }
  }

  /** Open loop: a growing replay log published in fixed chunks on a fixed
    * interval (no backpressure), folded by a Structured Streaming query on
    * a fixed processing-time trigger: pin → step (with spill) → delta
    * snapshot → top-20. The query's first [[Harness.LiveWarmBatches]]
    * batches (its first compaction cycle) are its warm-up; publication
    * lasts [[Harness.LiveWarmS]] plus `--seconds`, and the batches after
    * the warm-up are measured.
    */
  private def replayLive(): Unit = {
    val sf = a.sf.getOrElse(Harness.LiveSf)
    val intervalMs = 250L
    val warmBatches = Harness.LiveWarmBatches
    val chunks = math.max(8, ((Harness.LiveWarmS + a.seconds) * 1000L / intervalMs).toInt)
    // publication starts as soon as the log is staged: each set-up
    // repetition closes its log, and the measured one is staged last
    def stage(ordered: DataFrame) = ReplayServer.serveGrowing(ordered, chunks = chunks,
      intervalMs = intervalMs, maxAheadChunks = 0)
    val (ev, ordered) = setup { _ =>
      val t = Inputs.tables(spark, sf, a.seed)
      val nL = t.li.count()
      val ev = timed(generateS)(Changelog.generateFrom(t.li, t.or, t.cu,
        capacity = Some(math.max(1L, nL / 4))).localCheckpoint())
      val ordered = ev.orderBy(col("t"), col("sub"), col("idx")).select(col("line"))
      timed(stageS)(stage(ordered)).close()
      (ev, ordered)
    }
    stamps("changelog_fingerprint") = Inputs.fingerprint(ev)
    val handle = stage(ordered)
    val total = handle.expected
    val chunkSize = math.max(1L, total / chunks)
    val poller = new CountPoller(handle.port, tracer)
    val spillRoot = a.work.resolve("live-spill").toString
    val snapDir = a.work.resolve("live-snap")
    val snapSeen = mutable.Set.empty[Any]
    var st = IncrementalQ3.init(spark)
    var folded = 0L
    val lastOffset = new java.util.concurrent.atomic.AtomicLong(0L)
    val warmedAtMs = new java.util.concurrent.atomic.AtomicLong(-1L)
    val queryStartMs = tracer.nowMs
    try {
      val q = spark.readStream
        .format(classOf[ReplayProvider].getName)
        .option("host", "127.0.0.1").option("port", handle.port.toString)
        .option("batchSize", total.toString)
        .option("minBatchSize", "1")
        .option("splits", "0")
        .load()
        .writeStream
        .option("checkpointLocation", a.work.resolve("live-ckpt").toString)
        .trigger(Trigger.ProcessingTime(Harness.LiveTriggerMs))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          if (id < warmBatches) {
            val pinned = batch.persist(StorageLevel.MEMORY_AND_DISK)
            val n = pinned.count()
            st = IncrementalQ3.step(st, pinned, spillDir = Some(spillRoot))
            folded += n
            Snapshots.saveBatchAuto(st, snapDir.toString, id)
            Inputs.rows(IncrementalQ3.topN(st))
            pinned.unpersist(blocking = false)
            lastOffset.addAndGet(n)
            if (a.trace) PhaseTap.take()
            if (id == warmBatches - 1) warmedAtMs.set(tracer.nowMs.toLong)
          } else {
            val bs = batchSpan(id) { bs =>
              try {
                val (pinned, n) = fetch(bs, batch)
                if (!(a.fault && id == warmBatches + 1)) {
                  st = step(bs, st, pinned, Some(spillRoot))
                  folded += n
                }
                snapshot(bs, Snapshots.saveBatchAuto(st, snapDir.toString, id))
                emit(bs, st)
                pinned.unpersist(blocking = false)
                bs.attrs("events") = n.toDouble
                bs.attrs("offset_end") = lastOffset.addAndGet(n).toDouble
              } catch { case e: Throwable => batchesFailed += 1; throw e }
            }
            bs.attrs("latency_s") = (bs.endMs - poller.publishedAtMs(lastOffset.get)) / 1000.0
            if (a.trace) {
              bs.attrs("snapshot_bytes") = newBytes(snapDir, snapSeen)
              bs.attrs("spill_bytes") = dirBytes(Paths.get(spillRoot))
              traceState(bs, st, countRows = false)
            }
          }
        }
        .start()
      val hardStop = deadlineAfter(Harness.LiveWarmS + a.seconds + 90.0)
      try {
        while (q.isActive && System.nanoTime() < hardStop && warmedAtMs.get < 0) Thread.sleep(20)
        extra("warmup_s") = (warmedAtMs.get - queryStartMs) / 1000.0
        measure { _ =>
          while (q.isActive && System.nanoTime() < hardStop &&
            !(poller.latest >= total && lastOffset.get >= total)) Thread.sleep(20)
          awaitCommitted(q)
        }
      } finally q.stop()
      q.exception.foreach(e => check("replay_live.query", ok = false, e.getMessage))
    } finally poller.close()
    val published = ReplayServer.count("127.0.0.1", handle.port)
    handle.close()
    check("replay_live.exactly_once", folded == published && published == total,
      s"folded $folded events, published $published of $total")
    check("replay_live.no_backlog", lastOffset.get == published,
      s"consumed to offset $lastOffset, published $published")
    if (a.trace) extra("state.rows") = st.all.map(_.count()).sum.toDouble
    val residue = st.agg.count()
    check("replay_live.final_empty", residue == 0L,
      s"$residue groups left after the sliding window drained")
    stamps("generator_lateness_max_s") = f"${poller.latenessMaxS(chunkSize, intervalMs)}%.4f"
    extra("gen.lateness_max_s") = poller.latenessMaxS(chunkSize, intervalMs)
    stamps("offered_events_per_s") = f"${total / (chunks * intervalMs / 1000.0)}%.1f"
    stamps("warm_batches") = warmBatches.toString
    val batches = tracer.closed.filter(_.name == "batch")
    if (batches.nonEmpty && warmedAtMs.get > 0)
      passes += ((batches.map(_.attrs.getOrElse("events", 0.0)).sum.toLong,
        (batches.last.endMs - warmedAtMs.get) / 1000.0))
  }

  /** Closed-loop catch-up over the partitioned transport: three
    * per-relation logs, fully staged, drained by a fresh query and a fresh
    * state in [[Harness.CdcBatches]] batches per pass: pin → step (spilling
    * on the compaction cadence) → snapshot → top-20, after an untimed
    * warm-up of the fold, snapshot and emission calls.
    */
  private def cdcBackfill(): Unit = {
    val sf = a.sf.getOrElse(Harness.CdcSf)
    val k = Harness.CdcBatches
    val (t, ev, handles) = setup { keep =>
      val t = Inputs.tables(spark, sf, a.seed)
      val ev = timed(generateS)(Changelog.generateFrom(t.li, t.or, t.cu,
        insertOnly = true).localCheckpoint())
      val logs = Seq("LI", "OR", "CU").map(tag =>
        ev.filter(substring(col("line"), 2, 2) === tag)
          .orderBy(col("t"), col("sub"), col("idx")).select(col("line")))
      val hs = timed(stageS)(logs.map(ReplayServer.serve))
      if (!keep) hs.foreach(_.close())
      (t, ev, hs)
    }
    stamps("changelog_fingerprint") = Inputs.fingerprint(ev)
    val staged = handles.map(_.expected).sum
    stamps("partition_events") = handles.map(_.expected).mkString(",")
    val oracle = Inputs.oracleTop20(spark, t)
    // a pass's fold, snapshot and emission calls on the changelog cut into
    // k batches by trigger order; the query and the transport, a small share
    // of a batch, start cold in the measured pass
    warmUp {
      val tMax = ev.agg(max(col("t"))).head().getLong(0)
      val batched = ev.withColumn("batch",
        least(expr(s"CAST(((t - 1L) * ${k}L) DIV ${tMax}L AS INT)"), lit(k - 1)))
      var st = IncrementalQ3.init(spark)
      for (b <- 0 until k) {
        st = IncrementalQ3.step(st, batched.filter(col("batch") === b).select("line"),
          spillDir = Some(a.work.resolve("cdc-warm-spill").toString))
        Snapshots.saveBatchAuto(st, a.work.resolve("cdc-warm-snap").toString, b)
        Inputs.rows(IncrementalQ3.topN(st))
      }
    }
    var pass = 0
    def drain(): Unit = {
      val snapDir = a.work.resolve(s"cdc-snap-$pass")
      val spillRoot = a.work.resolve(s"cdc-spill-$pass")
      val snapSeen = mutable.Set.empty[Any]
      var st = IncrementalQ3.init(spark)
      var folded = 0L
      var top = Seq.empty[(Long, String, String, Double)]
      var last = tracer.nowMs
      val passStart = last
      val q = spark.readStream
        .format(classOf[PartitionedReplayProvider].getName)
        .option("host", "127.0.0.1")
        .option("ports", handles.map(_.port).mkString(","))
        .option("batchSize", ((staged + k - 1) / k).toString)
        .load()
        .writeStream
        .option("checkpointLocation", a.work.resolve(s"cdc-ckpt-$pass").toString)
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val bs = batchSpan(id) { bs =>
            try {
              bs.attrs("pass") = pass
              val (pinned, n) = fetch(bs, batch)
              if (!(a.fault && pass == 0 && id == 1)) {
                st = step(bs, st, pinned, Some(spillRoot.toString))
                folded += n
              }
              snapshot(bs, Snapshots.saveBatchAuto(st, snapDir.toString, id))
              top = emit(bs, st)
              pinned.unpersist(blocking = false)
              bs.attrs("events") = n.toDouble
            } catch { case e: Throwable => batchesFailed += 1; throw e }
          }
          bs.attrs("latency_s") = (bs.endMs - last) / 1000.0
          last = bs.endMs
          if (a.trace) {
            bs.attrs("snapshot_bytes") = newBytes(snapDir, snapSeen)
            bs.attrs("spill_bytes") = dirBytes(spillRoot)
            traceState(bs, st, countRows = false)
          }
        }
        .start()
      val hardStop = deadlineAfter(a.seconds + 90.0)
      var consumed = 0L
      try {
        while (q.isActive && System.nanoTime() < hardStop && consumed < staged) {
          Thread.sleep(20)
          consumed = tracer.closed.filter(s => s.name == "batch" && s.attrs.get("pass").contains(pass.toDouble))
            .map(_.attrs.getOrElse("events", 0.0)).sum.toLong
        }
        awaitCommitted(q)
      } finally q.stop()
      q.exception.foreach(e => check(s"cdc_backfill.pass$pass.query", ok = false, e.getMessage))
      if (a.trace) extra("state.rows") = math.max(extra.getOrElse("state.rows", 0.0),
        st.all.map(_.count()).sum.toDouble)
      passes += ((folded, (last - passStart) / 1000.0))
      check(s"cdc_backfill.pass$pass.rows", folded == staged,
        s"folded $folded of $staged staged events")
      check(s"cdc_backfill.pass$pass.top20", top == oracle,
        s"final top-20 differs from the oracle: ${top.take(3)} vs ${oracle.take(3)}")
      pass += 1
    }
    try measure { deadline => while (another(deadline)) drain() }
    finally handles.foreach(_.close())
  }

  // ------------------------------------------------------------------
  // measurement window and report
  // ------------------------------------------------------------------

  private var measureS = 0.0
  private var gcS = 0.0
  private var heapPeakMb = 0.0

  private def measure(body: Long => Unit): Unit = {
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds
    val steal0 = stealSeconds
    val cpu0 = processCpuSeconds
    val t0 = System.nanoTime()
    try body(deadlineAfter(a.seconds))
    finally {
      measureS = (System.nanoTime() - t0) / 1e9
      stamps("cpu_steal_s") = f"${stealSeconds - steal0}%.2f"
      stamps("process_cpu_s") = f"${processCpuSeconds - cpu0}%.2f"
      gcS = gcSeconds - gc0
      heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    }
  }

  def execute(): Int = {
    stamps("loadavg_start") = loadavg
    a.workload match {
      case "cycle_fold" => cycleFold()
      case "replay_live" => replayLive()
      case "cdc_backfill" => cdcBackfill()
    }
    stamps("loadavg_end") = loadavg
    val m = new Metrics(tracer.closed, jobMeter, triggerMeter,
      streaming = a.workload != "cycle_fold")
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val batches = m.batches
    val latencies = batches.map(_.attrs.getOrElse("latency_s", Double.NaN))
    e2e("setup_s") = (sessionS + Stats.median(setupRepS.toSeq), "s")
    e2e("events_per_s") = (passes.map(_._1).sum / passes.map(_._2).sum, "events/s")
    e2e("latency_p50_s") = (Stats.median(latencies), "s")
    // one batch (the compacting one) on the benchmarked workloads: in the
    // record and among the traced metrics, not bounded end to end
    val latencyMax = "latency_max_s" -> (if (latencies.isEmpty) Double.NaN else latencies.max, "s")

    val layers = m.layers.map {
      case ("state.rows", (v, u)) => "state.rows" -> (math.max(v, extra.getOrElse("state.rows", 0.0)), u)
      case kv => kv
    } ++ Seq(
      "changelog.generate_s" -> (Stats.median(generateS.toSeq), "s"),
      "sources.replay.stage_s" -> (if (stageS.isEmpty) 0.0 else Stats.median(stageS.toSeq), "s"),
      "jvm.gc_s" -> (gcS, "s"),
      "jvm.heap_peak_mb" -> (heapPeakMb, "MB"),
      "jvm.rss_peak_mb" -> (rssPeakMb, "MB"),
      "setup.session_s" -> (sessionS, "s"),
      "setup.warmup_s" -> (extra.getOrElse("warmup_s", 0.0), "s"),
      "gen.lateness_max_s" -> (extra.getOrElse("gen.lateness_max_s", 0.0), "s")) ++
      (e2e.toSeq :+ latencyMax).map { case (k, v) => s"traced.$k" -> v }
    if (a.trace) {
      val cov = m.coverage
      check("trace.layer_sum_within_5pct", cov.forall(c => c >= 0.95 && c <= 1.05),
        s"per-batch layer sum / wall out of [0.95, 1.05]: ${cov.map(c => f"$c%.3f").mkString(",")}")
      tracer.writeJsonl(Paths.get(a.record.toString.stripSuffix(".json") + ".spans.jsonl"))
    }
    val attempted = batches.size + checks.size
    val failed = batchesFailed + checks.count(!_._2)
    val correct = failed == 0 && batches.nonEmpty
    val reported = if (a.trace) layers else e2e.toSeq

    stamps("workload") = a.workload
    stamps("seed") = a.seed.toString
    stamps("seconds") = a.seconds.toString
    stamps("trace") = a.trace.toString
    stamps("nproc") = Runtime.getRuntime.availableProcessors.toString
    stamps("master") = spark.sparkContext.master
    stamps("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    stamps("heap_max_mb") = (Runtime.getRuntime.maxMemory / 1048576L).toString
    stamps("session_start_s") = f"$sessionS%.3f"
    stamps("measure_s") = f"$measureS%.3f"
    stamps("batches") = batches.size.toString
    stamps("passes") = passes.size.toString
    a.stamps.foreach { case (k, v) => stamps(k) = v }
    writeRecord((e2e.toSeq :+ latencyMax) ++ layers, correct, attempted, failed, m)

    def metric(kv: (String, (Double, String))) =
      s"${Json.str(kv._1)}: {\"value\": ${Json.num(kv._2._1)}, \"unit\": ${Json.str(kv._2._2)}}"
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${reported.map(metric).mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    if (correct) 0 else 1
  }

  private def writeRecord(all: Seq[(String, (Double, String))], correct: Boolean,
                          attempted: Int, failed: Int, m: Metrics): Unit = {
    val sb = new StringBuilder("{\n")
    sb ++= s"""  "correct": $correct, "attempted": $attempted, "failed": $failed,\n"""
    sb ++= "  \"stamps\": {" + stamps.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString(", ") + "},\n"
    sb ++= "  \"checks\": [" + checks.map { case (n, ok, d) =>
      s"""{"name": ${Json.str(n)}, "ok": $ok, "detail": ${Json.str(d)}}""" }.mkString(", ") + "],\n"
    sb ++= "  \"metrics\": {" + all.map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
      .mkString(", ") + "},\n"
    sb ++= "  \"setup_reps_s\": [" + setupRepS.map(Json.num).mkString(", ") + "],\n"
    sb ++= "  \"batches\": [\n" + m.batchRows.map("    " + _).mkString(",\n") + "\n  ]\n}\n"
    Files.createDirectories(a.record.getParent)
    Files.write(a.record, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Polls the replay server's published count and remembers when each
  * count was first seen, so a batch's latency can start at the moment its
  * newest event was published.
  */
final class CountPoller(port: Int, clock: Tracer, everyMs: Long = 5L) extends AutoCloseable {
  private val seen = new java.util.concurrent.ConcurrentSkipListMap[Long, Double]()
  @volatile private var running = true
  @volatile var latest = 0L
  private val thread = new Thread(() => {
    while (running) {
      try {
        val n = ReplayServer.count("127.0.0.1", port)
        if (n > latest) { seen.put(n, clock.nowMs); latest = n }
      } catch { case _: Throwable => () }
      Thread.sleep(everyMs)
    }
  }, "perfbench-count-poller")
  thread.setDaemon(true)
  thread.start()

  /** When the count first reached `offset` (epoch ms). */
  def publishedAtMs(offset: Long): Double = {
    val e = seen.ceilingEntry(offset)
    if (e == null) clock.nowMs else e.getValue
  }
  def firstPublishMs: Double = if (seen.isEmpty) clock.nowMs else seen.firstEntry.getValue

  /** Largest delay of a chunk's publication against the fixed schedule
    * anchored at the first chunk.
    */
  def latenessMaxS(chunkSize: Long, intervalMs: Long): Double = {
    val t0 = firstPublishMs
    seen.asScala.map { case (n, ms) =>
      val chunk = (n + chunkSize - 1) / chunkSize - 1
      (ms - t0 - chunk * intervalMs) / 1000.0
    }.foldLeft(0.0)(math.max)
  }
  override def close(): Unit = { running = false; thread.join(1000) }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
