package perfbench

/** Per-batch layer table and the per-layer metrics derived from the spans.
  *
  * A batch span's children are its `fetch`, `step`, `snapshot` and `emit`
  * spans. Spark jobs are attributed to a span by submission time; the
  * Structured Streaming trigger of a batch is looked up by (pass, batch id).
  * A batch's wall time is its trigger's `triggerExecution` when it ran
  * under Structured Streaming, else its turnaround (previous emission to
  * this emission); the layers must cover that wall time.
  */
final class Metrics(spans: Seq[Span], jobs: Option[JobMeter],
                    triggers: Option[TriggerMeter], streaming: Boolean) {
  val batches: Seq[Span] = spans.filter(_.name == "batch")
  private val children = spans.filter(_.parent >= 0).groupBy(_.parent)
  jobs.foreach(_.drain())
  if (streaming) triggers.foreach(_.drain(batches.map(b => (pass(b), b.batch))))

  private def pass(b: Span): Int = b.attrs.getOrElse("pass", 0.0).toInt
  private def child(b: Span, name: String): Option[Span] =
    children.getOrElse(b.id, Nil).find(_.name == name)
  private def secs(b: Span, name: String): Double = child(b, name).map(_.seconds).getOrElse(0.0)
  private def jobsIn(s: Option[Span]) = (for (m <- jobs; sp <- s) yield m.within(sp)).getOrElse(Nil)

  /** One row of named values per batch. */
  val table: Seq[(Span, Map[String, Double])] = batches.map { b =>
    val trig = if (streaming) triggers.flatMap(_.get(pass(b), b.batch)) else None
    def d(k: String) = trig.flatMap(_.get(k)).map(_ / 1000.0).getOrElse(0.0)
    val step = child(b, "step")
    val stepS = secs(b, "step")
    val parse = step.flatMap(_.attrs.get("phase.parse_s")).getOrElse(0.0)
    val build = step.flatMap(_.attrs.get("phase.build_s")).getOrElse(0.0)
    val stepJobs = jobsIn(step)
    val ssOverhead = if (trig.isDefined) d("triggerExecution") - d("addBatch") else 0.0
    val wall = if (trig.isDefined) d("triggerExecution") else b.attrs.getOrElse("latency_s", b.seconds)
    val layerSum = secs(b, "fetch") + stepS + secs(b, "snapshot") + secs(b, "emit") + ssOverhead
    b -> (b.attrs.toMap ++ Map(
      "batch.wall_s" -> wall,
      "batch.jobs" -> jobsIn(Some(b)).size.toDouble,
      "sources.replay.fetch_s" -> secs(b, "fetch"),
      "sources.replay.fetch_tasks" -> jobsIn(child(b, "fetch")).map(_.tasks).sum.toDouble,
      "sources.replay.admit_s" -> d("latestOffset"),
      "ss.trigger_overhead_s" -> ssOverhead,
      "fold.step_s" -> stepS,
      "fold.parse_s" -> parse,
      "fold.delta_join_s" -> math.max(0.0, build - parse),
      "fold.upkeep_s" -> math.max(0.0, stepS - build),
      "fold.jobs_per_batch" -> stepJobs.size.toDouble,
      "fold.tasks_per_batch" -> stepJobs.map(_.tasks).sum.toDouble,
      "fold.task_s" -> stepJobs.map(_.taskMs).sum / 1000.0,
      "fold.shuffle_read_bytes" -> stepJobs.map(_.shuffleRead).sum.toDouble,
      "fold.shuffle_write_bytes" -> stepJobs.map(_.shuffleWrite).sum.toDouble,
      "fold.disk_spill_bytes" -> stepJobs.map(_.diskSpill).sum.toDouble,
      "snapshot.save_s" -> secs(b, "snapshot"),
      "emit.topn_s" -> secs(b, "emit"),
      "trace.coverage" -> (if (wall > 0) layerSum / wall else Double.NaN)))
  }

  def coverage: Seq[Double] = table.map(_._2("trace.coverage"))

  private def med(k: String) = Stats.median(table.map(_._2.getOrElse(k, 0.0)))
  private def maxOf(k: String) = table.map(_._2.getOrElse(k, 0.0)).foldLeft(0.0)(math.max)

  /** Per-layer metrics: per-batch medians, except where a count or a
    * high-water mark is the quantity.
    */
  def layers: Seq[(String, (Double, String))] = {
    val s = "s"; val c = "count"; val b = "B"
    Seq(
      "sources.replay.fetch_s" -> (med("sources.replay.fetch_s"), s),
      "sources.replay.fetch_tasks" -> (med("sources.replay.fetch_tasks"), c),
      "sources.replay.admit_s" -> (med("sources.replay.admit_s"), s),
      "ss.trigger_overhead_s" -> (med("ss.trigger_overhead_s"), s),
      "fold.step_s" -> (med("fold.step_s"), s),
      "fold.parse_s" -> (med("fold.parse_s"), s),
      "fold.delta_join_s" -> (med("fold.delta_join_s"), s),
      "fold.upkeep_s" -> (med("fold.upkeep_s"), s),
      "fold.jobs_per_batch" -> (med("fold.jobs_per_batch"), c),
      "fold.tasks_per_batch" -> (med("fold.tasks_per_batch"), c),
      "fold.task_s" -> (med("fold.task_s"), s),
      "fold.shuffle_read_bytes" -> (med("fold.shuffle_read_bytes"), b),
      "fold.shuffle_write_bytes" -> (med("fold.shuffle_write_bytes"), b),
      "fold.disk_spill_bytes" -> (med("fold.disk_spill_bytes"), b),
      "fold.compact_batches" -> (table.count(_._2.contains("compacted")).toDouble, c),
      "state.rows" -> (maxOf("state_rows"), c),
      "snapshot.save_s" -> (med("snapshot.save_s"), s),
      "snapshot.bytes_written" -> (med("snapshot_bytes"), b),
      "spill.bytes_on_disk" -> (maxOf("spill_bytes"), b),
      "spill.versions" -> (maxOf("spill_versions"), c),
      "emit.topn_s" -> (med("emit.topn_s"), s),
      "batch.wall_s" -> (med("batch.wall_s"), s),
      "batch.jobs" -> (med("batch.jobs"), c),
      "trace.coverage_min" -> (coverage.filterNot(_.isNaN).foldLeft(Double.MaxValue)(math.min), "ratio"),
      "trace.coverage_p50" -> (Stats.median(coverage), "ratio"))
  }

  /** The per-batch table as JSON objects (one string per batch). */
  def batchRows: Seq[String] = table.map { case (b, row) =>
    val cells = Seq(s""""batch": ${b.batch}""", f""""start_ms": ${b.startMs}%.3f""") ++
      row.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
    cells.mkString("{", ", ", "}")
  }
}
