package perfbench

/** The per-layer metrics of a traced run. Each is computed per traced
  * round (a pass over the query list, or one CDC micro-batch cycle)
  * and reported as the median over traced rounds. A layer that a
  * workload does not reach reads 0.
  */
object Layers {

  final case class Metric(name: String, unit: String, better: String)

  val Metrics: Seq[Metric] = Seq(
    Metric("operators.construct_s", "s", "lower"),
    Metric("operators.eager_jobs", "count", "lower"),
    Metric("planning.plan_s", "s", "lower"),
    Metric("exec.exec_s", "s", "lower"),
    Metric("exec.jobs", "count", "lower"),
    Metric("exec.stages", "count", "lower"),
    Metric("exec.tasks", "count", "lower"),
    Metric("exec.task_p50_ms", "ms", "lower"),
    Metric("exec.task_max_ms", "ms", "lower"),
    Metric("exec.shuffle_read_bytes", "bytes", "lower"),
    Metric("exec.shuffle_write_bytes", "bytes", "lower"),
    Metric("exec.spill_bytes", "bytes", "lower"),
    Metric("exec.gc_s", "s", "lower"),
    Metric("sources.input_bytes", "bytes", "lower"),
    Metric("sources.input_rows", "rows", "lower"),
    Metric("streaming.trigger_s", "s", "lower"),
    Metric("streaming.plan_s", "s", "lower"),
    Metric("streaming.state_rows", "rows", "lower"),
    Metric("streaming.state_memory_bytes", "bytes", "lower"),
    Metric("sink.apply_s", "s", "lower"),
    Metric("sink.bytes_written", "bytes", "lower"),
    Metric("sink.read_s", "s", "lower"),
    Metric("trace.plain_round_s", "s", "lower"),
    Metric("trace.traced_round_s", "s", "lower"),
    Metric("trace.overhead_s", "s", "lower"))

  /** Timers the benchmark took around public calls in one traced round. */
  final case class Timers(constructS: Double, planS: Double, readS: Double, gcS: Double)

  /** Wall time covered by at least one of the [start, end) spans. */
  def covered(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((total, reach), (s, e)) =>
      if (e <= reach) (total, reach)
      else (total + e - math.max(s, reach), e)
    }._1

  /** The tags of one round, or of one op within it. */
  def select(tags: collection.Map[String, TagStats], round: Int, op: Option[String] = None): Seq[(String, TagStats)] =
    tags.toSeq.filter { case (tag, _) =>
      Tracer.round(tag) == round && op.forall(o => tag.startsWith(s"$round|$o|"))
    }

  /** Every listener-derived and timer-derived metric of the given tags. */
  def of(t: Timers, mine: Seq[(String, TagStats)]): Map[String, Double] = {
    val all = mine.map(_._2)
    def sum(f: TagStats => Long): Double = all.map(f).sum.toDouble
    def max(f: TagStats => Long): Double = if (all.isEmpty) 0.0 else all.map(f).max.toDouble
    val taskMs = all.flatMap(_.taskMs)
    Map(
      "operators.construct_s" -> t.constructS,
      "operators.eager_jobs" ->
        mine.collect { case (tag, s) if Tracer.phase(tag) == "construct" => s.jobs }.sum.toDouble,
      "planning.plan_s" -> t.planS,
      "exec.exec_s" -> covered(all.flatMap(_.jobSpans)) / 1000.0,
      "exec.jobs" -> sum(_.jobs),
      "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.task_p50_ms" -> (if (taskMs.isEmpty) 0.0 else Stats.median(taskMs)),
      "exec.task_max_ms" -> (if (taskMs.isEmpty) 0.0 else taskMs.max),
      "exec.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "exec.spill_bytes" -> sum(_.spillBytes),
      "exec.gc_s" -> t.gcS,
      "sources.input_bytes" -> sum(_.inputBytes),
      "sources.input_rows" -> sum(_.inputRows),
      "streaming.trigger_s" -> sum(_.triggerMs) / 1000.0,
      "streaming.plan_s" -> sum(_.planMs) / 1000.0,
      "streaming.state_rows" -> max(_.stateRows),
      "streaming.state_memory_bytes" -> max(_.stateMemoryBytes),
      "sink.apply_s" -> sum(_.addBatchMs) / 1000.0,
      "sink.bytes_written" -> sum(_.outputBytes),
      "sink.read_s" -> t.readS)
  }

  /** Median of each metric over the traced rounds, plus the tracing
    * overhead: traced minus plain round wall time, both medians.
    */
  def summarize(rounds: Seq[Map[String, Double]], plainRoundS: Seq[Double],
      tracedRoundS: Seq[Double]): Map[String, Double] = {
    val plain = Stats.median(plainRoundS)
    val traced = Stats.median(tracedRoundS)
    rounds.head.keys.map(k => k -> Stats.median(rounds.map(_(k)))).toMap ++ Map(
      "trace.plain_round_s" -> plain,
      "trace.traced_round_s" -> traced,
      "trace.overhead_s" -> (traced - plain))
  }
}
