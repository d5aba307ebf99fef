package chainbench

/** Per-layer figures of a traced run, taken over a workload's measured
  * operations: each figure is the median, over those operations, of what
  * the matching spans under one operation add up to.
  */
final class Layers(t: Trace, ops: Seq[Op], cores: Int) {
  private val opSpans: Seq[Span] = {
    val byId = t.all.map(s => s.id -> s).toMap
    ops.flatMap(o => byId.get(o.spanId))
  }

  private def med(f: Span => Double): Double =
    if (opSpans.isEmpty) 0.0 else Run.median(opSpans.map(f))

  private def named(op: Span, name: String): Seq[Span] =
    t.subtree(op.id).filter(_.name == name)

  private def sumCounters(spans: Seq[Span]): Counters = {
    val c = new Counters
    spans.foreach(s => c += t.rolled(s))
    c
  }

  def seconds(name: String): Double = med(op => named(op, name).map(_.dur).sum / 1e9)

  def counters(name: String)(f: Counters => Double): Double =
    med(op => f(sumCounters(named(op, name))))

  def jobs(name: String): Double = counters(name)(_.jobs.toDouble)
  def shuffleMb(name: String): Double =
    counters(name)(c => (c.shuffleReadB + c.shuffleWriteB) / 1e6)
  def spillMb(name: String): Double = counters(name)(c => (c.memSpillB + c.diskSpillB) / 1e6)

  /** Engine-wide figures per operation. */
  def engine: Map[String, Double] = Map(
    "spark.jobs" -> med(op => t.rolled(op).jobs.toDouble),
    "spark.stages" -> med(op => t.rolled(op).stages.toDouble),
    "spark.tasks" -> med(op => t.rolled(op).tasks.toDouble),
    "spark.failed_tasks" -> med(op => t.rolled(op).failedTasks.toDouble),
    "spark.sched_delay_s" -> med(op => t.rolled(op).schedMs / 1e3),
    "spark.busy_ratio" -> med(op => t.rolled(op).runMs / 1e3 / (op.dur / 1e9 * cores)),
    "jvm.gc_s" -> med(op => op.gcMs / 1e3),
    "trace.op_s" -> med(op => op.dur / 1e9),
    "trace.coverage" -> {
      val wall = opSpans.map(_.dur).sum.toDouble
      if (wall == 0) 0.0
      else opSpans.map(op => t.covered(op.start, op.end, t.children(op.id))).sum / wall
    })
}
