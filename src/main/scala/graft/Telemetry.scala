package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkConf, SparkContext, TelemetryBus}
import org.apache.spark.scheduler._

/** The engine's one telemetry path. `phase(name) { … }` sets the nested path
  * `parent/name` as the thread-local Spark property [[PhaseKey]], which every job
  * the step starts carries (`spark.jobGroup.id` is never touched), and posts the
  * step's end on the SparkContext's listener bus; `route` posts a route decision
  * the same way. Nothing is kept here: a [[Sink]] the caller attaches collects
  * both and rolls task metrics up by phase; one built by
  * `-Dspark.extraListeners=graft.Telemetry$Sink` prints each record instead. */
object Telemetry {

  /** The Spark local property holding the open phase path. */
  val PhaseKey = "graft.phase"

  /** An operator's route: `rows` against `threshold` (-1 = no size cut), why, and its own fields. */
  final case class RouteDecision(op: String, route: String, rows: Long, threshold: Long,
      reason: String, detail: ListMap[String, Any] = ListMap.empty)

  sealed trait Record extends SparkListenerEvent { override def logEvent: Boolean = false } // not in the event log

  /** A posted route decision: the phase path it was made in, its thread. */
  final case class Route(phase: String, thread: String, decision: RouteDecision) extends Record {
    def fields: ListMap[String, Any] = ListMap("phase" -> phase, "op" -> decision.op,
      "route" -> decision.route, "rows" -> decision.rows, "threshold" -> decision.threshold,
      "reason" -> decision.reason)
  }

  /** A phase's wall and GC time and its own jobs' task metrics (peak = the largest task's). */
  final case class Work(wallNs: Long = 0, gcMs: Long = 0, jobs: Long = 0, tasks: Long = 0,
      runMs: Long = 0, cpuNs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
      peakBytes: Long = 0) {
    def +(o: Work): Work = Work(wallNs + o.wallNs, gcMs + o.gcMs, jobs + o.jobs,
      tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes,
      spillBytes + o.spillBytes, peakBytes max o.peakBytes)
    def fields: ListMap[String, Double] = ListMap("wall_s" -> wallNs / 1e9,
      "gc_s" -> gcMs / 1e3, "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
      "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9, "shuffle_mb" -> shuffleBytes / 1e6,
      "spill_mb" -> spillBytes / 1e6, "peak_mb" -> peakBytes / 1e6)
  }

  /** One ended phase, as posted (wall and GC only) and as a sink keeps it. */
  final case class Phase(path: String, thread: String, startNs: Long, work: Work) extends Record

  private[graft] def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** `x` rounded to `places` decimals, for a JSON artifact. */
  private[graft] def round(x: Double, places: Int): BigDecimal =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP)

  /** Run `f` as the phase `name`, nested under the thread's open phase. */
  def phase[A](name: String)(f: => A): A = TelemetryBus.active match {
    case None => f
    case Some(sc) =>
      val prior = sc.getLocalProperty(PhaseKey)
      val path = if (prior == null) name else s"$prior/$name"
      sc.setLocalProperty(PhaseKey, path)
      val (t0, gc0) = (System.nanoTime(), gcMs())
      try f
      finally {
        sc.setLocalProperty(PhaseKey, prior)
        TelemetryBus.post(sc, Phase(path, Thread.currentThread.getName, t0,
          Work(System.nanoTime() - t0, gcMs() - gc0)))
      }
  }

  /** Post one route decision, made in the thread's open phase. */
  def route(d: RouteDecision): Unit = TelemetryBus.active.foreach { sc =>
    TelemetryBus.post(sc, Route(Option(sc.getLocalProperty(PhaseKey)).getOrElse(""),
      Thread.currentThread.getName, d))
  }

  /** Collects the phase and route records posted while it is attached. */
  final class Sink private (print: Boolean) extends SparkListener {
    def this() = this(false)
    /** The `spark.extraListeners` form: prints each record instead of keeping it. */
    def this(conf: SparkConf) = this(true)

    // touched only on the bus's dispatch thread
    private val stagePhase = mutable.HashMap.empty[Int, String]
    private val open = mutable.HashMap.empty[String, Work]
    private val phaseLog = new ConcurrentLinkedQueue[Phase]
    private val routeLog = new ConcurrentLinkedQueue[Route]

    private def add(path: String, w: Work): Unit = open(path) = open.getOrElse(path, Work()) + w
    private def line(kind: String, fields: Iterable[(String, Any)]): Unit =
      println(fields.flatMap { case (k, v: Option[_]) => v.map(x => s"$k=$x"); case (k, v) => Some(s"$k=$v") }
        .mkString(s"[telemetry] $kind ", " ", ""))
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val path = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      e.stageIds.foreach(stagePhase(_) = path)
      add(path, Work(jobs = 1))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagePhase.remove(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = add(
      stagePhase.getOrElse(e.stageId, ""), Option(e.taskMetrics).fold(Work(tasks = 1)) { m =>
        Work(tasks = 1, runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
          shuffleBytes = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled, peakBytes = m.peakExecutionMemory)
      })
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: Phase =>
        val rec = p.copy(work = p.work + open.remove(p.path).getOrElse(Work()))
        if (!print) phaseLog.add(rec)
        else line("phase", ListMap("path" -> p.path) ++
          rec.work.fields.map { case (k, v) => k -> round(v, 3) } + ("thread" -> p.thread))
      case r: Route =>
        if (!print) routeLog.add(r) else line("route", r.fields ++ r.decision.detail)
      case _ =>
    }
    /** Wait until every event posted so far has reached the sink. */
    def drain(): Unit = TelemetryBus.active.foreach(TelemetryBus.drain)
    def phases: Seq[Phase] = phaseLog.asScala.toSeq
    def routes: Seq[Route] = routeLog.asScala.toSeq
  }

  /** One timed run: wall seconds, the result, and the run's records. */
  final case class Timed[+A](sec: Double, value: A, phases: Seq[Phase], routes: Seq[Route])

  /** Run `f` timed under a fresh sink on `sc`, the bus drained before and after (untimed). */
  def timed[A](sc: SparkContext)(f: => A): Timed[A] = {
    TelemetryBus.drain(sc)
    val sink = new Sink
    sc.addSparkListener(sink)
    try {
      val t0 = System.nanoTime()
      val a = f
      val sec = (System.nanoTime() - t0) / 1e9
      sink.drain()
      Timed(sec, a, sink.phases, sink.routes)
    } finally sc.removeSparkListener(sink)
  }

  /** Per path over samples (first start first): `n`, then medians of per-sample summed [[Work]]. */
  def summary(samples: Seq[Seq[Phase]]): ListMap[String, ListMap[String, Any]] =
    ListMap.from(samples.flatten.sortBy(_.startNs).map(_.path).distinct.map { path =>
      val per = samples.map(_.filter(_.path == path))
      val sums = per.map(_.map(_.work).foldLeft(Work())(_ + _).fields)
      path -> (ListMap[String, Any]("n" -> per.map(_.size).max) ++
        sums.head.keys.map(k => k -> round(Bench.median(sums.map(_(k))), 3)))
    })
}
