package chainbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval. Times are nanoseconds since the trace started.
  * `groups` names the Spark job groups whose task counters belong to this
  * span alone (its own group, or a streaming query's batch).
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long,
    gcMs: Long, groups: Seq[String]) {
  def dur: Long = end - start
}

/** Task-level counters rolled up per job group. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, schedMs = 0L
  var shuffleReadB, shuffleWriteB, memSpillB, diskSpillB = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedMs += o.schedMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    memSpillB += o.memSpillB; diskSpillB += o.diskSpillB
  }
}

/** Spans around calls into the engine's layers, kept in memory and written
  * out when the run ends. With tracing off `span` only runs its body: no
  * listener is registered and no job group is set, so the untraced runs
  * that give the end-to-end metrics pay nothing.
  *
  * With tracing on, every span sets its own Spark job group, and a
  * SparkListener rolls task metrics up per group, so each span knows the
  * jobs, tasks, shuffle and spill it caused. Streaming queries run on their
  * own threads under their run id as job group; their jobs are keyed by
  * (run id, batch id) and attached to the span recorded for that batch.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long, Long)]
  private var nextId = 1
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def now: Long = System.nanoTime() - t0

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def counters(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val g = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      val key = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(b => s"$g#$b").getOrElse(g)
      e.stageIds.foreach(s => stageGroup.put(s, key))
      val c = counters(key)
      c.synchronized(c.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageGroup.getOrDefault(e.stageId, ""))
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (!info.successful) c.failedTasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.memSpillB += m.memoryBytesSpilled
          c.diskSpillB += m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `f` as a span named `name`, nested under the open span. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name, now, gcMs) :: stack
      sc.setJobGroup(s"cb-$id", name, interruptOnCancel = false)
      try f
      finally {
        val (_, _, start, gc0) = stack.head
        stack = stack.tail
        spans += Span(id, name, parent, start, now, gcMs - gc0, Seq(s"cb-$id"))
        stack.headOption match {
          case Some((pid, pname, _, _)) => sc.setJobGroup(s"cb-$pid", pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Id of the innermost open span (0 at top level). */
  def current: Int = stack.headOption.map(_._1).getOrElse(0)

  /** Record a span timed elsewhere, e.g. a streaming batch. */
  def record(name: String, parent: Int, start: Long, end: Long, groups: Seq[String]): Unit =
    if (enabled) {
      spans += Span(nextId, name, parent, start, end, 0L, groups)
      nextId += 1
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.ChainbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def subtree(id: Int): Seq[Span] = {
    val kids = children(id)
    kids ++ kids.flatMap(k => subtree(k.id))
  }

  /** Part of [start, end] covered by the union of `parts`. */
  def covered(start: Long, end: Long, parts: Seq[Span]): Long = {
    var total = 0L
    var reach = start
    parts.map(s => (s.start.max(start), s.end.min(end))).filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - a.max(reach); reach = b }
      }
    total
  }

  def selfNs(s: Span): Long = s.dur - covered(s.start, s.end, children(s.id))

  /** Counters of one span alone (not its children). */
  def own(s: Span): Counters = {
    val c = new Counters
    s.groups.foreach(g => Option(byGroup.get(g)).foreach(c += _))
    c
  }

  /** Counters of a span and everything under it. */
  def rolled(s: Span): Counters = {
    val c = own(s)
    subtree(s.id).foreach(k => c += own(k))
    c
  }

  /** Write every span, one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = {
    implicit val formats: Formats = DefaultFormats
    val lines = spans.sortBy(_.start).map { s =>
      val c = own(s)
      Serialization.write(ListMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "self_s" -> selfNs(s) / 1e9,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "run_s" -> c.runMs / 1e3,
        "cpu_s" -> c.cpuNs / 1e9, "shuffle_mb" -> (c.shuffleReadB + c.shuffleWriteB) / 1e6,
        "spill_mb" -> (c.memSpillB + c.diskSpillB) / 1e6, "gc_s" -> s.gcMs / 1e3))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
