package chainbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One measured operation of a workload (a load, a feed file): its wall
  * time and the CPU time the whole JVM spent meanwhile.
  */
final case class Op(kind: String, seconds: Double, cpuSeconds: Double, ok: Boolean, spanId: Int)

/** What a workload hands back to [[Main]]. `ops` are the latencies a user
  * waits on (each load; each tip file). `values` holds the workload's own
  * named figures (load_s, reorg_latency_s, ...); `layers` the per-layer
  * figures of a traced run.
  */
final case class Outcome(
    setupReps: Seq[Double],
    ops: Seq[Op],
    correct: Boolean,
    values: Map[String, Double],
    layers: Map[String, Double],
    checks: Seq[String])

/** Shared state of one benchmark run. */
final class Run(
    val spark: SparkSession,
    val trace: Trace,
    val workDir: Path,
    val oracleDir: String,
    val seed: Long,
    val cores: Int) {

  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[String]

  /** Time one operation; `f` returns whether its output checked out. An
    * exception counts as a failed operation and is recorded, not rethrown.
    */
  def op(kind: String)(f: => Boolean): Op = {
    val cpu0 = Run.processCpuNs
    val t0 = System.nanoTime()
    var spanId = 0
    val ok =
      try trace.span(s"op.$kind") { spanId = trace.current; f }
      catch {
        case e: Exception =>
          checks += s"$kind failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(2000)
          false
      }
    val o = Op(kind, (System.nanoTime() - t0) / 1e9, (Run.processCpuNs - cpu0) / 1e9, ok, spanId)
    ops += o
    o
  }

  /** Record a check; returns `ok`. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) checks += s"$what: $detail"
    ok
  }

  /** Repeat the workload's set-up `reps` times and keep the last result;
    * each earlier result is handed to `release`, outside the timing.
    */
  def setup[A](reps: Int)(f: => A)(release: A => Unit): (A, Seq[Double]) = {
    var last: Option[A] = None
    val times = (0 until reps).map { _ =>
      last.foreach(release)
      val t0 = System.nanoTime()
      last = Some(f)
      (System.nanoTime() - t0) / 1e9
    }
    (last.get, times)
  }

  def log(msg: String): Unit = Run.log(msg)
}

object Run {

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads, in nanoseconds. */
  def processCpuNs: Long = os.getProcessCpuTime

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Copy the tree under `from` to `to`, which must not exist. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  /** Sizes of the data files under `p`, keyed by path. */
  def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  /** Progress line on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[chainbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  /** Bytes of files that are new or replaced since `before`. */
  def writtenSince(p: Path, before: Map[String, Long]): Long =
    files(p).collect { case (f, sz) if !before.contains(f) => sz }.sum
}
