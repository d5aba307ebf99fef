package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TelemetryBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Telemetry.{phase, RouteDecision}
import graft.chain.BestChain

class TelemetrySpec extends SparkSpec {

  private def timed[A](f: => A): Telemetry.Timed[A] = Telemetry.timed(spark.sparkContext)(f)

  /** The properties of every job `f` started. */
  private def jobProps(f: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val props = new ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = props.add(e.properties)
    }
    TelemetryBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; TelemetryBus.drain(sc) } finally sc.removeSparkListener(listener)
    props.asScala.toSeq
  }

  test("phases nest: a child's path extends its parent's, and its wall lies inside the parent's") {
    val run = timed {
      phase("outer") {
        phase("inner")(spark.range(10).count())
        phase("inner")(phase("leaf")(()))
      }
      intercept[IllegalStateException](phase("failed")(throw new IllegalStateException("x")))
    }
    val ps = run.phases
    assert(ps.map(_.path).sorted ==
      Seq("failed", "outer", "outer/inner", "outer/inner", "outer/inner/leaf"))
    def end(p: Telemetry.Phase) = p.startNs + p.work.wallNs
    for (child <- ps; parent <- ps if child.path.startsWith(parent.path + "/") &&
        child.startNs >= parent.startNs && child.startNs <= end(parent))
      assert(end(child) <= end(parent), s"${child.path} ends after ${parent.path}")
    val leaf = ps.find(_.path == "outer/inner/leaf").get
    assert(ps.exists(p => p.path == "outer/inner" && p.startNs <= leaf.startNs &&
      end(p) >= end(leaf)))
    // the path is restored on the way out, a failed phase included
    assert(spark.sparkContext.getLocalProperty(Telemetry.PhaseKey) == null)
  }

  test("attaching a sink adds zero Spark jobs to a fixed workload") {
    def workload(): Unit = phase("w")(
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect())
    workload()
    val bare = jobProps(workload()).size
    val withSink = jobProps(timed(workload())).size
    assert(bare > 0 && withSink == bare, s"$bare jobs bare, $withSink with a sink")
  }

  test("a job's task metrics land on the phase that ran it") {
    val run = timed {
      phase("scan") {
        phase("agg")(spark.range(0, 100000, 1, 4).groupBy(col("id") % 10).count().collect())
        spark.range(10).collect()
      }
      phase("idle")(())
    }
    def of(path: String) = run.phases.find(_.path == path).get.work
    val agg = of("scan/agg")
    assert(agg.jobs >= 1 && agg.tasks >= 4 && agg.shuffleBytes > 0 && agg.runMs >= 0, agg)
    // the parent's own collect job is its own, not its child's
    assert(of("scan").jobs >= 1 && of("scan").shuffleBytes == 0, of("scan"))
    assert(of("idle").jobs == 0 && of("idle").tasks == 0, of("idle"))
  }

  test("a phase inside setJobGroup(\"cb-1\") leaves the job's spark.jobGroup.id at cb-1") {
    val sc = spark.sparkContext
    val props = jobProps {
      sc.setJobGroup("cb-1", "an outer tracer's span", interruptOnCancel = false)
      try phase("p")(spark.range(5).count()) finally sc.clearJobGroup()
    }
    assert(props.nonEmpty)
    props.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") == "cb-1")
      assert(p.getProperty(Telemetry.PhaseKey) == "p")
    }
  }

  test("graft.broadcastMaxRows=0 records annotate's doubling route, and the default records the envelope route") {
    import spark.implicits._
    val blocks = (0 until 12).map(i => (s"b$i", if (i == 0) null else s"b${i - 1}", 1000L + i))
      .toDF("hash", "parent_hash", "ts")
    def annotateRoutes(): (Seq[String], Seq[String]) = {
      val run = timed(BestChain.annotate(blocks).collect())
      (run.routes.map(_.decision).filter(_.op == "annotate").map(_.route), run.phases.map(_.path))
    }
    val (default, _) = annotateRoutes()
    assert(default == Seq("envelope"))
    sys.props("graft.broadcastMaxRows") = "0"
    val (forced, paths) =
      try annotateRoutes() finally sys.props.remove("graft.broadcastMaxRows")
    assert(forced == Seq("doubling"))
    assert(Seq("annotate/probe", "annotate/resolve", "annotate/resolve/round 0",
      "annotate/final rebase").forall(paths.contains), paths)
  }

  test("a record posted from a streaming foreachBatch thread reaches the sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    val ckpt = Files.createTempDirectory("graft-telemetry").toString
    val run = timed {
      input.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          phase("batch")(Telemetry.route(
            RouteDecision("test", "streamed", batch.count(), -1L, s"batch $id")))
          ()
        }
        .start().awaitTermination()
    }
    val route = run.routes.find(_.decision.op == "test")
    assert(route.exists(r => r.phase == "batch" && r.decision.rows == 3 &&
      r.thread != Thread.currentThread.getName), route)
    assert(run.phases.exists(_.path == "batch"))
  }
}
