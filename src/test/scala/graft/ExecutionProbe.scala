package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What one block of driver code asked Spark to do: how many SQL executions
  * scanned a file location, and how many schema-inference jobs it started.
  */
object ExecutionProbe {

  /** @param scans          per location: the SQL executions whose plan has
    *                       a file scan rooted exactly there
    * @param inferenceJobs  jobs outside any SQL execution whose one stage is
    *                       a one-partition `parallelize` — the shape of a
    *                       parquet read's schema inference
    * @param listingJobs    jobs that list a file index's directories (Spark
    *                       lists more than `parallelPartitionDiscovery
    *                       .threshold` directories through a job)
    */
  final case class Counts(scans: Map[String, Int], inferenceJobs: Int, listingJobs: Int)

  private def roots(p: SparkPlanInfo): Seq[String] =
    p.metadata.get("Location").toSeq ++ p.children.flatMap(roots)

  def apply[A](spark: SparkSession, locations: String*)(f: => A): (A, Counts) = {
    val scans = locations.map(_ -> new AtomicInteger(0)).toMap
    val inference = new AtomicInteger(0)
    val listing = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          val rs = roots(s.sparkPlanInfo)
          // a Location renders as "<Index>(n paths)[file:/a/b, …]"
          scans.foreach { case (loc, n) =>
            if (rs.exists(r => r.contains(loc + "]") || r.contains(loc + ","))) n.incrementAndGet()
          }
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val outside = Option(js.properties)
          .forall(_.getProperty("spark.sql.execution.id") == null)
        val oneParallelize = js.stageInfos.size == 1 && js.stageInfos.head.numTasks == 1 &&
          js.stageInfos.head.rddInfos.exists(_.name == "ParallelCollectionRDD")
        if (outside && oneParallelize) inference.incrementAndGet()
        if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files"))) listing.incrementAndGet()
        ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TelemetryBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.TelemetryBus.drain(sc)
      (out, Counts(scans.map { case (k, v) => k -> v.get }, inference.get, listing.get))
    } finally sc.removeSparkListener(listener)
  }
}
