package graft

/** Profiling main (not part of the API): formatted-explain dumps of
  * registered queries for the plan archive, and a per-stage breakdown of
  * any registered query. The mode is picked by SPARK_GRAFT_PROFILE.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    // Formatted-explain dumps for the plan archive (plans/rNN/):
    // SPARK_GRAFT_PROFILE=explainf:<outdir>:<suffix>:<q1,q2,...>
    // writes <outdir>/<query>_<suffix>.txt with explain("formatted") of each
    // declared query built against $SPARK_GRAFT_SF_DIR (default sf0.01).
    sys.env.get("SPARK_GRAFT_PROFILE").filter(_.startsWith("explainf:")).foreach { v =>
      val (outDir, suffix, qlist) = v.stripPrefix("explainf:").split(":", 3) match {
        case Array(o, s, q) => (o, s, q)
        case _ => sys.error(
          s"SPARK_GRAFT_PROFILE=$v — expected explainf:<outdir>:<suffix>:<q1,q2,...>")
      }
      val dataDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      qlist.split(",").foreach { q =>
        val df = SparkEntry.queries.getOrElse(q, sys.error(
          s"unknown query '$q' — not in SparkEntry.queries"))(spark, dataDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[explainf] wrote $outDir/${q}_$suffix.txt")
      }
      spark.stop(); sys.exit(0)
    }

    // Per-stage breakdown of any registered query over any data dir:
    // SPARK_GRAFT_PROFILE=stages:<dir>:<q1,q2,...> — one warm pass, then a
    // measured pass with a stage listener printing, per completed stage,
    // task count, wall duration, summed executor run/CPU time, shuffle
    // read/write bytes, spill and input bytes. sum(run)/wall >> cores means
    // CPU-bound; wall >> sum(run)/cores means the stage waited (I/O, fetch).
    sys.env.get("SPARK_GRAFT_PROFILE").filter(_.startsWith("stages:")).foreach { v =>
      val (dataDir, qlist) = v.stripPrefix("stages:").split(":", 2) match {
        case Array(d, q) => (d, q)
        case _ => sys.error(
          s"SPARK_GRAFT_PROFILE=$v — expected stages:<dir>:<q1,q2,...>")
      }
      import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
      @volatile var record = false
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
          if (record) {
            val si = sc.stageInfo
            val wall = (for { s <- si.submissionTime; e <- si.completionTime }
              yield e - s).getOrElse(-1L)
            val m = si.taskMetrics
            println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
              f"wall=${wall / 1e3}%6.2fs run=${m.executorRunTime / 1e3}%7.2fs " +
              f"cpu=${m.executorCpuTime / 1e9}%7.2fs " +
              f"in=${m.inputMetrics.bytesRead / 1e6}%7.0fMB " +
              f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.0fMB " +
              f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.0fMB " +
              f"spill=${m.diskBytesSpilled / 1e6}%6.0fMB  ${si.name.take(70)}")
          }
      }
      spark.sparkContext.addSparkListener(listener)
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[profile] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      def force(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      qlist.split(",").foreach { q =>
        val build = SparkEntry.queries.getOrElse(q, sys.error(
          s"unknown query '$q' — not in SparkEntry.queries"))
        Scope {
          t(s"$q warm") { Scope(force(build(spark, dataDir))) }
          record = true
          t(s"$q measured") { Scope(force(build(spark, dataDir))) }
          record = false
        }
      }
      spark.stop(); sys.exit(0)
    }

    sys.error("SPARK_GRAFT_PROFILE must be explainf:<outdir>:<suffix>:<q1,...> " +
      "or stages:<dir>:<q1,...>")
  }
}
