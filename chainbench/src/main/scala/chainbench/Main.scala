package chainbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.chain.BlkCorpus

/** Entry point of the benchmark's JVM, launched by run.py.
  *
  *   prepare work=DIR oracle_sql=FILE tip_work=DIR snapshot=DIR
  *       once per checkout: materialize the corpus, write the oracle SQL the
  *       DuckDB step runs, and drain tip_follow's backlog into a store
  *   run workload=W seed=N seconds=S trace=0|1 work=DIR oracle=DIR
  *       snapshot=DIR out=FILE
  *       one measured run; writes its record to FILE
  *
  * The corpus location and scale come from SPARK_GRAFT_CORPUS_DIR and
  * SPARK_GRAFT_CORPUS_SCALE, set by run.py.
  */
object Main {

  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = kv("cores").toInt
    val work = Paths.get(kv("work")).toAbsolutePath
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = Session.build(cores, work.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Run.log("session up")
    try mode match {
      case "prepare" =>
        prepare(spark, Paths.get(kv("oracle_sql")))
        val funders = spark.read.parquet(fundersDir)
        val s = TipFollow.catchUp(spark, TipFollow.storeOf(Paths.get(kv("tip_work"))),
          Paths.get(kv("snapshot")), funders)
        Files.write(Paths.get(kv("snapshot") + ".catchup_s"), s.toString.getBytes("UTF-8"))
      case "run" =>
        val trace = new Trace(spark, kv("trace") == "1")
        val r = new Run(spark, trace, work, kv("oracle"), kv("seed").toLong, cores)
        val outcome = kv("workload") match {
          case "bulk_load" => BulkLoad.run(r)
          case "tip_follow" =>
            val snapshot = kv("snapshot")
            TipFollow.run(r, Paths.get(snapshot),
              new String(Files.readAllBytes(Paths.get(snapshot + ".catchup_s")), "UTF-8").toDouble)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        if (trace.enabled) trace.write(work.resolve("spans.jsonl"))
        Files.write(Paths.get(kv("out")), record(kv, cores, sessionS, outcome).getBytes("UTF-8"))
    } finally {
      spark.stop()
      Run.log("session stopped")
    }
  }

  /** Peak resident memory of this JVM (the engine runs in-process). */
  private def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)
  }

  private def record(kv: Map[String, String], cores: Int, sessionS: Double, o: Outcome): String =
    Serialization.write(ListMap(
      "workload" -> kv("workload"), "seed" -> kv("seed").toLong, "trace" -> kv("trace").toInt,
      "seconds" -> kv("seconds").toDouble,
      "cores" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "corpus_scale" -> BlkCorpus.Scale,
      "session_start_s" -> sessionS,
      "setup_reps_s" -> o.setupReps, "setup_s" -> Run.median(o.setupReps),
      "ops" -> o.ops.map(x => Map("kind" -> x.kind, "s" -> x.seconds, "cpu_s" -> x.cpuSeconds, "ok" -> x.ok)),
      "total_s" -> o.ops.map(_.seconds).sum, "cpu_s" -> o.ops.map(_.cpuSeconds).sum,
      "op_p50_s" -> Run.median(o.ops.map(_.seconds)), "op_max_s" -> o.ops.map(_.seconds).max,
      "attempted" -> o.ops.size, "failed" -> o.ops.count(!_.ok),
      "correct" -> (o.correct && o.ops.nonEmpty && o.ops.forall(_.ok)),
      "peak_rss_mb" -> peakRssMb,
      "values" -> o.values,
      "layers" -> (if (o.layers.isEmpty) o.layers else o.layers + ("jvm.peak_rss_mb" -> peakRssMb)),
      "checks" -> o.checks))

  /** Oracle queries the benchmark checks against: the registered DuckDB SQL
    * of the bk queries whose tables it builds, plus its own SQL for the
    * flow edges.
    */
  val OracleNames = Seq("bk0_e2e_pipeline", "bk2_tx_stats", "bk3_block_stats",
    "bk4_address_stats", "bk5_wallet_clusters")

  /** (tx_hash, src_address) funding pairs of every corpus transaction,
    * stale branches included: the lookup table tip_follow's wallet
    * maintainer resolves arriving blocks' funders from.
    */
  def fundersDir: String = s"${BlkCorpus.baseDir}/chainbench_funders"

  /** hash -> (height, on the best chain) of every corpus block, as a text
    * file the runs read without a Spark job.
    */
  def heightsFile: java.nio.file.Path = Paths.get(s"${BlkCorpus.baseDir}/chainbench_heights.tsv")

  def readHeights(): Map[String, (Int, Boolean)] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(heightsFile).asScala.map { l =>
      val Array(h, ht, best) = l.split('\t')
      h -> (ht.toInt, best.toBoolean)
    }.toMap
  }

  private def prepare(spark: org.apache.spark.sql.SparkSession, sqlOut: java.nio.file.Path): Unit = {
    BlkCorpus.ensureMaterialized(spark)
    graft.chain.Enrich.resolvedInputs(
        BlkCorpus.bronze(spark, "tx_inputs"), BlkCorpus.bronze(spark, "tx_outputs"))
      .select("tx_hash", "src_address").distinct()
      .write.mode("overwrite").parquet(fundersDir)
    val heights = BlkCorpus.annotated(spark).select("hash", "height", "is_on_best_chain").collect()
      .map(r => s"${r.getString(0)}\t${r.getInt(1)}\t${r.getBoolean(2)}")
    Files.write(heightsFile, heights.mkString("", "\n", "\n").getBytes("UTF-8"))
    def pq(dir: String) = s"read_parquet('$dir/*.parquet')"
    val flowEdges =
      s"""WITH ann AS (SELECT * FROM ${pq(BlkCorpus.annotatedDir)}),
         |ctx AS (
         |  SELECT t.tx_hash FROM ${pq(BlkCorpus.bronzeDir("transactions"))} t
         |  JOIN ann a ON t.block_hash = a.hash WHERE a.is_on_best_chain
         |), outs0 AS (SELECT * FROM ${pq(BlkCorpus.bronzeDir("tx_outputs"))}),
         |rin AS (
         |  SELECT DISTINCT i.tx_hash, o.address AS src
         |  FROM ${pq(BlkCorpus.bronzeDir("tx_inputs"))} i JOIN outs0 o
         |    ON i.prev_tx_hash = o.tx_hash AND i.prev_index = o.idx
         |  WHERE i.tx_hash IN (SELECT tx_hash FROM ctx)
         |), outs AS (
         |  SELECT tx_hash, address AS dst, value FROM outs0
         |  WHERE tx_hash IN (SELECT tx_hash FROM ctx)
         |)
         |SELECT src, dst, CAST(sum(value) AS BIGINT) AS value
         |FROM rin JOIN outs USING (tx_hash) GROUP BY src, dst""".stripMargin
    val oracle = graft.SparkEntry.oracleSql
    val sql = OracleNames.map(n => n -> oracle(n)) :+ ("flow_edges" -> flowEdges)
    Files.write(sqlOut, Serialization.write(ListMap(sql: _*)).getBytes("UTF-8"))
  }
}
