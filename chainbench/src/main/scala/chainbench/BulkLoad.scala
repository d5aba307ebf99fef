package chainbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chain.{BestChain, BlkCorpus, Enrich, GoldStats, WalletCluster}
import graft.graph.GraphAnalytics
import graft.sinks.BronzeWriter
import graft.sources.BlockFileSource

/** `bulk_load`: the batch scan that stands up the graph. Raw blk files are
  * parsed into bronze (the outpoint-join sides bucketed), the best chain is
  * resolved, the silver context / resolved inputs / outputs are written
  * bucketed, the wallet clusters are computed over the silver funders, and
  * the gold tx, block and address tables are written, all to a fresh
  * directory. The stages are the ones the corpus materialization runs,
  * assembled from the engine's public functions, plus the graph layer's
  * derived value-flow edge table. The seed deals the corpus blocks across
  * 32 blk files. A run measures exactly one load.
  */
object BulkLoad {

  val Files = 32
  private val Buckets = BlkCorpus.Buckets

  /** bronze / silver tables written bucketed: table -> bucket column */
  private val bucketCol = Map(
    "tx_outputs" -> "tx_hash", "tx_inputs" -> "prev_tx_hash",
    "silver_ctx" -> "tx_hash", "silver_rin" -> "tx_hash", "silver_outs" -> "tx_hash")

  def run(r: Run): Outcome = {
    val spark = r.spark
    // set-up: warm the engine's block source up with parses of the dealt
    // blk files. Dealing them is harness work, untimed.
    val inputDir = r.workDir.resolve("input")
    Inputs.writeDealt(inputDir, Inputs.readRecords(BlkCorpus.rawDir).toSeq, Files, r.seed)
    val (_, setupReps) = r.setup(5) {
      BlockFileSource.read(spark, inputDir.toString).write.format("noop").mode("overwrite").save()
    }(_ => ())
    val rawMb = Run.dirBytes(inputDir) / 1e6
    r.log("set up")
    val expected = (Main.OracleNames :+ "flow_edges").map(n => n -> Digest.oracle(spark, r.oracleDir, n)).toMap

    val out = r.workDir.resolve("load")
    r.op("load") {
      load(spark, r.trace, inputDir.toString, out.toString)
      true
    }
    val bronzeMb = Run.dirBytes(out.resolve("bronze")) / 1e6
    if (r.ops.head.ok) r.ops(0) = r.ops.head.copy(ok = verify(r, out.toString, expected))
    r.log("load checked")

    val loads = r.ops.toSeq
    val layers =
      if (!r.trace.enabled) Map.empty[String, Double]
      else {
        // the parse on its own, outside the load: the load re-runs it
        // inside each bronze write, where no span can separate it
        val parse = r.trace.span("sources.parse") {
          val t = System.nanoTime()
          BlockFileSource.read(spark, inputDir.toString).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        r.trace.drain()
        val l = new Layers(r.trace, loads, r.cores)
        val parseSpan = r.trace.all.filter(_.name == "sources.parse").last
        l.engine ++ Map(
          "sources.parse_s" -> parse,
          "sources.parse_cpu_s" -> r.trace.rolled(parseSpan).cpuNs / 1e9,
          "sources.raw_mb_per_s" -> rawMb / parse,
          "sinks.bronze_write_s" -> l.seconds("sinks.bronze_write"),
          "sinks.bronze_mb" -> bronzeMb,
          "chain.resolve_s" -> l.seconds("chain.resolve"),
          "chain.resolve_jobs" -> l.jobs("chain.resolve"),
          "chain.resolve_shuffle_mb" -> l.shuffleMb("chain.resolve"),
          "chain.enrich_s" -> l.seconds("chain.enrich"),
          "chain.enrich_shuffle_mb" -> l.shuffleMb("chain.enrich"),
          "chain.silver_write_s" -> l.seconds("chain.silver_write")) ++
          Seq("tx_stats", "block_stats", "address_stats").flatMap { g =>
            Seq(s"gold.${g}_s" -> l.seconds(s"gold.$g"),
              s"gold.${g}_shuffle_mb" -> l.shuffleMb(s"gold.$g"),
              s"gold.${g}_spill_mb" -> l.spillMb(s"gold.$g"))
          } ++
          Map("wallet.clusters_s" -> l.seconds("wallet.clusters"),
            "wallet.clusters_jobs" -> l.jobs("wallet.clusters"),
            "graph.edges_s" -> l.seconds("graph.edges"),
            "graph.edges_jobs" -> l.jobs("graph.edges"),
            "graph.edges_shuffle_mb" -> l.shuffleMb("graph.edges"))
      }
    Outcome(setupReps, loads, loads.forall(_.ok),
      Map("load_s" -> loads.head.seconds, "raw_mb" -> rawMb),
      layers, r.checks.toSeq)
  }

  /** One full load from the blk files under `in` into a fresh `out`. */
  def load(spark: SparkSession, t: Trace, in: String, out: String): Unit = {
    def dir(layer: String, table: String) = s"$out/$layer/$table"
    def bucketed(table: String, df: DataFrame, layer: String): Unit =
      BronzeWriter.writeBucketed(df, table, dir(layer, table), bucketCol(table), Buckets)
    def table(name: String): DataFrame = spark.table(name)
    // every frame is opened inside the span that uses it, so the driver-side
    // planning and file listing count towards that layer too
    lazy val bronze = BlockFileSource.toBronze(BlockFileSource.read(spark, in))
    def ann = spark.read.parquet(dir("gold", "blocks_annotated"))
    def ctxKeys = table("silver_ctx").select("tx_hash")
    def silver(name: String) = table(s"silver_$name")

    Seq("blocks", "transactions", "tx_inputs", "tx_outputs").foreach { name =>
      t.span("sinks.bronze_write") {
        if (bucketCol.contains(name)) bucketed(name, bronze(name), "bronze")
        else bronze(name).coalesce(1).write.mode("overwrite").parquet(dir("bronze", name))
      }
    }
    t.span("chain.resolve") {
      BestChain.annotateDistributed(spark.read.parquet(dir("bronze", "blocks")))
        .select(col("hash"), col("parent_hash"), col("ts"),
          col("height").cast("int").as("height"), col("is_on_best_chain"))
        .coalesce(1).write.mode("overwrite").parquet(dir("gold", "blocks_annotated"))
    }
    t.span("chain.silver_write") {
      bucketed("silver_ctx",
        GoldStats.chainTxs(spark.read.parquet(dir("bronze", "transactions")), ann), "silver")
    }
    t.span("chain.enrich") {
      bucketed("silver_rin",
        Enrich.resolvedInputs(table("tx_inputs"), table("tx_outputs"))
          .join(ctxKeys, Seq("tx_hash"), "left_semi"), "silver")
    }
    t.span("chain.silver_write") {
      bucketed("silver_outs", table("tx_outputs").join(ctxKeys, Seq("tx_hash"), "left_semi"), "silver")
    }
    // the wallet layer's batch clustering over the silver funders, as bk5
    t.span("wallet.clusters") {
      val rin = silver("rin")
      val universe = silver("outs").select("address")
        .union(rin.select(col("src_address").as("address"))).distinct()
      WalletCluster.clusters(universe, rin.select("tx_hash", "src_address"))
        .write.mode("overwrite").parquet(dir("gold", "wallet_clusters"))
    }
    t.span("gold.tx_stats") {
      GoldStats.txStats(silver("ctx"), silver("rin"), silver("outs"))
        .write.mode("overwrite").parquet(dir("gold", "tx_stats"))
    }
    t.span("gold.block_stats") {
      GoldStats.blockStats(ann, spark.read.parquet(dir("gold", "tx_stats")))
        .write.mode("overwrite").parquet(dir("gold", "block_stats"))
    }
    t.span("gold.address_stats") {
      GoldStats.addressStats(silver("ctx"), silver("rin"), silver("outs"))
        .write.mode("overwrite").parquet(dir("gold", "address_stats"))
    }
    // the graph layer's derived table: the value-flow edges
    t.span("graph.edges") {
      GraphAnalytics.flowEdges(silver("rin"), silver("outs"))
        .write.mode("overwrite").parquet(dir("gold", "flow_edges"))
    }
  }

  /** The loaded gold against the DuckDB oracles: bk0's pipeline digest, the
    * bk2 / bk3 / bk4 tables, the bk5 wallet clusters and the flow edges.
    */
  private def verify(r: Run, out: String, expected: Map[String, Digest]): Boolean = {
    val spark = r.spark
    val ann = spark.read.parquet(s"$out/gold/blocks_annotated")
    val tx = spark.read.parquet(s"$out/gold/tx_stats")
    val got = Map(
      "bk0_e2e_pipeline" -> Digest.of(ann.agg(
          count(lit(1)).as("n_blocks"),
          sum(col("is_on_best_chain").cast("long")).as("n_best"),
          max(col("height").cast("long")).as("best_height"))
        .crossJoin(tx.agg(count(lit(1)).as("n_chain_txs"), sum("fee").as("total_fee")))),
      "bk2_tx_stats" -> Digest.of(tx.select("tx_hash", "is_coinbase", "date", "input_count",
        "output_count", "balance", "fee", "new_address_count", "is_between_one_address")),
      "bk3_block_stats" -> Digest.of(spark.read.parquet(s"$out/gold/block_stats")
        .select(col("hash"), col("height").cast("long").as("height"), col("ts"),
          col("tx_count"), col("coinbase_balance"), col("balance"), col("fee"))),
      "bk4_address_stats" -> Digest.of(spark.read.parquet(s"$out/gold/address_stats")),
      "bk5_wallet_clusters" -> Digest.of(spark.read.parquet(s"$out/gold/wallet_clusters")),
      "flow_edges" -> Digest.of(spark.read.parquet(s"$out/gold/flow_edges")))
    got.map { case (n, d) =>
      r.check(s"bulk_load $n", d == expected(n), s"digest $d, oracle ${expected(n)}")
    }.forall(identity)
  }
}
