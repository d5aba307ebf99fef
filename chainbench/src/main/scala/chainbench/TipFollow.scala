package chainbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.chain.{BestChain, BlkCorpus}
import graft.sources.BlockFileSource
import graft.streaming.ChainStream

/** `tip_follow`: the streaming sync and its reorg rollback.
  *
  * The store is caught up on the 140-block stale branch: it has drained a
  * backlog of every corpus block except the main-chain blocks above the
  * deep fork point. Then the withheld main-chain blocks arrive in chain
  * order, cut into three blk files at seeded cut points, one file at a
  * time: a closed loop with one file outstanding, the shape of a caught-up
  * node whose block gap far exceeds the service time. The first file grows
  * the main-chain side branch, the second holds height DeepForkHeight+141,
  * overtakes the stale branch and forces a 140-deep reorg, the third
  * extends the new tip. Two long-running queries read the same directory:
  * the wallet-label maintainer and the height-partitioned gold sink with
  * the best-chain annotation as its recompute.
  *
  * Draining the backlog takes longer than the rest of a run, so it runs
  * once per checkout ([[catchUp]]) and each run restarts both queries from
  * a copy of the caught-up store, checkpoints included, at the same path.
  * The restarts, up to each query's first trigger, each after a warm-up
  * parse of the backlog, are the run's set-up.
  */
object TipFollow {

  val PrefixFiles = 32

  /** Set-ups (warm-up parse and query restart) timed; setup_s is their median. */
  val SetupReps = 5

  /** The three feed files, in arrival order. */
  val Kinds = Seq("side", "reorg", "extend")

  /** The seeded cuts fall within this many blocks of the overtaking one,
    * so every seed feeds files of like size: 121-140 side-branch blocks,
    * 1-39 blocks from the overtaking one on, and the rest.
    */
  val CutWindow = 20
  private val ReorgFile = 1

  /** Where the live store sits inside a run's work directory. */
  def storeOf(work: Path): Path = work.resolve("store")

  private def feedDir(store: Path): Path = store.resolve("feed")

  private final case class Sinks(wallet: StreamingQuery, gold: StreamingQuery) {
    def all: Seq[(String, StreamingQuery)] = Seq("wallet" -> wallet, "gold" -> gold)
    def stop(): Unit = all.foreach(_._2.stop())
  }

  /** The wallet maintainer's funder lookup over the corpus's funding pairs:
    * the pairs of the transactions in the given blocks.
    */
  private def fundersOf(spark: SparkSession, funders: DataFrame): (SparkSession, DataFrame) => DataFrame = {
    val txs = spark.read.parquet(BlkCorpus.bronzeDir("transactions"))
    (_, blockRows) =>
      funders.join(
        txs.join(blockRows.select(col("hash").as("block_hash")), Seq("block_hash"), "left_semi")
          .select("tx_hash"),
        Seq("tx_hash"), "left_semi")
  }

  /** Start both long-running queries on `store/feed`. */
  private def start(spark: SparkSession, store: Path,
      fundersOf: (SparkSession, DataFrame) => DataFrame): Sinks = {
    def headers(): DataFrame =
      ChainStream.blkFileStream(spark, feedDir(store).toString, maxFilesPerTrigger = PrefixFiles * 2)
        .select(col("hash"),
          when(col("parent_hash") === "0" * 64, lit(null)).otherwise(col("parent_hash")).as("parent_hash"),
          col("ts"))
    val trigger = Trigger.ProcessingTime(0L)
    Sinks(
      ChainStream.incrementalWalletLabels(headers(), store.resolve("bronze_w").toString,
        fundersOf, store.resolve("labels").toString, store.resolve("ckpt_w").toString, trigger)
        .queryName("wallet").start(),
      ChainStream.incrementalGoldPartitioned(headers(), store.resolve("bronze_g").toString,
        (_, bronze) => BestChain.annotate(bronze), store.resolve("gold").toString,
        store.resolve("ckpt_g").toString, trigger)
        .queryName("gold").start())
  }

  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** Wait until each query has committed `n` batches that read files. */
  private def await(s: Sinks, n: Int): Unit = {
    val deadline = System.nanoTime() + 150L * 1000000000L
    while (s.all.exists { case (_, q) => dataBatches(q).size < n }) {
      s.all.foreach { case (name, q) =>
        q.exception.foreach(e => throw new IllegalStateException(s"$name query died", e))
      }
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"batch $n timed out")
      Thread.sleep(5)
    }
  }

  /** Wait until each query has finished its first trigger. */
  private def awaitIdle(s: Sinks): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (s.all.exists(_._2.lastProgress == null)) {
      s.all.foreach { case (name, q) =>
        q.exception.foreach(e => throw new IllegalStateException(s"$name query died", e))
      }
      if (System.nanoTime() > deadline) throw new IllegalStateException("restart timed out")
      Thread.sleep(1)
    }
  }

  private def isFeed(heights: Map[String, (Int, Boolean)])(rec: Rec): Boolean = {
    val (h, best) = heights(rec.hash)
    best && h > BlkCorpus.DeepForkHeight
  }

  /** Drain the backlog into a fresh store at `store` and copy the caught-up
    * store to `snapshot`. Returns the catch-up time: from starting both
    * queries until both committed the backlog.
    */
  def catchUp(spark: SparkSession, store: Path, snapshot: Path, funders: DataFrame): Double = {
    Run.deleteRecursively(store)
    val heights = Main.readHeights()
    Inputs.writeDealt(feedDir(store),
      Inputs.readRecords(BlkCorpus.rawDir).filterNot(isFeed(heights)).toSeq, PrefixFiles, 0L)
    val lookup = fundersOf(spark, funders)
    val t0 = System.nanoTime()
    val sinks = start(spark, store, lookup)
    try await(sinks, 1) finally sinks.stop()
    val seconds = (System.nanoTime() - t0) / 1e9
    Run.deleteRecursively(snapshot)
    Run.copyTree(store, snapshot)
    seconds
  }

  def run(r: Run, snapshot: Path, catchupS: Double): Outcome = {
    val spark = r.spark
    val heights = Main.readHeights()
    val forkH = BlkCorpus.DeepForkHeight
    val store = storeOf(r.workDir)
    val staging = r.workDir.resolve("staging")

    // the feed files, cut at the seeded points (harness work, untimed)
    Run.deleteRecursively(staging)
    val staged = {
      val feed = Inputs.readRecords(BlkCorpus.rawDir).filter(isFeed(heights))
        .sortBy(x => heights(x.hash)._1).toSeq
      val overtake = feed.indexWhere(x => heights(x.hash)._1 == forkH + BlkCorpus.DeepForkLength + 1)
      Inputs.cutAround(feed, overtake, CutWindow, r.seed).zipWithIndex.map { case (p, k) =>
        val f = staging.resolve(Inputs.blkName(PrefixFiles + k))
        Inputs.writeBlk(f, p)
        f
      }
    }
    // every funding pair of the corpus, stale branches included: the
    // maintainer looks up the funders of whichever blocks arrive. A
    // harness-side lookup table, so its load stays out of setup_s.
    val tFunders = System.nanoTime()
    val funders = spark.read.parquet(Main.fundersDir).persist(StorageLevel.MEMORY_AND_DISK)
    funders.count()
    val lookup = fundersOf(spark, funders)
    val fundersS = (System.nanoTime() - tFunders) / 1e9

    // set-up: warm the engine's block source up with a parse of the drained
    // backlog's blk files, then restart both queries from the caught-up
    // store's checkpoints, up to their first (idle) trigger; the last
    // restart stays up and takes the feed. Restoring the store from its copy
    // is harness work, untimed.
    def restore(): Unit = {
      Run.deleteRecursively(store)
      Run.copyTree(snapshot, store)
    }
    restore()
    val (sinks, setupReps) = r.setup(SetupReps) {
      BlockFileSource.read(spark, feedDir(store).toString).write.format("noop").mode("overwrite").save()
      val s = start(spark, store, lookup)
      awaitIdle(s)
      s
    } { s => s.stop(); restore() }
    r.log("set up")

    val labelsDir = store.resolve("labels")
    val goldDir = store.resolve("gold")

    // trace: the streaming batches behind each operation, as child spans
    val epochToTrace = r.trace.now - System.currentTimeMillis() * 1000000L
    def recordBatches(batch: Int): Seq[(String, StreamingQueryProgress)] =
      sinks.all.map { case (name, q) =>
        val p = dataBatches(q)(batch - 1)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val end = start + p.durationMs.get("triggerExecution").longValue
        r.trace.record(s"streaming.${name}_batch", r.trace.current,
          start * 1000000L + epochToTrace, end * 1000000L + epochToTrace,
          Seq(s"${q.runId}#${p.batchId}"))
        name -> p
      }

    val batchLog =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Seq[(String, StreamingQueryProgress)])]
    val sizes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    try staged.zipWithIndex.foreach { case (f, k) =>
      val goldBefore = Run.files(goldDir)
      val labelsBefore = Run.files(labelsDir)
      r.op(Kinds(k)) {
        val landed = System.currentTimeMillis()
        Files.move(f, feedDir(store).resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        await(sinks, k + 1)
        if (r.trace.enabled) batchLog += ((k, landed, recordBatches(k + 1)))
        true
      }
      if (r.trace.enabled)
        sizes += ((Run.writtenSince(goldDir, goldBefore), Run.writtenSince(labelsDir, labelsBefore)))
    } finally sinks.stop()
    r.log("feed done")

    val ok = r.ops.forall(_.ok) && verify(r, heights, labelsDir, goldDir)
    if (!ok) r.ops.indices.foreach(i => r.ops(i) = r.ops(i).copy(ok = false))
    funders.unpersist(blocking = false)
    r.log("checked")

    val ops = r.ops.toSeq
    val layers =
      if (!r.trace.enabled) Map.empty[String, Double]
      else {
        val feedFiles = staged.map(f => feedDir(store).resolve(f.getFileName))
        val parse = r.trace.span("sources.parse") {
          val t = System.nanoTime()
          BlockFileSource.readFiles(spark, feedFiles.map(_.toString))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        r.trace.drain()
        val l = new Layers(r.trace, ops, r.cores)
        val parseSpan = r.trace.all.filter(_.name == "sources.parse").last
        val feedMb = feedFiles.map(Files.size(_)).sum / 1e6
        def dur(p: StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        val tips = batchLog.filter(_._1 != ReorgFile).toSeq
        def tipMed(f: StreamingQueryProgress => Double): Double =
          Run.median(tips.flatMap(_._3.map(x => f(x._2))))
        def sinkMed(name: String): Double =
          Run.median(tips.flatMap(_._3.filter(_._1 == name).map(x => dur(x._2, "triggerExecution"))))
        def reorgOf(name: String): Double = batchLog.find(_._1 == ReorgFile)
          .flatMap(_._3.find(_._1 == name)).map(x => dur(x._2, "triggerExecution")).getOrElse(0.0)
        l.engine ++ Map(
          "sources.parse_s" -> parse,
          "sources.parse_cpu_s" -> r.trace.rolled(parseSpan).cpuNs / 1e9,
          "sources.raw_mb_per_s" -> feedMb / parse,
          "streaming.wallet_batch_s" -> sinkMed("wallet"),
          "streaming.gold_batch_s" -> sinkMed("gold"),
          "streaming.add_batch_s" -> tipMed(dur(_, "addBatch")),
          "streaming.wal_commit_s" -> tipMed(dur(_, "walCommit")),
          "streaming.latest_offset_s" -> tipMed(dur(_, "latestOffset")),
          "streaming.file_wait_s" -> Run.median(tips.flatMap { case (_, landed, ps) =>
            ps.map(p => (java.time.Instant.parse(p._2.timestamp).toEpochMilli - landed).max(0L) / 1e3)
          }),
          "streaming.reorg_wallet_s" -> reorgOf("wallet"),
          "streaming.reorg_gold_s" -> reorgOf("gold"),
          "sinks.gold_kb_per_batch" -> Run.median(sizes.map(_._1 / 1e3).toSeq),
          "sinks.labels_kb_per_batch" -> Run.median(sizes.map(_._2 / 1e3).toSeq))
      }
    Outcome(setupReps, ops, ok,
      Map("catchup_s" -> catchupS, "funders_load_s" -> fundersS,
        "tip_latency_p50_s" -> Run.median(ops.filter(_.kind != "reorg").map(_.seconds)),
        "reorg_latency_s" -> ops(ReorgFile).seconds),
      layers, r.checks.toSeq)
  }

  /** The final store against batch truth: gold equals the batch annotation
    * of the whole corpus, every stale-branch block is off the best chain,
    * and the wallet labels equal the DuckDB wallet-cluster oracle over the
    * final best chain's funders.
    */
  private def verify(r: Run, heights: Map[String, (Int, Boolean)], labelsDir: Path,
      goldDir: Path): Boolean = {
    val spark = r.spark
    def canon(df: DataFrame) =
      df.select(col("hash"), col("height").cast("long").as("height"), col("is_on_best_chain"))
    val streamed = canon(spark.read.parquet(goldDir.toString))
    val (got, want) = (Digest.of(streamed), Digest.of(canon(spark.read.parquet(BlkCorpus.annotatedDir))))
    val goldOk = r.check("tip_follow gold", got == want, s"streamed $got, batch $want")
    val forkH = BlkCorpus.DeepForkHeight
    val staleHashes = heights.collect {
      case (h, (ht, false)) if ht > forkH && ht <= forkH + BlkCorpus.DeepForkLength => h
    }.toSeq
    val staleOnBest = streamed.where(col("is_on_best_chain") && col("hash").isin(staleHashes: _*)).count()
    val staleOk = r.check("tip_follow stale branch retracted",
      staleHashes.size == BlkCorpus.DeepForkLength && staleOnBest == 0,
      s"${staleHashes.size} stale blocks, $staleOnBest still on the best chain")
    val expect = spark.read.parquet(s"${r.oracleDir}/tip_labels.parquet").select("address", "wallet_id")
    val labels = spark.read.parquet(labelsDir.resolve("labels").toString).select("address", "wallet_id")
    // rows for addresses that funded only on the reorged-away branch stay
    // as self-labelled singletons; any other disagreement is an error
    val missing = expect.exceptAll(labels).count()
    val stale = labels.exceptAll(expect).where(col("address") =!= col("wallet_id")).count()
    val walletOk = r.check("tip_follow wallet labels", missing == 0 && stale == 0,
      s"missing $missing, stale $stale")
    goldOk && staleOk && walletOk
  }
}
