package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.chain.{BestChain, BlkCorpus}
import graft.sources.BlockFileSource

/** Structural gates on the generated corpus: the properties that make it a
  * real scale test (deep reorg, orphans, double-spends, segwit) must actually
  * be present — a generator bug that quietly dropped the stale branch would
  * otherwise turn bk1–bk5 into a straight-chain pushover.
  */
class BlkCorpusSpec extends SparkSpec {

  test("corpus: 50k-block chain with orphans and a >=100-block stale branch") {
    BlkCorpus.ensureMaterialized(spark)
    val ann = spark.read.parquet(BlkCorpus.annotatedDir).cache()
    val n = ann.count()
    assert(n > BlkCorpus.MainChainLength) // stale blocks exist
    // best chain is exactly the main chain
    assert(ann.where(col("is_on_best_chain")).count() == BlkCorpus.MainChainLength)
    assert(ann.agg(max("height")).head.getInt(0) == BlkCorpus.MainChainLength - 1)
    // the reorged-away branch: a CHAIN of stale blocks above the fork point.
    // Everyday orphans can land above DeepForkHeight too (stale siblings of a
    // main block), but their parents are ON the best chain — branch members
    // past the head are exactly the stale blocks with a stale parent.
    val stale = ann.where(!col("is_on_best_chain") &&
      col("height") > BlkCorpus.DeepForkHeight)
    val chained = stale.alias("c")
      .join(ann.where(!col("is_on_best_chain")).alias("p"),
        col("c.parent_hash") === col("p.hash"), "left_semi")
      .count()
    assert(chained == BlkCorpus.DeepForkLength - 1,
      s"deep stale branch has ${chained + 1} chained blocks")
    assert(stale.count() >= BlkCorpus.DeepForkLength)
    // everyday orphans scattered below the fork point
    assert(ann.where(!col("is_on_best_chain") &&
      col("height") <= BlkCorpus.DeepForkHeight).count() >= 5)
  }

  test("corpus: above-envelope loop route matches ground truth at full 50k scale") {
    // The walk route covers every local corpus (all fit the broadcast
    // envelope), so gate the >BroadcastMaxRows route — shuffle-join hops in
    // resolve + ancestor-doubling membership — against the generator's
    // ground truth at REAL depth, where plan-growth/lineage bugs actually
    // show (the small-forest property test cannot reach 4 doubling rounds).
    BlkCorpus.ensureMaterialized(spark)
    sys.props("graft.broadcastMaxRows") = "1000"
    try {
      val ann = BestChain.annotateDistributed(spark.read.parquet(BlkCorpus.bronzeDir("blocks")))
        .select("hash", "height", "is_on_best_chain")
      val truth = spark.read.parquet(BlkCorpus.truthDir)
        .select(col("hash"), col("height").cast("int").as("height"), col("is_on_best_chain"))
      assert(ann.exceptAll(truth).isEmpty && truth.exceptAll(ann).isEmpty)
    } finally sys.props.remove("graft.broadcastMaxRows")
  }

  test("corpus: double-spends exist but only on the stale branch") {
    BlkCorpus.ensureMaterialized(spark)
    val ins = spark.read.parquet(BlkCorpus.bronzeDir("tx_inputs"))
    // an outpoint spent by two different txs = a double spend across branches
    val doubled = ins.groupBy("prev_tx_hash", "prev_index")
      .agg(countDistinct("tx_hash").as("n")).where(col("n") > 1)
    assert(doubled.count() > 0, "no cross-branch double-spends generated")
    // but the BEST-CHAIN spend set is conflict-free
    val ann = spark.read.parquet(BlkCorpus.annotatedDir)
    val chainTx = spark.read.parquet(BlkCorpus.bronzeDir("transactions"))
      .join(ann.where(col("is_on_best_chain"))
        .select(col("hash").as("block_hash")), "block_hash")
      .select("tx_hash")
    val chainDoubled = ins.join(chainTx, Seq("tx_hash"), "left_semi")
      .groupBy("prev_tx_hash", "prev_index")
      .agg(countDistinct("tx_hash").as("n")).where(col("n") > 1)
    assert(chainDoubled.count() == 0, "main chain double-spends itself")
  }

  test("corpus: streams through the incremental blk-file scan identically to batch") {
    BlkCorpus.ensureMaterialized(spark)
    val q = graft.streaming.ChainStream.blkFileStream(spark, BlkCorpus.rawDir)
      .select("hash")
      .writeStream.format("memory").queryName("blkstream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT count(DISTINCT hash) FROM blkstream").head.getLong(0)
    val batch = BlockFileSource.read(spark, BlkCorpus.rawDir).count()
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("corpus: real addresses decode and segwit txids verify") {
    BlkCorpus.ensureMaterialized(spark)
    val outs = spark.read.parquet(BlkCorpus.bronzeDir("tx_outputs")).cache()
    val total = outs.count()
    // all four templates present: Base58 ('1'/'3'), bech32 v0, bech32m v1
    Seq("1%", "3%", "bc1q%", "bc1p%").foreach { p =>
      assert(outs.where(col("address").like(p)).count() > 0, s"no $p addresses")
    }
    assert(total > 20000L, s"corpus too small: $total outputs")
  }

  test("corpus: the <undecodable> sentinel is a >10% hot key and the rollups absorb it") {
    // The skew reality of mainnet: every non-standard script collapses into
    // ONE address (reference BlockchainToGraph.java:1071–1073). The corpus
    // now carries it at >10% of all outputs — ~150x hotter than any pool
    // address — and the address-grain gold plans must stay correct AND
    // balanced. Correctness of the sentinel's own rollup row is pinned here
    // against a direct recompute (the bk4 DuckDB oracle re-verifies the full
    // table every round); balance holds structurally because every
    // address-grain exchange in GoldStats is either preceded by a map-side
    // partial aggregate at (tx, address) grain — the hot key leaves each map
    // task as ONE row per bucket — or shuffles on a multi-column key
    // ((address, cp, role) distinct) that spreads the sentinel across
    // reducers; PlanSpec pins the partial_ shapes.
    BlkCorpus.ensureMaterialized(spark)
    val sentinel = graft.functions.ScriptToAddress.Sentinel
    val outs = BlkCorpus.silver(spark, "outs")
    val total = outs.count()
    val hot = outs.where(col("address") === sentinel).count()
    assert(hot.toDouble / total > 0.10,
      s"sentinel not hot: $hot of $total (${hot * 100.0 / total}%)")
    // sentinel outputs are OP_RETURN burns: they must never appear as a
    // funding address (they would otherwise weld unrelated wallets together)
    val rin = BlkCorpus.silver(spark, "rin")
    assert(rin.where(col("src_address") === sentinel).count() == 0)
    // the sentinel's address-stats row survives the skew correctly:
    // received balance/count match a direct aggregate of the outs table
    val row = graft.chain.GoldStats
      .addressStats(BlkCorpus.silver(spark, "ctx"), rin, outs)
      .where(col("address") === sentinel).collect()
    assert(row.length == 1)
    val expect = outs.where(col("address") === sentinel)
      .agg(sum("value"), countDistinct("tx_hash")).collect()(0)
    assert(row(0).getAs[Long]("input_tx_balance") == expect.getLong(0))
    assert(row(0).getAs[Long]("input_tx_count") == expect.getLong(1))
    assert(row(0).getAs[Long]("output_tx_count") == 0L)
  }

  test("corpus: the silver tables hold the layout the writer lays down, one file per bucket") {
    BlkCorpus.ensureMaterialized(spark)
    assert(graft.sinks.StoreManifest.read(spark, BlkCorpus.baseDir).contains(BlkCorpus.Manifest))
    Seq("ctx", "rin", "outs").foreach { t =>
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(BlkCorpus.silverDir(t)))
      val parquet = try files.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally files.close()
      assert(parquet == BlkCorpus.Buckets, s"silver/$t holds $parquet parquet files")
    }
  }

  test("corpus manifest: a missing, mismatched, empty or _MATERIALIZED-only directory is rebuilt once") {
    import graft.sinks.StoreManifest
    val root = java.nio.file.Files.createTempDirectory("graft-corpus-manifest")
    var builds = 0
    // the corpus's own open rule, on a stand-in build that leaves one file
    def open(dir: java.nio.file.Path): Unit =
      StoreManifest.ensure(spark, dir.toString, BlkCorpus.Manifest) {
        builds += 1
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.writeString(dir.resolve("built"), "")
      }
    def stale(name: String)(manifest: Option[String], marker: Boolean): java.nio.file.Path = {
      val dir = java.nio.file.Files.createDirectories(root.resolve(name))
      java.nio.file.Files.writeString(dir.resolve("old_layout.parquet"), "")
      manifest.foreach(graft.sinks.Hfs.writeText(spark, StoreManifest.path(dir.toString), _))
      if (marker) java.nio.file.Files.write(dir.resolve("_MATERIALIZED"), Array.emptyByteArray)
      dir
    }
    val other = BlkCorpus.Manifest.copy(layout = BlkCorpus.Manifest.layout + ("buckets" -> 256))
    val dirs = Seq(
      root.resolve("missing"),
      stale("marker_only")(None, marker = true),
      stale("empty")(Some(""), marker = false),
      stale("unparseable")(Some("""{"format":"blkcorpus","vers"""), marker = false),
      stale("older_version")(Some(BlkCorpus.Manifest.copy(version = BlkCorpus.Version - 1).json),
        marker = false),
      stale("other_buckets")(Some(other.json), marker = false))
    dirs.foreach { dir =>
      builds = 0
      open(dir)
      assert(builds == 1, s"${dir.getFileName} was not rebuilt")
      // deleted before the rebuild: nothing of the old layout survives
      val left = java.nio.file.Files.list(dir).iterator().asScala
        .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet
      assert(left == Set("built", "_manifest"), s"${dir.getFileName} kept $left")
      assert(StoreManifest.read(spark, dir.toString).contains(BlkCorpus.Manifest))
      // current now: the next open reads the manifest and builds nothing
      open(dir)
      assert(builds == 1, s"${dir.getFileName} rebuilt a current corpus")
    }
  }
}
