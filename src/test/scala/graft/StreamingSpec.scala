package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.chain.BestChain
import graft.streaming.ChainStream

class StreamingSpec extends SparkSpec {

  /** The wallet maintainer batch records of a run. */
  private def walletBatches(run: Telemetry.Timed[_]): Seq[Telemetry.RouteDecision] =
    run.routes.map(_.decision).filter(_.op == "wallet batch")

  /** The record of the last wallet maintainer batch `run` posted. */
  private def lastWalletBatch(run: => Unit): Telemetry.RouteDecision =
    walletBatches(Telemetry.timed(spark.sparkContext)(run)).last

  test("parseUpdateTips extracts hash+height from bitcoind-style log lines") {
    import spark.implicits._
    val lines = Seq(
      "2024-01-01T00:00:00Z UpdateTip: new best=00000000abcd height=101 version=0x20000000",
      "2024-01-01T00:00:01Z Pre-allocating up to position 0x1000000 in blk00001.dat",
      "garbage").toDF("line")
    val got = ChainStream.parseUpdateTips(lines).collect()
    assert(got.length == 1)
    assert(got.head.getString(0) == "00000000abcd")
    assert(got.head.getInt(1) == 101)
  }

  test("incrementalGoldPartitioned: only changed height buckets rewritten; extend touches tip, reorg touches fork range") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-part").toString

    val input = MemoryStream[(String, String, Long)]
    val blocks = input.toDF().toDF("hash", "parent_hash", "ts")
      .select(col("hash"),
        when(col("parent_hash") === "", lit(null)).otherwise(col("parent_hash")).as("parent_hash"),
        col("ts"))
    val writer = ChainStream.incrementalGoldPartitioned(
      blocks, s"$tmp/bronze",
      (_, bronze) => BestChain.annotate(bronze),
      s"$tmp/gold", s"$tmp/ckpt", bucketSize = 10)

    // Per-bucket physical fingerprint: bucket dir -> set of (file, md5).
    // Untouched buckets must keep their files BYTE-identical across batches.
    def fingerprints(): Map[String, Set[(String, String)]] = {
      val root = java.nio.file.Paths.get(s"$tmp/gold")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(root).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("height_bucket="))
        .map { dir =>
          val files = java.nio.file.Files.list(dir).iterator().asScala
            .filter(f => f.getFileName.toString.endsWith(".parquet"))
            .map { f =>
              val h = java.security.MessageDigest.getInstance("MD5")
                .digest(java.nio.file.Files.readAllBytes(f))
              (f.getFileName.toString, h.map("%02x".format(_)).mkString)
            }.toSet
          dir.getFileName.toString -> files
        }.toMap
    }

    // Batch 1: 25-block chain g, b1..b24 → buckets 0 (h0-9), 1 (h10-19), 2 (h20-24)
    val names = "g" +: (1 to 24).map(i => s"b$i")
    input.addData(names.zipWithIndex.map { case (n, i) =>
      (n, if (i == 0) "" else names(i - 1), 1000L + i) }: _*)
    writer.start().awaitTermination()
    val fp1 = fingerprints()
    assert(fp1.keySet == Set("height_bucket=0", "height_bucket=1", "height_bucket=2"))

    // Batch 2: extend the tip by 2 (heights 25, 26) → ONLY bucket 2 changes.
    input.addData(("b25", "b24", 1025L), ("b26", "b25", 1026L))
    writer.start().awaitTermination()
    val fp2 = fingerprints()
    assert(fp2("height_bucket=0") == fp1("height_bucket=0"), "bucket 0 rewritten on tip extend")
    assert(fp2("height_bucket=1") == fp1("height_bucket=1"), "bucket 1 rewritten on tip extend")
    assert(fp2("height_bucket=2") != fp1("height_bucket=2"), "tip bucket not rewritten")

    // Batch 3: a LONGER fork from height 14 (b14' .. b28', 15 blocks beats
    // the 12 on main after b14) → reorg back into bucket 1; bucket 0 stays.
    val fork = (15 to 29).map(i => s"f$i")
    input.addData(fork.zipWithIndex.map { case (n, i) =>
      (n, if (i == 0) "b14" else fork(i - 1), 2000L + i) }: _*)
    writer.start().awaitTermination()
    val fp3 = fingerprints()
    assert(fp3("height_bucket=0") == fp2("height_bucket=0"), "bucket 0 rewritten on mid-chain reorg")
    assert(fp3("height_bucket=1") != fp2("height_bucket=1"), "fork bucket not rewritten")
    assert(fp3("height_bucket=2") != fp2("height_bucket=2"), "post-fork bucket not rewritten")

    // Converged state ≡ the batch path over the full bronze, and the fork won.
    val bronze = spark.read.parquet(s"$tmp/bronze").dropDuplicates("hash")
    val expect = BestChain.annotate(bronze)
      .select(col("hash"), col("height").cast("long"), col("is_on_best_chain"))
    val gold = spark.read.parquet(s"$tmp/gold")
      .select(col("hash"), col("height").cast("long"), col("is_on_best_chain"))
    assert(gold.exceptAll(expect).isEmpty && expect.exceptAll(gold).isEmpty)
    val best = gold.where(col("is_on_best_chain")).select("hash").as[String].collect().toSet
    assert(best.contains("f29") && !best.contains("b15"))
  }

  test("incrementalGold: streamed blocks land in bronze, gold recomputed per batch, reorg converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream").toString

    val input = MemoryStream[(String, String, Long)]
    val blocks = input.toDF().toDF("hash", "parent_hash", "ts")
      .select(col("hash"),
        when(col("parent_hash") === "", lit(null)).otherwise(col("parent_hash")).as("parent_hash"),
        col("ts"))

    val writer = ChainStream.incrementalGold(
      blocks, s"$tmp/bronze",
      (_, bronze) => BestChain.annotate(bronze),
      s"$tmp/gold", s"$tmp/ckpt")

    // Batch 1: initial chain g <- a <- b
    input.addData(("g", "", 1000L), ("a", "g", 1100L), ("b", "a", 1200L))
    writer.start().awaitTermination()
    val gold1 = spark.read.parquet(s"$tmp/gold")
      .where(col("is_on_best_chain")).select("hash").as[String].collect().toSet
    assert(gold1 == Set("g", "a", "b"))

    // Batch 2: competing longer fork b' <- c' arrives → reorg away from b
    input.addData(("b2", "a", 1201L), ("c2", "b2", 1300L))
    writer.start().awaitTermination()
    val gold2 = spark.read.parquet(s"$tmp/gold")
      .where(col("is_on_best_chain")).select("hash").as[String].collect().toSet
    assert(gold2 == Set("g", "a", "b2", "c2"))
    // stale block is retained in bronze but off-chain in gold
    val all2 = spark.read.parquet(s"$tmp/gold").select("hash").as[String].collect().toSet
    assert(all2.contains("b"))
  }

  test("a gold micro-batch leaves nothing it materialized cached once it lands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-gold-scope").toString
    val sc = spark.sparkContext
    val input = MemoryStream[(String, String, Long)]
    val blocks = input.toDF().toDF("hash", "parent_hash", "ts")
      .select(col("hash"),
        when(col("parent_hash") === "", lit(null)).otherwise(col("parent_hash")).as("parent_hash"),
        col("ts"))
    val writer = ChainStream.incrementalGold(
      blocks, s"$tmp/bronze",
      (_, bronze) => BestChain.annotate(bronze),
      s"$tmp/gold", s"$tmp/ckpt")
    input.addData(("g", "", 1000L) +:
      (1 to 20).map(i => (s"b$i", if (i == 1) "g" else s"b${i - 1}", 1000L + i)): _*)
    // a low envelope puts the annotation on the doubling route, which
    // rebases every round and its result
    sys.props("graft.broadcastMaxRows") = "4"
    try {
      val before = sc.getPersistentRDDs.keySet
      writer.start().awaitTermination()
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"the gold batch left ${left.size} materializations cached")
    } finally sys.props.remove("graft.broadcastMaxRows")
    assert(spark.read.parquet(s"$tmp/gold").where(col("is_on_best_chain")).count() == 21)
  }

  test("incrementalWalletLabels: streamed reorg splits stored components; replay writes nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-w").toString
    // block rows carry their txs' funding lists inline: (tx_hash, funders)
    val input = MemoryStream[(String, String, Long, Seq[(String, Seq[String])])]
    val blocks = input.toDF().toDF("hash", "parent_hash", "ts", "txs")
      .select(col("hash"),
        when(col("parent_hash") === "", lit(null)).otherwise(col("parent_hash")).as("parent_hash"),
        col("ts"), col("txs"))
    // every funder derivation the maintainer plans goes through here, with
    // the blocks it asks for
    val funderCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val funderBlocks = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      funderCalls.incrementAndGet()
      df.select("hash").collect().foreach(r => funderBlocks.add(r.getString(0)))
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    }
    val writer = ChainStream.incrementalWalletLabels(
      blocks, s"$tmp/bronze", fundersOf, s"$tmp/labels", s"$tmp/ckpt")
    def labels(): Map[String, String] = spark.read.parquet(s"$tmp/labels/labels")
      .select("address", "wallet_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def storeFiles(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/labels/labels"))
        .iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f))
          f.toString -> h.map("%02x".format(_)).mkString
        }.toMap
    }

    // Batch 1: g <- a <- b; t3 in block b co-spends (a2,a3), chaining the
    // t1 {a1,a2} and t2 {a3,a4} wallets into one component labeled a1
    input.addData(
      ("g", "", 1000L, Seq(("t1", Seq("a1", "a2")))),
      ("a", "g", 1100L, Seq(("t2", Seq("a3", "a4")))),
      ("b", "a", 1200L, Seq(("t3", Seq("a2", "a3")))))
    assert(lastWalletBatch(writer.start().awaitTermination()).route == "bootstrap")
    assert(labels() == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1", "a4" -> "a1"))

    // Batch 2: longer fork b2 <- c2 reorgs b out — t3's merge RETRACTS (the
    // stored component splits) while the replacement branch's t4 co-spends
    // (a4,a5), merging a new address into the {a3,a4} side
    funderCalls.set(0)
    funderBlocks.clear()
    input.addData(
      ("b2", "a", 1201L, Seq(("t4", Seq("a4", "a5")))),
      ("c2", "b2", 1300L, Seq.empty[(String, Seq[String])]))
    val reorgRecord = lastWalletBatch(writer.start().awaitTermination())
    // the reorg batch resolved O(batch) against the cursor, not via a full
    // bronze annotate
    assert(reorgRecord.route == "extend")
    // ONE clustering per reorg batch: the replace repair moves the stored
    // edge multiset to the post-reorg chain, arrivals included, so the batch
    // derives funders for the invalidated blocks and the arrived blocks only
    // — never the whole best chain, and no third derivation for an
    // incremental pass over the arrivals
    assert(reorgRecord.detail("repair") == graft.chain.WalletCluster.RepairRoute.Replace.name)
    assert(reorgRecord.detail("edges") ==
      Some(ChainStream.EdgeRoute.Multiset(lag = 0, lookupBlocks = 3).detail))
    assert(funderCalls.get == 2, s"reorg batch derived funders ${funderCalls.get} times")
    val looked = {
      import scala.jdk.CollectionConverters._
      funderBlocks.asScala.toSeq
    }
    assert(looked.sorted == Seq("b", "b2", "c2"),
      s"reorg batch looked up funders of $looked, not the invalidated plus arrived blocks")
    assert(labels() == Map(
      "a1" -> "a1", "a2" -> "a1", "a3" -> "a3", "a4" -> "a3", "a5" -> "a3"))
    // repaired store == full recompute of the post-reorg chain
    val bronze = spark.read.parquet(s"$tmp/bronze").dropDuplicates("hash")
    val best = BestChain.annotate(bronze).where(col("is_on_best_chain")).select("hash")
    val bestFunders = fundersOf(spark, bronze.join(best, Seq("hash"), "left_semi"))
    val full = graft.chain.WalletCluster.clusters(
        bestFunders.select(col("src_address").as("address")).distinct(), bestFunders)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels() == full)

    // Batch 3: replay of batch 2 (crash-recovery path) — bronze dedupes,
    // the best chain is unchanged, and no label slot is rewritten
    val fpBefore = storeFiles()
    input.addData(
      ("b2", "a", 1201L, Seq(("t4", Seq("a4", "a5")))),
      ("c2", "b2", 1300L, Seq.empty[(String, Seq[String])]))
    val replayed = lastWalletBatch(writer.start().awaitTermination())
    // a replayed batch is recognized on the cursor and exits before any
    // label work — no store read, no cursor rewrite
    assert(replayed.route == "unchanged")
    assert(storeFiles() == fpBefore, "replayed batch rewrote label slots")
    assert(labels() == full)
  }

  test("wallet cursor is height-bucketed: a tip extension rewrites only the tip bucket") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cursor-bucket").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    // bootstrap a chain spanning two cursor buckets (heights 0..10000)
    val n = 10001
    val chain = (0 until n).map { i =>
      (f"b$i%06d", if (i == 0) null else f"b${i - 1}%06d", 1000L + i,
        if (i == 0) Seq(("t1", Seq("a1", "a2"))) else Seq.empty[(String, Seq[String])])
    }
    ChainStream.walletLabelsBatch(spark, chain.toDF("hash", "parent_hash", "ts", "txs"),
      s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
    val cursorDir = java.nio.file.Paths.get(s"$tmp/labels/_bestchain")
    assert(java.nio.file.Files.exists(cursorDir.resolve("height_bucket=0")))
    assert(java.nio.file.Files.exists(cursorDir.resolve("height_bucket=1")))
    def sigs(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(cursorDir).iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f))
          f.toString -> h.map("%02x".format(_)).mkString
        }.toMap
    }
    val before = sigs()

    // one-block tip extension lands in bucket 1 — bucket 0's files must
    // stay byte-identical (the O(delta) cursor write, not a chain rewrite)
    val ext = Seq((f"b$n%06d", f"b${n - 1}%06d", 1000L + n,
      Seq.empty[(String, Seq[String])])).toDF("hash", "parent_hash", "ts", "txs")
    val rec = ChainStream.walletLabelsBatch(spark, ext, s"$tmp/bronze", fundersOf,
      s"$tmp/labels", 8)
    assert(rec.routeName == "extend")
    val after = sigs()
    val b0Before = before.filter(_._1.contains("height_bucket=0"))
    val b0After = after.filter(_._1.contains("height_bucket=0"))
    assert(b0Before == b0After, "bucket 0 files changed on a tip extension")
    assert(after.keys.exists(p => p.contains("height_bucket=1") && !before.contains(p)),
      "tip bucket not rewritten")

    // read-back: the bucketed cursor still reconstructs the full best chain
    val cursor = spark.read.parquet(s"$tmp/labels/_bestchain")
    assert(cursor.count() == n + 1)
    assert(cursor.agg(max("height")).head.getInt(0) == n)
    assert(cursor.select("hash").distinct().count() == n + 1)
  }

  test("one cursor read per batch: a stepped extend and a shallow reorg each scan _bestchain in one SQL execution and infer no schema") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cursor-reads").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def step(rows: Seq[(String, String)]) =
      ChainStream.walletLabelsBatch(spark,
        rows.zipWithIndex.map { case ((h, p), i) =>
          (h, p, 5000L + i, Seq.empty[(String, Seq[String])]) }
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
    // bootstrap heights 0..29; only genesis funds a tx, so the reorg below
    // retracts no co-spend edge and its repair stops at the no-op probe
    val n = 30
    def b(i: Int) = f"b$i%03d"
    ChainStream.walletLabelsBatch(spark,
      (0 until n).map(i => (b(i), if (i == 0) null else b(i - 1), 1000L + i,
        if (i == 0) Seq(("t1", Seq("a1", "a2"))) else Seq.empty[(String, Seq[String])]))
        .toDF("hash", "parent_hash", "ts", "txs"),
      s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
    assert(step(Seq((b(n), b(n - 1)))).routeName == "extend") // warm steady state
    val cursorPath = s"file:$tmp/labels/_bestchain" // as a scan's Location prints it
    // the probe sees an inference job where one runs
    assert(ExecutionProbe(spark)(spark.read.parquet(cursorPath))._2.inferenceJobs == 1)

    val (ext, extCounts) = ExecutionProbe(spark, cursorPath)(step(Seq((b(n + 1), b(n)))))
    assert(ext.routeName == "extend")
    assert(extCounts.scans(cursorPath) == 1,
      s"extend batch scanned the cursor in ${extCounts.scans(cursorPath)} executions")
    assert(extCounts.inferenceJobs == 0,
      s"extend batch started ${extCounts.inferenceJobs} schema-inference jobs")

    // shallow reorg: a three-block branch off height n-1 replaces n, n+1
    val branch = Seq(("x1", b(n - 1)), ("x2", "x1"), ("x3", "x2"))
    val (reorg, reorgCounts) = ExecutionProbe(spark, cursorPath)(step(branch))
    assert(reorg.routeName == "extend" && reorg.invalidated == 2 && reorg.arrived == 3)
    assert(reorgCounts.scans(cursorPath) == 1,
      s"reorg batch scanned the cursor in ${reorgCounts.scans(cursorPath)} executions")
    assert(reorgCounts.inferenceJobs == 0,
      s"reorg batch started ${reorgCounts.inferenceJobs} schema-inference jobs")

    // the cursor is the reorged chain, and the reorged-out rows pend
    val cursor = spark.read.parquet(s"$tmp/labels/_bestchain").select("hash", "height")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(cursor == (0 until n).map(i => b(i) -> i).toMap ++
      Map("x1" -> n, "x2" -> (n + 1), "x3" -> (n + 2)))
    val pending = spark.read.parquet(s"$tmp/labels/_frontier")
      .where(col("kind") === "p").select("hash", "parent_hash").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pending == Map(b(n) -> b(n - 1), b(n + 1) -> b(n)))
  }

  test("a streaming extend batch reads the default-slot label store without a listing job") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-store-listing").toString
    val input = MemoryStream[(String, String, Long, Seq[(String, Seq[String])])]
    val blocks = input.toDF().toDF("hash", "parent_hash", "ts", "txs")
      .select(col("hash"),
        when(col("parent_hash") === "", lit(null)).otherwise(col("parent_hash")).as("parent_hash"),
        col("ts"), col("txs"))
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    // the maintainer's default slot count, as tip-following runs it
    val writer = ChainStream.incrementalWalletLabels(
      blocks, s"$tmp/bronze", fundersOf, s"$tmp/labels", s"$tmp/ckpt")
    // bootstrap: 400 single-funder txs spread the store over every slot
    input.addData(("g", "", 1000L, (0 until 400).map(i => (f"t$i%03d", Seq(f"a$i%03d")))))
    assert(lastWalletBatch(writer.start().awaitTermination()).route == "bootstrap")
    import scala.jdk.CollectionConverters._
    val slotDirs = Files.list(java.nio.file.Paths.get(s"$tmp/labels/labels")).iterator().asScala
      .count(p => Files.isDirectory(p))
    assert(slotDirs > 1, s"store holds $slotDirs slot directories")

    // extension: a co-spend of a stored and a new address reads the store
    // and rewrites the changed slots
    input.addData(("h", "g", 1100L, Seq(("u1", Seq("a000", "z")))))
    val extend = Telemetry.timed(spark.sparkContext)(
      ExecutionProbe(spark)(writer.start().awaitTermination())._2)
    val counts = extend.value
    assert(walletBatches(extend).last.route == "extend")
    assert(counts.listingJobs == 0,
      s"extend batch started ${counts.listingJobs} listing jobs over $slotDirs slot directories")
    val labels = spark.read.parquet(s"$tmp/labels/labels").select("address", "wallet_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.size == 401 && labels("z") == "a000" && labels("a000") == "a000")
  }

  test("bestChainIncremental equals a full annotate on random batched feeds (in-order and shuffled)") {
    import spark.implicits._
    // deterministic fixture: a 60-block main chain, stale siblings, one
    // 5-deep competing branch that wins late (a real reorg), fed in batches
    val rnd = new scala.util.Random(7)
    val blocks = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    var mainTip = "g0"
    blocks += (("g0", null, 1000L))
    var mainH = 0
    var forkBase = ""
    (1 to 60).foreach { i =>
      val h = s"m$i"
      blocks += ((h, mainTip, 1000L + i)); mainTip = h; mainH = i
      if (rnd.nextDouble() < 0.15) blocks += ((s"s$i", blocks(i - 1)._1, 2000L + i))
      if (i == 50) forkBase = h
    }
    // competing branch forks at m50, 15 blocks — outgrows the 60-block main
    (1 to 15).foreach { d =>
      val h = s"f$d"
      blocks += ((h, if (d == 1) forkBase else s"f${d - 1}", 3000L + d))
    }

    // The maintainer's chain: the best chain of the CONNECTED subgraph
    // (blocks whose ancestry reaches a null-parent root), recomputed from
    // scratch by the batch annotator over exactly that subgraph — empty
    // until a genesis arrives.
    def connectedChain(bronzeRows: Map[String, Option[String]]): Map[String, Int] = {
      val reachable = {
        val children = bronzeRows.toSeq.collect {
          case (h, Some(p)) => p -> h
        }.groupMap(_._1)(_._2)
        val seen = scala.collection.mutable.HashSet.empty[String]
        val queue = scala.collection.mutable.Queue(
          bronzeRows.collect { case (h, None) => h }.toSeq: _*)
        while (queue.nonEmpty) {
          val h = queue.dequeue()
          if (seen.add(h)) children.getOrElse(h, Nil).foreach(queue.enqueue)
        }
        seen.toSet
      }
      if (reachable.isEmpty) Map.empty[String, Int]
      else BestChain.annotate(
          bronzeRows.filter(kv => reachable(kv._1)).toSeq
            .map { case (h, p) => (h, p.orNull) }.toDF("hash", "parent_hash"))
        .where(col("is_on_best_chain"))
        .select(col("hash"), col("height").cast("int").as("height"))
        .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    }

    // FRONTIER-FREE feeds (the maintainer after a stamp loss or an index
    // overflow): unanchored batches and attachments route to the full
    // resolution, and every batch must still yield the connected chain.
    def runFeed(feed: Seq[Seq[(String, String, Long)]], label: String): Unit = {
      var bronzeRows = Map.empty[String, Option[String]] // hash -> parent
      var cursor: Option[org.apache.spark.sql.DataFrame] = None
      feed.foreach { batchRows =>
        val batchDf = batchRows.toDF("hash", "parent_hash", "ts")
        bronzeRows = bronzeRows ++ batchRows.map(r => r._1 -> Option(r._2))
        val bronze = bronzeRows.toSeq.map { case (h, p) => (h, p.orNull) }
          .toDF("hash", "parent_hash")
        val upd = ChainStream.bestChainIncremental(spark, bronze, batchDf, cursor)
        val got = upd.best
          .select(col("hash"), col("height").cast("int").as("height"))
          .localCheckpoint(true)
        val g = got.collect().map(r => (r.getString(0), r.getInt(1))).toSet
        val e = connectedChain(bronzeRows).toSet
        assert(g == e,
          s"$label diverged (route=${upd.route}): " +
            s"missing=${e -- g} extra=${g -- e}")
        cursor = Some(got)
      }
    }

    // in-order feed: batches of 1–4 in generation order — extends, stale
    // siblings (unchanged), and the f-branch overtaking m60 (a 10-deep reorg)
    val ordered = {
      val it = blocks.toList
      val out = scala.collection.mutable.ListBuffer.empty[Seq[(String, String, Long)]]
      var rest = it
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(4)
        out += rest.take(n); rest = rest.drop(n)
      }
      out.toSeq
    }
    runFeed(ordered, "in-order")

    // shuffled feed: dangling fragments arrive before their parents — the
    // attachment/unresolvable probes must route those batches to the full
    // resolution and still match the connected chain exactly
    val shuffled = rnd.shuffle(blocks.toList).grouped(7).toSeq
    runFeed(shuffled, "shuffled")

    // FRONTIER-threaded feeds (the maintainer's steady state): same
    // batches, but unanchored blocks PEND instead of forcing a full
    // resolution and attachments resolve by the driver cascade. The chain
    // is the same connected one. The frontier must equal its from-scratch
    // derivation (pending = bronze − chain, dangling = referenced −
    // present) after every batch; once everything has arrived, the chain
    // equals the full annotation.
    def runFeedFrontier(feed: Seq[Seq[(String, String, Long)]], label: String): Unit = {
      var bronzeRows = Map.empty[String, Option[String]] // hash -> parent
      var cursor: Option[org.apache.spark.sql.DataFrame] = None
      var frontier = ChainStream.Frontier(Set.empty, Map.empty)
      var bronzeDf: org.apache.spark.sql.DataFrame = null
      feed.foreach { batchRows =>
        val batchDf = batchRows.toDF("hash", "parent_hash", "ts")
        bronzeRows = bronzeRows ++ batchRows.map(r => r._1 -> Option(r._2))
        bronzeDf = bronzeRows.toSeq.map { case (h, p) => (h, p.orNull) }
          .toDF("hash", "parent_hash")
        val upd = ChainStream.bestChainIncremental(
          spark, bronzeDf, batchDf, cursor, frontier = Some(frontier))
        val got = upd.best
          .select(col("hash"), col("height").cast("int").as("height"))
          .localCheckpoint(true)
        val gotMap = got.collect().map(r => (r.getString(0), r.getInt(1))).toMap
        // maintain the frontier the way walletLabelsBatch does: carry the
        // returned one, folding reorged-out prior-cursor rows into pending
        // (spec-side: anything that left the chain), re-deriving on full
        // routes
        frontier = upd.newFrontier match {
          case Some(f) =>
            val dropped = cursor.map(_.collect().map(_.getString(0)).toSet
              .diff(gotMap.keySet)).getOrElse(Set.empty)
            ChainStream.Frontier(f.dangling,
              f.pending ++ dropped.map(h => h -> bronzeRows(h).orNull))
          case None => ChainStream.Frontier(
            bronzeRows.valuesIterator.flatten.toSet -- bronzeRows.keySet,
            (bronzeRows.keySet -- gotMap.keySet).iterator
              .map(h => h -> bronzeRows(h).orNull).toMap)
        }
        val route = upd.route
        // 1. frontier == from-scratch derivation
        val expectDangling = bronzeRows.valuesIterator.flatten.toSet -- bronzeRows.keySet
        val expectPending = bronzeRows.keySet -- gotMap.keySet
        assert(frontier.dangling == expectDangling,
          s"$label dangling drifted (route=$route): " +
            s"got=${frontier.dangling} want=$expectDangling")
        assert(frontier.pending.keySet == expectPending,
          s"$label pending drifted (route=$route): " +
            s"got=${frontier.pending.keySet} want=$expectPending")
        frontier.pending.foreach { case (h, p) =>
          assert(Option(p) == bronzeRows(h), s"$label pending parent wrong for $h")
        }
        // 2. the chain == the best chain of the connected subgraph
        val expect = connectedChain(bronzeRows)
        assert(gotMap == expect,
          s"$label frontier-chain diverged (route=$route): " +
            s"missing=${expect.toSet -- gotMap.toSet} extra=${gotMap.toSet -- expect.toSet}")
        cursor = Some(got)
      }
      // everything arrived: no dangling references remain (pending keeps
      // the stale branches — off-chain forever, by definition) and the
      // maintained chain equals the full batch annotation exactly
      assert(frontier.dangling.isEmpty, s"$label left dangling refs: ${frontier.dangling}")
      val finalGot = cursor.get.collect().map(r => (r.getString(0), r.getInt(1))).toSet
      val finalExpect = BestChain.annotate(bronzeDf).where(col("is_on_best_chain"))
        .select(col("hash"), col("height").cast("int").as("height"))
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(finalGot == finalExpect,
        s"$label final chain != annotate: missing=${finalExpect -- finalGot} " +
          s"extra=${finalGot -- finalExpect}")
    }
    runFeedFrontier(ordered, "frontier-in-order")
    runFeedFrontier(rnd.shuffle(blocks.toList).grouped(5).toSeq, "frontier-shuffled")
  }

  test("incrementalWalletLabels: resuming with a different slots value re-bootstraps instead of corrupting the store") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-stream-ws").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def labels(): Map[String, String] = spark.read.parquet(s"$tmp/labels/labels")
      .select("address", "wallet_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the streaming writer always runs the default slot count; the batch
    // step takes the count, so a resume under another one can be staged
    def step(rows: Seq[(String, String, Long, Seq[(String, Seq[String])])], slots: Int) =
      ChainStream.walletLabelsBatch(spark, rows.toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", slots)
    def storedSlots = graft.sinks.StoreManifest.read(spark, s"$tmp/labels")
      .map(_.layout("slots"))

    // bootstrap under slots=8 — the manifest records the store's slot count
    step(Seq(("g", null, 1000L, Seq(("t1", Seq("a1", "a2"))))), 8)
    assert(labels() == Map("a1" -> "a1", "a2" -> "a1"))
    assert(storedSlots.contains(8))

    // resume the SAME store with slots=4: slot assignment disagrees with the
    // on-disk layout, so the maintainer must re-bootstrap under the new
    // value — a silent continue would leave a2's replacement row in one slot
    // and its stale row in another
    assert(step(Seq(("a", "g", 1100L, Seq(("t2", Seq("a2", "a3"))))), 4).storeBootstrap)
    assert(labels() == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1"))
    assert(storedSlots.contains(4))
    // one row per address (no stale duplicates across slot partitions), and
    // every row sits in the slot the NEW value assigns
    val store = spark.read.parquet(s"$tmp/labels/labels")
    assert(store.count() == store.select("address").distinct().count())
    val misplaced = store
      .where(col(graft.sinks.PartitionedGold.BucketCol) =!=
        pmod(xxhash64(col("address")), lit(4)).cast("int"))
    assert(misplaced.isEmpty, "rows left in slots the new value does not assign")
  }

  test("wallet label store: an empty or other-version manifest re-bootstraps and converges to the same labels") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-stream-manifest").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    // the same feed into two stores: `ref` is never disturbed
    def step(store: String, rows: Seq[(String, String, Long, Seq[(String, Seq[String])])]) =
      ChainStream.walletLabelsBatch(spark, rows.toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/$store/bronze", fundersOf, s"$tmp/$store/labels")
    def labels(store: String): Map[String, String] =
      spark.read.parquet(s"$tmp/$store/labels/labels").select("address", "wallet_id")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the manifest goes through the store's own filesystem, checksum included
    def writeManifest(text: String): Unit =
      graft.sinks.Hfs.writeText(spark, s"$tmp/hit/labels/_manifest", text)
    val feed = Seq(
      Seq(("g", null, 1000L, Seq(("t1", Seq("a1", "a2"))))),
      Seq(("a", "g", 1100L, Seq(("t2", Seq("a2", "a3"))))),
      Seq(("b", "a", 1200L, Seq(("t3", Seq("a4", "a5"))))),
      Seq(("c", "b", 1300L, Seq(("t4", Seq("a5", "a1"))))))
    val ref = feed.map(step("ref", _))
    assert(ref.head.storeBootstrap && ref.tail.forall(r => r.routeName == "extend" && !r.storeBootstrap))

    assert(step("hit", feed(0)).storeBootstrap)
    // a crash between the manifest's create and its write leaves it empty:
    // the next batch re-bootstraps instead of failing on the parse
    writeManifest("")
    val afterEmpty = step("hit", feed(1))
    assert(afterEmpty.routeName == "extend" && afterEmpty.storeBootstrap)
    assert(labels("hit") == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1"))
    // a store another layout version wrote re-bootstraps the same way
    writeManifest("""{"format":"wallet_labels","version":0,"layout":{"slots":32}}""")
    assert(step("hit", feed(2)).storeBootstrap)
    // the manifest is current again: the next batch is a plain extension
    val last = step("hit", feed(3))
    assert(last.routeName == "extend" && !last.storeBootstrap)
    assert(labels("hit") == labels("ref"))
    assert(graft.sinks.StoreManifest.read(spark, s"$tmp/hit/labels") ==
      graft.sinks.StoreManifest.read(spark, s"$tmp/ref/labels"))
  }

  test("graceful shutdown: stop lands on a batch boundary; resume has no duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-g").toString
    val input = MemoryStream[(String, String, Long)]
    val blocks = input.toDF().toDF("hash", "parent_hash", "ts")
      .select(col("hash"),
        when(col("parent_hash") === "", lit(null)).otherwise(col("parent_hash")).as("parent_hash"),
        col("ts"))
    val writer = ChainStream.incrementalGold(
      blocks, s"$tmp/bronze",
      (_, bronze) => BestChain.annotate(bronze),
      s"$tmp/gold", s"$tmp/ckpt")

    val g = new graft.streaming.Graceful(spark, awaitMs = 20000L)
    try {
      // Long-running leg: continuous trigger, stop must land on a boundary.
      val q = g.manage(writer
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .start())
      input.addData(("g", "", 1000L), ("a", "g", 1100L), ("b", "a", 1200L))
      val deadline = System.nanoTime() + 20e9.toLong
      def goldBest(): Set[String] =
        try spark.read.parquet(s"$tmp/gold").where(col("is_on_best_chain"))
          .select("hash").as[String].collect().toSet
        catch { case _: Exception => Set.empty }
      while (goldBest() != Set("g", "a", "b") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(goldBest() == Set("g", "a", "b"))
      g.requestStop()
      assert(g.awaitStopped(), "managed query did not stop at a batch boundary")
      assert(!q.isActive)
      // The committed batch survived the stop intact.
      assert(goldBest() == Set("g", "a", "b"))

      // Resume from the SAME checkpoint: only the new batch is processed,
      // and the recomputed gold stays duplicate-free.
      input.addData(("b2", "a", 1201L), ("c2", "b2", 1300L))
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      assert(goldBest() == Set("g", "a", "b2", "c2"))
      val gold = spark.read.parquet(s"$tmp/gold").select("hash").as[String].collect()
      assert(gold.length == gold.distinct.length, "duplicate gold rows after resume")
    } finally g.close()
  }

  test("runningBalances: stateful per-address balance with retraction deltas") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-b").toString
    val input = MemoryStream[(String, Long)]
    val q = ChainStream.runningBalances(input.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("balances").start()
    input.addData(("A", 50L), ("B", 30L), ("A", 20L))
    q.processAllAvailable()
    input.addData(("A", -40L)) // reorg retraction
    q.processAllAvailable()
    q.stop()
    // memory sink in update mode appends each emission; last per key wins
    val last = spark.sql("SELECT address, balance FROM balances").collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.last._2 }
    assert(last("A") == 30L) // 50+20-40
    assert(last("B") == 30L)
  }

  test("config source parses and validates key=value files") {
    val conf = graft.sources.ConfSource.parse(Seq(
      "# comment", "datadir=/data/blocks", "  bitcoindir = /usr/bin ", "", "junk"))
    assert(conf == Map("datadir" -> "/data/blocks", "bitcoindir" -> "/usr/bin"))
    val err = intercept[IllegalArgumentException] {
      val p = Files.createTempFile("conf", ".conf")
      java.nio.file.Files.writeString(p, "datadir=/x\n")
      graft.sources.ConfSource.load(p.toString, required = Seq("datadir", "configdir"))
    }
    assert(err.getMessage.contains("configdir"))
  }

  test("dedupedBlocks drops duplicate hashes within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-d").toString
    val input = MemoryStream[(String, Timestamp)]
    val blocks = input.toDF().toDF("hash", "ts")
    val q = ChainStream.dedupedBlocks(blocks, "ts", "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("dedup").start()
    def t(s: String) = Timestamp.valueOf(s)
    input.addData(("b1", t("2024-01-01 10:00:00")), ("b2", t("2024-01-01 10:01:00")))
    q.processAllAvailable()
    input.addData(("b1", t("2024-01-01 10:02:00"))) // replay inside watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT hash FROM dedup").as[String].collect().sorted
    assert(got.toSeq == Seq("b1", "b2"))
  }

  test("CurationStream: quality gate before watermarked content dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-c").toString
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = graft.streaming.CurationStream.curated(docs, "ts", "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("curated").start()
    def t(s: String) = Timestamp.valueOf(s)
    input.addData(
      (1L, "a clean document with plenty of words here", t("2024-01-01 10:00:00")),
      (2L, "too short", t("2024-01-01 10:00:30")), // fails the token floor
      (3L, "!!! ??? ... ;;; ::: @@@ prose ratio fails", t("2024-01-01 10:01:00")))
    q.processAllAvailable()
    input.addData(
      // same content as doc 1 up to case/whitespace -> deduped away
      (4L, "  A   Clean Document with plenty of words HERE ", t("2024-01-01 10:02:00")),
      (5L, "another clean document with plenty of words", t("2024-01-01 10:03:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT doc_id FROM curated").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 5L),
      "quality failures and the normalized re-crawl must not pass")
  }

  test("CurationStream classifier gate agrees with the batch t14 keep flag") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-clf").toString
    // candidate docs all pass the heuristics; the hash-derived weights
    // decide keep/drop — find one of each from the BATCH operator, then
    // assert the stream admits exactly the batch keepers
    val texts = (0 until 12).map(i => // per-doc-unique tokens: independent draws
      (i.toLong, (0 until 8).map(j => s"tok${i}x$j").mkString(" ")))
    val batchKeep = graft.operators.TextOps
      .classifierScore(texts.toDF("doc_id", "text"), "doc_id", "text")
      .where(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(batchKeep.nonEmpty && batchKeep.size < texts.size,
      s"fixture must split: $batchKeep") // both classes present
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = graft.streaming.CurationStream
      .curated(docs, "ts", "10 minutes", classifierModel = Some("qc1"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("clf_curated").start()
    def t(s: String) = Timestamp.valueOf(s)
    input.addData(texts.zipWithIndex.map { case ((id, tx), i) =>
      (id, tx, t(f"2024-01-01 10:${i}%02d:00")) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT doc_id FROM clf_curated").as[Long].collect().toSet
    assert(streamed == batchKeep, s"stream $streamed != batch $batchKeep")
  }

  test("windowedCounts aggregates a stream by tumbling event-time windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream-w").toString

    val input = MemoryStream[(Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")
    val query = ChainStream.windowedCounts(events, "ts", "10 minutes", "1 hour")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("wcounts")
      .start()

    def t(s: String) = Timestamp.valueOf(s)
    input.addData(
      (t("2024-01-01 10:05:00"), "click"), (t("2024-01-01 10:55:00"), "click"),
      (t("2024-01-01 11:05:00"), "view"))
    query.processAllAvailable()
    // advance watermark far enough to close the 10:00 window
    input.addData((t("2024-01-01 13:00:00"), "late"))
    query.processAllAvailable()
    query.stop()

    val got = spark.sql("SELECT event_type, n FROM wcounts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.get("click").contains(2L))
  }

  test("re-bootstrap on a replayed batch: the 'unchanged' cursor is never overwritten while read (and a flat cursor takes the bootstrap route)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-stream-reboot").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def labels(): Map[String, String] = spark.read.parquet(s"$tmp/labels/labels")
      .select("address", "wallet_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def cursorSigs(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/labels/_bestchain"))
        .iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f))
          f.toString -> h.map("%02x".format(_)).mkString
        }.toMap
    }
    val rows = Seq(
      ("g", null, 1000L, Seq(("t1", Seq("a1", "a2")))),
      ("a", "g", 1100L, Seq(("t2", Seq("a2", "a3")))))
    val batch = rows.toDF("hash", "parent_hash", "ts", "txs")
    ChainStream.walletLabelsBatch(spark, batch, s"$tmp/bronze", fundersOf,
      s"$tmp/labels", slots = 8)
    assert(labels() == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1"))
    val before = cursorSigs()

    // Replay the SAME batch under a different slots value: bootstrapping is
    // forced (manifest disagrees) while the best chain is UNCHANGED — the
    // cursor's plan is a read of its own path, so the write must be skipped
    // (already bucketed, content identical), not an overwrite-while-reading
    val replay = ChainStream.walletLabelsBatch(spark, batch, s"$tmp/bronze", fundersOf,
      s"$tmp/labels", slots = 4)
    assert(replay.routeName == "unchanged" && replay.storeBootstrap)
    assert(labels() == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1"))
    assert(cursorSigs() == before, "unchanged re-bootstrap rewrote the bucketed cursor")

    // Flat cursor without height buckets (a layout no writer produces): it
    // is no cursor, so the batch bootstraps through the full route, which
    // writes the whole bucketed layout
    val flat = spark.read.parquet(s"$tmp/labels/_bestchain")
      .select("hash", "height").localCheckpoint(true)
    val fsPath = java.nio.file.Paths.get(s"$tmp/labels/_bestchain")
    org.apache.commons.io.FileUtils.deleteDirectory(fsPath.toFile)
    flat.write.mode("overwrite").parquet(s"$tmp/labels/_bestchain")
    val migrate = ChainStream.walletLabelsBatch(spark, batch, s"$tmp/bronze", fundersOf,
      s"$tmp/labels", slots = 2)
    assert(migrate.routeName == "bootstrap")
    val migrated = spark.read.parquet(s"$tmp/labels/_bestchain")
    assert(migrated.columns.contains(graft.sinks.PartitionedGold.BucketCol),
      "flat cursor was not migrated to the bucketed layout")
    assert(migrated.count() == 2)
    assert(labels() == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1"))
  }

  test("wallet batch sweep drops only its own thread's materializations: a frame cached beside it survives") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-batch-sweep").toString
    val sc = spark.sparkContext
    // a query running beside the maintainer (the gold sink on the same
    // feed) caches a frame on ITS thread while a wallet batch is in flight
    var beside: org.apache.spark.rdd.RDD[_] = null
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      if (beside == null) {
        val t = new Thread(() => {
          beside = graft.operators.ChainOps.rebase((0 until 10).toDF("x"))._2
        })
        t.start(); t.join()
      }
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    }
    def step(rows: Seq[(String, String, Long, Seq[(String, Seq[String])])]) = {
      val before = sc.getPersistentRDDs.keySet
      val rec = ChainStream.walletLabelsBatch(spark,
        rows.toDF("hash", "parent_hash", "ts", "txs"), s"$tmp/bronze", fundersOf,
        s"$tmp/labels", 8)
      val left = sc.getPersistentRDDs.keySet -- before - beside.id
      assert(left.isEmpty, s"${rec.routeName} batch left ${left.size} materializations cached")
      assert(sc.getPersistentRDDs.contains(beside.id),
        s"${rec.routeName} batch swept a frame cached on another thread")
      rec
    }
    // bootstrap (checkpointed full resolution), then a funded tip extension
    // (checkpointed delta, slot content and cursor buckets)
    assert(step(Seq(
      ("g", null, 1000L, Seq(("t1", Seq("a1", "a2")))),
      ("a", "g", 1100L, Seq.empty[(String, Seq[String])]))).storeBootstrap)
    assert(step(Seq(("b", "a", 1200L, Seq(("t2", Seq("a2", "a3")))))).routeName == "extend")
    assert(spark.read.parquet(s"$tmp/labels/labels").select("wallet_id").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("a1"))
    beside.unpersist(blocking = true)
  }

  test("fallback cursor write is a changed-bucket diff: quiet fallbacks write nothing, extensions touch only the tip bucket") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cursor-diff").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def batchOf(rows: Seq[(String, String, Long)]) = rows
      .map { case (h, p, ts) => (h, p, ts, Seq.empty[(String, Seq[String])]) }
      .toDF("hash", "parent_hash", "ts", "txs")
    def step(rows: Seq[(String, String, Long)]): String =
      ChainStream.walletLabelsBatch(spark, batchOf(rows), s"$tmp/bronze",
        fundersOf, s"$tmp/labels", 8).routeName
    def cursorSigs(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/labels/_bestchain"))
        .iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f))
          f.toString -> h.map("%02x".format(_)).mkString
        }.toMap
    }
    // bootstrap a two-bucket chain (heights 0..10000) + one funded block
    val n = 10001
    val chain = (0 until n).map(i =>
      (f"b$i%06d", if (i == 0) null else f"b${i - 1}%06d", 1000L + i))
    ChainStream.walletLabelsBatch(spark,
      chain.map { case (h, p, ts) =>
        (h, p, ts, if (p == null) Seq(("t1", Seq("a1", "a2"))) else Seq.empty[(String, Seq[String])])
      }.toDF("hash", "parent_hash", "ts", "txs"),
      s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
    val sigs0 = cursorSigs()

    // a dangling fragment (parent not yet arrived) PENDS under the frontier
    // and leaves the best chain unchanged — no cursor bucket may move
    assert(step(Seq(("x00001".padTo(64, 'x').mkString, "f" * 64, 9000L))) == "unchanged")
    assert(cursorSigs() == sigs0, "quiet pending batch rewrote cursor buckets")

    // the missing parent arrives, attaching the fragment and extending the
    // chain by 2 — the cascade resolves it on the EXTEND route, and the
    // diff write must rewrite only the TIP bucket
    assert(step(Seq(("f" * 64, f"b${n - 1}%06d", 9001L))) == "extend")
    val sigs1 = cursorSigs()
    val b0Before = sigs0.filter(_._1.contains("height_bucket=0"))
    val b0After = sigs1.filter(_._1.contains("height_bucket=0"))
    assert(b0Before == b0After, "bucket 0 rewritten by a tip-range fallback")
    assert(sigs1.keys.exists(p => p.contains("height_bucket=1") && !sigs0.contains(p)),
      "tip bucket not rewritten")
    // read-back: the diffed cursor is the full best chain
    val cursor = spark.read.parquet(s"$tmp/labels/_bestchain")
    assert(cursor.count() == n + 2)
    assert(cursor.agg(max("height")).head.getInt(0) == n + 1)
  }

  test("frontier index + pruned probe: O(batch) tip-follow, pending fragments, cascade attach, deep stale branch") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-frontier").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def step(rows: Seq[(String, String, Long)]): String = {
      ChainStream.walletLabelsBatch(spark,
        rows.map { case (h, p, ts) => (h, p, ts, Seq.empty[(String, Seq[String])]) }
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8).routeName
    }
    // (dangling parents, pending blocks) from the parquet sidecar
    def frontierSets(): (Set[String], Map[String, String]) = {
      val p = java.nio.file.Paths.get(s"$tmp/labels/_frontier")
      if (!java.nio.file.Files.exists(p)) (Set.empty, Map.empty)
      else {
        val rows = spark.read.parquet(s"$tmp/labels/_frontier")
          .select("kind", "hash", "parent_hash").collect()
        (rows.iterator.filter(_.getString(0) == "d").map(_.getString(1)).toSet,
          rows.iterator.filter(_.getString(0) == "p")
            .map(r => r.getString(1) -> r.getString(2)).toMap)
      }
    }
    // bootstrap a three-bucket chain (heights 0..20000), one funded block
    val n = 20001
    ChainStream.walletLabelsBatch(spark,
      (0 until n).map(i =>
        (f"b$i%06d", if (i == 0) null else f"b${i - 1}%06d", 1000L + i,
          if (i == 0) Seq(("t1", Seq("a1", "a2"))) else Seq.empty[(String, Seq[String])]))
        .toDF("hash", "parent_hash", "ts", "txs"),
      s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
    assert(frontierSets() == ((Set.empty, Map.empty)),
      "a fully-connected chain left a non-empty frontier")

    // steady tip-follow: extend route, frontier stays empty
    assert(step(Seq(("e" * 64, f"b${n - 1}%06d", 50000L))) == "extend")
    assert(frontierSets() == ((Set.empty, Map.empty)))

    // a fragment arrives child-first: it PENDS (no full resolution, chain
    // untouched) and the missing parent lands in the dangling index
    val missingParent = "d" * 64
    assert(step(Seq(("c" * 64, missingParent, 50001L))) == "unchanged")
    assert(frontierSets() == ((Set(missingParent), Map(("c" * 64) -> missingParent))))

    // the missing parent arrives, extending the tip: the driver CASCADE
    // resolves the waiting fragment with it — an O(batch) extend, heights
    // assigned outside the batch without a full resolution
    assert(step(Seq((missingParent, "e" * 64, 50002L))) == "extend")
    assert(frontierSets() == ((Set.empty, Map.empty)), "attachment did not drain the frontier")
    val cursor = spark.read.parquet(s"$tmp/labels/_bestchain")
    assert(cursor.agg(max("height")).head.getInt(0) == n + 2) // e <- d <- c on top
    assert(cursor.count() == n + 3)

    // deep stale branch past the pruned probe range (anchor in bucket 0,
    // probe covers the top two buckets): the second-chance full-cursor
    // lookup anchors it at height 100, it LOSES the tip race, and the
    // whole branch parks in pending — chain untouched, no full resolution
    val deep = (0 until 4).map(i =>
      (("f%02d".format(i)).padTo(64, 'f').mkString,
        if (i == 0) f"b${100}%06d" else ("f%02d".format(i - 1)).padTo(64, 'f').mkString,
        60000L + i))
    assert(step(deep) == "unchanged")
    val (d2, p2) = frontierSets()
    assert(d2.isEmpty, s"anchored stale branch registered dangling parents: $d2")
    assert(p2.keySet == deep.map(_._1).toSet, s"stale branch not pending: $p2")
    val cursor2 = spark.read.parquet(s"$tmp/labels/_bestchain")
    assert(cursor2.agg(max("height")).head.getInt(0) == n + 2)

    // ...and a batch EXTENDING the pending stale branch above the tip wins
    // through the cascade-walkable pending chain: deep reorg to height 104+
    val overtake = (0 until (n + 4 - 100)).map(i =>
      (("g%05d".format(i)).padTo(64, 'g').mkString,
        if (i == 0) ("f%02d".format(3)).padTo(64, 'f').mkString
        else ("g%05d".format(i - 1)).padTo(64, 'g').mkString,
        70000L + i))
    assert(step(overtake) == "extend")
    val cursor3 = spark.read.parquet(s"$tmp/labels/_bestchain")
    assert(cursor3.agg(max("height")).head.getInt(0) == 104 + overtake.length)
    // the reorged-out prior rows (heights 101..n+2) moved into pending
    val (_, p3) = frontierSets()
    assert(p3.contains("e" * 64) && p3.contains("c" * 64) && p3.contains(f"b${n - 1}%06d"),
      s"reorged-out rows missing from pending (${p3.size} entries)")
    assert(p3(("e" * 64)) == f"b${n - 1}%06d", "pending parent pointers broken")
  }

  test("wallet maintainer survives an EMPTY bootstrap labeling (funder-less connected prefix)") {
    // Out-of-order arrival can hand the bootstrap batch a connected prefix
    // of coinbase-only blocks: the clustering is legitimately empty and the
    // store is written with zero data files. The next batch must read that
    // store (explicit schema — inference throws on empty parquet) and label
    // the first real funders incrementally. First hit live at 30× under the
    // r18 corpus's arrival permutation.
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-empty-store").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def step(rows: Seq[(String, String, Long, Seq[(String, Seq[String])])]): String = {
      ChainStream.walletLabelsBatch(spark,
        rows.toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 4).routeName
    }
    // batch 1: genesis + child, no funders anywhere → bootstrap writes an
    // empty store (only _SUCCESS)
    step(Seq(
      ("a" * 64, null, 1000L, Seq.empty),
      ("b" * 64, "a" * 64, 1001L, Seq.empty)))
    val storeDir = java.nio.file.Paths.get(s"$tmp/labels/labels")
    assert(java.nio.file.Files.exists(storeDir))
    // batch 2: a tip extension carrying the first co-spend — must read the
    // empty store without throwing and label the funders
    assert(step(Seq(
      ("c" * 64, "b" * 64, 1002L, Seq(("t1", Seq("x1", "x2")))))) == "extend")
    val store = spark.read.parquet(s"$tmp/labels/labels")
      .select("address", "wallet_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(store.keySet == Set("x1", "x2"))
    assert(store("x1") == store("x2"), "co-spent addresses not co-clustered")
  }

  test("deep replay below the probe window: transient pending entry, chain unchanged, cleared by the next full-route refresh") {
    // Pins the trade accepted in the parents-only deep lookup (ChainStream
    // ~333–351): a REPLAYED block far below the pruned probe window reads as
    // new, resolves through its (deep-looked-up) parent anchor, loses the
    // tip race, and transiently joins `pending` — benign because the
    // absence proof needs pending COMPLETENESS, never minimality — and the
    // entry clears on the next frontier re-derivation from bronze. Until
    // r18 that convergence claim was prose.
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-deep-replay").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def step(rows: Seq[(String, String, Long)]): String = {
      ChainStream.walletLabelsBatch(spark,
        rows.map { case (h, p, ts) => (h, p, ts, Seq.empty[(String, Seq[String])]) }
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8).routeName
    }
    def frontierSets(): (Set[String], Map[String, String]) = {
      val rows = spark.read.parquet(s"$tmp/labels/_frontier")
        .select("kind", "hash", "parent_hash").collect()
      (rows.iterator.filter(_.getString(0) == "d").map(_.getString(1)).toSet,
        rows.iterator.filter(_.getString(0) == "p")
          .map(r => r.getString(1) -> r.getString(2)).toMap)
    }
    def cursorRows(): Set[(String, Int)] =
      spark.read.parquet(s"$tmp/labels/_bestchain")
        .select("hash", "height").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
    // pendingCap small enough that a modest reorg forces the extend route's
    // deriveFrontier refresh (depth > cap − pending), large enough that the
    // re-derived pending set (the 10 reorged-out rows) fits without the
    // overflow marker — the documented sys-prop spec pattern
    sys.props("graft.pendingCap") = "10"
    try {
      // bootstrap a 3-bucket chain so height 100 sits well below the pruned
      // probe window (top two height buckets)
      val n = 20001
      ChainStream.walletLabelsBatch(spark,
        (0 until n).map(i =>
          (f"b$i%06d", if (i == 0) null else f"b${i - 1}%06d", 1000L + i,
            if (i == 0) Seq(("t1", Seq("a1", "a2"))) else Seq.empty[(String, Seq[String])]))
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
      val before = cursorRows()
      assert(before.size == n)
      assert(frontierSets() == ((Set.empty, Map.empty)))

      // REPLAY height 100 (deep: bucket 0, probe covers the top buckets).
      // The parents-only deep lookup anchors b000099 at height 99; the
      // replayed block resolves at 100, loses the tip race, and pends.
      assert(step(Seq((f"b${100}%06d", f"b${99}%06d", 99000L))) == "unchanged")
      val (d1, p1) = frontierSets()
      assert(d1.isEmpty, s"deep replay registered dangling parents: $d1")
      assert(p1 == Map(f"b${100}%06d" -> f"b${99}%06d"),
        s"expected exactly the transient replay entry, got $p1")
      // the CHAIN is untouched: same rows, no duplicate, no height drift
      assert(cursorRows() == before, "deep replay changed the cursor")

      // next full-route frontier refresh: a reorg whose depth exceeds the
      // pending budget forces deriveFrontier(bronze, best) on the extend
      // route. Fork 10 below the tip with a 12-block branch.
      val tipH = n - 1
      val forkParent = f"b${tipH - 10}%06d"
      val branch = (0 until 12).map(i =>
        (("r%03d".format(i)).padTo(64, 'r').mkString,
          if (i == 0) forkParent else ("r%03d".format(i - 1)).padTo(64, 'r').mkString,
          99100L + i))
      assert(step(branch) == "extend")
      val (_, p2) = frontierSets()
      // the re-derivation = bronze ∖ best: the replayed hash is ON the best
      // chain, so its transient entry is GONE; pending now holds exactly the
      // 10 reorged-out main-chain rows
      assert(!p2.contains(f"b${100}%06d"),
        s"transient replay entry survived the full refresh: $p2")
      assert(p2.keySet == (tipH - 9 to tipH).map(i => f"b$i%06d").toSet,
        s"re-derived pending != the reorged-out rows: ${p2.keySet}")
      // and the post-reorg chain carries the replayed block exactly once
      val after = cursorRows()
      assert(after.count(_._1 == f"b${100}%06d") == 1)
      assert(after.filter(_._1 == f"b${100}%06d").head._2 == 100)
    } finally sys.props.remove("graft.pendingCap")
  }

  test("dangling-index crash window: an invalidated stamp forces the authoritative scan, never a mis-routed attachment") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-dangling-crash").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def step(rows: Seq[(String, String, Long)]): String = {
      ChainStream.walletLabelsBatch(spark,
        rows.map { case (h, p, ts) => (h, p, ts, Seq.empty[(String, Seq[String])]) }
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8).routeName
    }
    def frontierBody(): Seq[(String, String, String)] =
      spark.read.parquet(s"$tmp/labels/_frontier")
        .select("kind", "hash", "parent_hash").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val P = "p" * 64
    val C = "c" * 64
    // bootstrap g <- a, then a fragment child C (parent P absent) → C pends
    // and P registers dangling
    ChainStream.walletLabelsBatch(spark,
      Seq(("g", null, 1000L, Seq(("t1", Seq("a1", "a2")))),
        ("a", "g", 1100L, Seq.empty[(String, Seq[String])]))
        .toDF("hash", "parent_hash", "ts", "txs"),
      s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
    assert(step(Seq((C, P, 1200L))) == "unchanged")
    assert(frontierBody().toSet == Set(("d", P, null), ("p", C, P)))

    // simulate the exact crash window: the batch {P} got as far as its
    // bronze append AND the frontier-body rewrite (P and C removed), but
    // died before the cursor write and the re-stamp. A stale-ahead body
    // paired with a pre-batch cursor is the lethal combination: trusted, it
    // would route the replayed {P} as a pure extend with no cascade and
    // silently drop C.
    Seq((P, "a", 1300L, Seq.empty[(String, Seq[String])]))
      .toDF("hash", "parent_hash", "ts", "txs")
      .write.mode("append").parquet(s"$tmp/bronze")
    Seq.empty[(String, String, String)].toDF("kind", "hash", "parent_hash")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/labels/_frontier")
    graft.sinks.Hfs.writeText(spark, s"$tmp/labels/_frontier_ok", "!pending\n")

    // the replay must IGNORE the unstamped body, detect the attachment on
    // the authoritative bronze scan, and resolve the whole fragment
    assert(step(Seq((P, "a", 1300L))) == "fallback",
      "replay trusted a crash-orphaned frontier body and mis-routed the attachment")
    val cursor = spark.read.parquet(s"$tmp/labels/_bestchain")
    val byHash = cursor.collect().map(r =>
      r.getAs[String]("hash") -> r.getAs[Number]("height").intValue).toMap
    assert(byHash.get(C).contains(3), s"fragment child missing from the chain: $byHash")
    assert(byHash.get(P).contains(2))
    // the protocol re-synced: stamp matches the new tip, body is empty again
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/labels/_frontier_ok")).trim == C)
    assert(frontierBody().isEmpty)
  }

  test("edge multiset crash windows: a pending stamp or an off-cursor tip re-derives, and the store converges to the full recompute") {
    import spark.implicits._
    import graft.chain.WalletCluster
    import ChainStream.EdgeRoute
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    for (crash <- Seq("pending", "off-chain")) {
      val tmp = Files.createTempDirectory("graft-edges-crash").toString
      val labelsDir = s"$tmp/labels"
      def step(rows: (String, String, Long, Seq[(String, Seq[String])])*) =
        ChainStream.walletLabelsBatch(spark,
          rows.toDF("hash", "parent_hash", "ts", "txs"), s"$tmp/bronze", fundersOf, labelsDir, 8)
      def stamp() = graft.sinks.Hfs.readText(spark, s"$labelsDir/_edges_ok").map(_.trim)
      def body() = ChainStream.readEdges(spark, labelsDir).get
      def labels() = spark.read.parquet(s"$labelsDir/labels").select("address", "wallet_id")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // the best chain's funding pairs, its star edges and its labels
      def bestPairs() = {
        val bronze = spark.read.parquet(s"$tmp/bronze").dropDuplicates("hash")
        val best = BestChain.annotate(bronze).where(col("is_on_best_chain")).select("hash")
        fundersOf(spark, bronze.join(best, Seq("hash"), "left_semi"))
      }
      def converged(ctx: String): Unit = {
        val bf = bestPairs()
        val full = WalletCluster.clusters(
            bf.select(col("src_address").as("address")).distinct(), bf)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(labels() == full, s"$ctx: store != full recompute")
        assert(body() == WalletCluster.starEdges(
          bf.distinct().collect().map(r => (r.getString(0), r.getString(1)))),
          s"$ctx: stored multiset != the best chain's star edges")
      }
      // bootstrap g <- a <- b: the multiset is written for tip b
      step(("g", null, 1000L, Seq(("t1", Seq("a1", "a2")))),
        ("a", "g", 1100L, Seq(("t2", Seq("a3", "a4")))),
        ("b", "a", 1200L, Seq(("t3", Seq("a2", "a3")))))
      assert(stamp().contains("b"))
      converged(s"$crash bootstrap")
      // the crash: a multiset write stopped after its `!pending` stamp, or
      // one finished for a tip the cursor never reached, with a body that
      // would merge every address into one wallet if trusted
      crash match {
        case "pending" =>
          graft.sinks.Hfs.writeText(spark, s"$labelsDir/_edges_ok", "!pending\n")
        case "off-chain" =>
          graft.sinks.Hfs.writeData(spark, s"$labelsDir/_edges") { out =>
            out.writeInt(3)
            Seq("a2", "a4", "a5").foreach { a => out.writeUTF(a); out.writeUTF("a1"); out.writeLong(1L) }
          }
          graft.sinks.Hfs.writeText(spark, s"$labelsDir/_edges_ok", "z" * 64 + "\n")
      }
      // the reorg b2 <- c2 retracts t3 and re-derives from the whole chain
      val reorg = step(("b2", "a", 1201L, Seq(("t4", Seq("a4", "a5")))),
        ("c2", "b2", 1300L, Seq.empty[(String, Seq[String])]))
      assert(reorg.repair.contains(WalletCluster.RepairRoute.Replace), crash)
      assert(reorg.edges.contains(EdgeRoute.Rederived(crash)), s"$crash: ${reorg.edges}")
      assert(labels() == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a3", "a4" -> "a3", "a5" -> "a3"))
      assert(stamp().contains("c2"), s"$crash: the re-derived multiset was not re-stamped")
      converged(s"$crash reorg")
      // and the rewritten multiset serves the next reorg, its tip c2 above
      // the anchor a: b, c, d overtake b2, c2
      val back = step(("c", "b", 1400L, Seq(("t5", Seq("a5", "a6")))),
        ("d", "c", 1500L, Seq.empty[(String, Seq[String])]))
      assert(back.edges.contains(EdgeRoute.Multiset(lag = 0, lookupBlocks = 5)), s"$crash: ${back.edges}")
      assert(labels() == Map("a1" -> "a1", "a2" -> "a1", "a3" -> "a1", "a4" -> "a1",
        "a5" -> "a5", "a6" -> "a5"))
      converged(s"$crash second reorg")
    }
  }

  test("frontier overflow at the pending cap: sidecar records overflow, batches fall back, a full route restores the index") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-frontier-ovf").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def step(rows: Seq[(String, String, Long)]): ChainStream.WalletBatch =
      ChainStream.walletLabelsBatch(spark,
        rows.map { case (h, p, ts) => (h, p, ts, Seq.empty[(String, Seq[String])]) }
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
    def body(): Seq[(String, String)] =
      spark.read.parquet(s"$tmp/labels/_frontier")
        .select("kind", "hash").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    val X = "x" * 64
    sys.props("graft.pendingCap") = "2"
    try {
      // bootstrap g <- a
      ChainStream.walletLabelsBatch(spark,
        Seq(("g", null, 1000L, Seq(("t1", Seq("a1", "a2")))),
          ("a", "g", 1100L, Seq.empty[(String, Seq[String])]))
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
      // a 3-block fragment exceeds the cap: the batch still pends O(batch)
      // (route "unchanged") but the SIDECAR records overflow instead of an
      // unbounded body
      val frag = (1 to 3).map(i =>
        (s"c$i" * 16, if (i == 1) X else s"c${i - 1}" * 16, 2000L + i))
      assert(step(frag).routeName == "unchanged")
      assert(body().map(_._1) == Seq("overflow"),
        s"expected the overflow marker, got ${body()}")
      // with the index overflowed, the next unresolvable batch has no
      // frontier to pend into — the authoritative full path runs
      val miss = step(Seq(("d" * 64, "e" * 64, 3000L)))
      assert(miss.routeName == "fallback")
      assert(miss.reason.contains("no-index-walk-miss"), miss)
      // the arrival that connects the big fragment takes the full route and
      // RESTORES the index: post-attach the off-chain backlog fits the cap
      assert(step(Seq((X, "a", 4000L))).routeName == "fallback")
      val restored = body()
      assert(restored.nonEmpty && !restored.exists(_._1 == "overflow"),
        s"index not restored after the full route: $restored")
      // the lone d-fragment is still off-chain: pending d + dangling e
      assert(restored.toSet == Set(("p", "d" * 64), ("d", "e" * 64)),
        s"unexpected restored frontier: $restored")
      val cursor = spark.read.parquet(s"$tmp/labels/_bestchain")
      assert(cursor.count() == 6) // g a x c1 c2 c3
    } finally {
      sys.props.remove("graft.pendingCap")
      ()
    }
  }

  test("bootstrap resolution: driver walk vs distributed doubling produce identical chains and frontiers") {
    import spark.implicits._
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    // main chain g..b39, a 3-block stale fork off b10, and an orphan
    // fragment whose parent never arrives — the connected-only bootstrap
    // must seat the main chain, pend the fork AND the fragment, and record
    // the missing parent dangling, identically on both resolution kinds
    val main = (0 until 40).map(i =>
      (f"b$i%02db" * 16, if (i == 0) null else f"b${i - 1}%02db" * 16, 1000L + i,
        if (i == 3) Seq(("t1", Seq("a1", "a2")), ("t2", Seq("a2", "a3")))
        else Seq.empty[(String, Seq[String])]))
    val fork = (0 until 3).map(i =>
      (s"f$i" * 21 + "f", if (i == 0) f"b10b" * 16 else s"f${i - 1}" * 21 + "f",
        2000L + i, Seq.empty[(String, Seq[String])]))
    val orphan = Seq(
      ("o1" * 32, "oX" * 32, 3000L, Seq.empty[(String, Seq[String])]),
      ("o2" * 32, "o1" * 32, 3001L, Seq.empty[(String, Seq[String])]))
    val batch = scala.util.Random.shuffle(main ++ fork ++ orphan)
      .toDF("hash", "parent_hash", "ts", "txs")
    def bootstrapInto(tmp: String)
        : (ChainStream.WalletBatch, Map[String, Int], Set[(String, String, String)]) = {
      val rec = ChainStream.walletLabelsBatch(spark, batch,
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
      val chain = spark.read.parquet(s"$tmp/labels/_bestchain").collect()
        .map(r => r.getAs[String]("hash") -> r.getAs[Number]("height").intValue).toMap
      val frontier = spark.read.parquet(s"$tmp/labels/_frontier")
        .select("kind", "hash", "parent_hash").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      (rec, chain, frontier)
    }
    val tmpW = Files.createTempDirectory("graft-boot-walk").toString
    val (recW, chainW, frontW) = bootstrapInto(tmpW)
    assert(recW.routeName == "bootstrap")
    assert(recW.kind.contains("walk"), s"in-cap bootstrap took kind=${recW.kind}")
    // the walk seats only the genesis-rooted chain, pends everything else
    assert(chainW.size == 40 && chainW(f"b39b" * 16) == 39)
    assert(frontW.count(_._1 == "p") == 5, s"fork+fragment not pending: $frontW")
    assert(frontW.collect { case ("d", h, _) => h } == Set("oX" * 32))
    // a tiny walk cap forces the distributed resolution — the always-
    // correct from-scratch path — and it must produce the SAME chain and
    // (re-derived) frontier
    val tmpD = Files.createTempDirectory("graft-boot-dist").toString
    sys.props("graft.bootstrapWalkCap") = "4"
    try {
      val (recD, chainD, frontD) = bootstrapInto(tmpD)
      assert(recD.kind.contains("distributed"), s"over-cap bootstrap took kind=${recD.kind}")
      assert(chainD == chainW, "distributed bootstrap chain differs from walk")
      assert(frontD == frontW, "distributed bootstrap frontier differs from walk")
    } finally {
      sys.props.remove("graft.bootstrapWalkCap")
      ()
    }
  }

  test("frontier overflow + crash between stamp writes: replay ignores the orphaned marker and converges via the authoritative scan") {
    // The one previously-untested composition in the crash-recovery matrix:
    // the index is in OVERFLOW (body = marker, stamped) when a batch dies
    // mid-protocol — after the bronze append, the stamp invalidation, and a
    // body rewrite, but before the cursor write and the re-stamp. The replay
    // must treat the unstamped body (whatever it says) as untrusted, detect
    // the attachment on the authoritative bronze scan, and leave body+stamp
    // re-synced to the post-batch truth.
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-ovf-crash").toString
    def fundersOf(s: org.apache.spark.sql.SparkSession,
        df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(col("txs")).as("t"))
        .select(col("t._1").as("tx_hash"), explode(col("t._2")).as("src_address"))
    def step(rows: Seq[(String, String, Long)]): String = {
      ChainStream.walletLabelsBatch(spark,
        rows.map { case (h, p, ts) => (h, p, ts, Seq.empty[(String, Seq[String])]) }
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8).routeName
    }
    def body(): Seq[String] =
      spark.read.parquet(s"$tmp/labels/_frontier")
        .select("kind").collect().map(_.getString(0)).toSeq
    val X = "x" * 64
    sys.props("graft.pendingCap") = "2"
    try {
      // bootstrap g <- a, then a 3-block fragment on missing parent X:
      // pends O(batch), sidecar records overflow (cap 2 < 3)
      ChainStream.walletLabelsBatch(spark,
        Seq(("g", null, 1000L, Seq(("t1", Seq("a1", "a2")))),
          ("a", "g", 1100L, Seq.empty[(String, Seq[String])]))
          .toDF("hash", "parent_hash", "ts", "txs"),
        s"$tmp/bronze", fundersOf, s"$tmp/labels", 8)
      val frag = (1 to 3).map(i =>
        (s"c$i" * 16, if (i == 1) X else s"c${i - 1}" * 16, 2000L + i))
      assert(step(frag) == "unchanged")
      assert(body() == Seq("overflow"))
      // crash window: the batch {X} appended to bronze, invalidated the
      // stamp, and rewrote the body (say, cleared it) — then died before
      // the cursor write and the re-stamp
      Seq((X, "a", 3000L, Seq.empty[(String, Seq[String])]))
        .toDF("hash", "parent_hash", "ts", "txs")
        .write.mode("append").parquet(s"$tmp/bronze")
      Seq.empty[(String, String, String)].toDF("kind", "hash", "parent_hash")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/labels/_frontier")
      graft.sinks.Hfs.writeText(spark, s"$tmp/labels/_frontier_ok", "!pending\n")
      // replay of {X}: the unstamped (and lying: it claims no pending)
      // body must be ignored — the authoritative bronze scan detects the
      // waiting fragment and the full route seats the whole chain
      assert(step(Seq((X, "a", 3000L))) == "fallback",
        "replay trusted a crash-orphaned body in the overflow composition")
      val cursor = spark.read.parquet(s"$tmp/labels/_bestchain").collect()
        .map(r => r.getAs[String]("hash") -> r.getAs[Number]("height").intValue).toMap
      assert(cursor((s"c3" * 16)) == 5 && cursor(X) == 2,
        s"fragment not seated after crash replay: $cursor")
      // protocol re-synced: body reflects the true (now-empty) off-chain
      // backlog and the stamp matches the new tip — overflow did not stick
      // past the full route that resolved it
      assert(body().isEmpty, s"body not re-synced: ${body()}")
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$tmp/labels/_frontier_ok")).trim == "c3" * 16)
    } finally {
      sys.props.remove("graft.pendingCap")
      ()
    }
  }

  test("cyclic parent pointers: the incremental walk exits to the full route, which errors instead of hanging") {
    import spark.implicits._
    // a healthy stored chain, then a corrupt batch whose parents form a loop
    val cursor = Seq(("g", 0), ("a", 1)).toDF("hash", "height")
    val batch = Seq(("c1", "c2", 3000L), ("c2", "c1", 3001L))
      .toDF("hash", "parent_hash", "ts")
    val bronze = Seq(("g", null.asInstanceOf[String], 1000L), ("a", "g", 1100L))
      .toDF("hash", "parent_hash", "ts").unionByName(batch)
    // the anchored walk must detect the loop in O(batch) steps and route to
    // the full resolution — which then reports the corruption as a clear
    // error (both its in-memory and doubling routes are themselves capped)
    val ex = intercept[IllegalStateException] {
      ChainStream.bestChainIncremental(spark, bronze, batch, Some(cursor))
        .best.collect()
    }
    assert(ex.getMessage.toLowerCase.contains("cycl"))
    // the error comes from the full resolver, which only a full route calls
    assert(ex.getStackTrace.exists(_.getClassName.startsWith("graft.chain.BestChain")),
      ex.getStackTrace.take(12).mkString("\n"))
  }
}
