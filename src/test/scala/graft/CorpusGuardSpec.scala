package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.Rehearsal.{Contraction, CorpusFunders}
import graft.chain.{BlkCorpus, WalletCluster}
import graft.streaming.ChainStream

/** The streaming and wallet paths checked at corpus scale, over the 1×
  * BlkCorpus: 50k blocks written to 32 blk files in shuffled chain order,
  * with ~200 stale forks and a 140-deep reorg branch, so a drain passes
  * through dangling fragments and real reorg repairs. Each case drives the
  * helper the rehearsal runner times ([[Rehearsal]]): a leg the runner
  * measures converges, and runs on the route it exists to measure.
  */
class CorpusGuardSpec extends SparkSpec {

  /** `body` in a fresh temporary directory, deleted afterwards. */
  private def inDir(name: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-guard-$name").toFile
    try body(dir.toString) finally FileUtils.deleteDirectory(dir)
  }

  /** Streamed gold equals the batch path's annotation, row for row. */
  private def assertGoldConverged(goldDir: String): Unit = {
    def canon(df: DataFrame) =
      df.select(col("hash"), col("height").cast("long").as("height"), col("is_on_best_chain"))
    val streamed = canon(spark.read.parquet(goldDir))
    val batch = canon(BlkCorpus.annotated(spark))
    val missing = batch.exceptAll(streamed).count()
    val extra = streamed.exceptAll(batch).count()
    assert(missing == 0 && extra == 0,
      s"streamed gold diverged from the batch annotation: missing=$missing extra=$extra")
  }

  /** The label store agrees with a from-scratch clustering of `funders` on
    * every address; any other row is a self-labeled orphan (an address that
    * funded only on a branch reorged away mid-drain).
    */
  private def assertLabelsConverged(labelsDir: String, funders: DataFrame): Unit = {
    val expect = WalletCluster.clusters(
      funders.select(col("src_address").as("address")).distinct(), funders)
    val store = spark.read.parquet(s"$labelsDir/labels").select("address", "wallet_id")
    val missing = expect.exceptAll(store).count()
    val stale = store.exceptAll(expect).where(col("address") =!= col("wallet_id")).count()
    assert(missing == 0 && stale == 0,
      s"labels diverged from the re-clustered chain: missing=$missing stale=$stale")
  }

  private def histogram(routes: Seq[String]): String =
    routes.groupBy(identity).view.mapValues(_.size).toMap.toString

  /** Delete the checkpoint's newest commit marker: on restart the query
    * finds `offsets/N` without `commits/N` and re-executes batch N with the
    * same files — the state a crash between the sink's commit and the
    * checkpoint's leaves behind.
    */
  private def dropLastCommitMarker(ckptDir: String): Unit = {
    val s = Files.list(Paths.get(s"$ckptDir/commits"))
    val last =
      try s.iterator().asScala.filter(_.getFileName.toString.forall(_.isDigit))
        .toSeq.maxBy(_.getFileName.toString.toLong)
      finally s.close()
    Files.delete(last)
  }

  /** Crash `writer`'s query inside a batch, resume it from the same
    * checkpoint, and `check` the result. The kill lands the instant a bronze
    * append does, after the first `committed` batches: the side effect is on
    * disk, the checkpoint commit is not. A kill that loses the race to the
    * commit replays nothing and is retried in a fresh directory; the third
    * attempt injects the crash window instead ([[dropLastCommitMarker]]).
    * The replay must engage — a resume that replayed nothing proves nothing.
    */
  private def assertKillResumeConverges(dir: String, committed: Int)(
      writer: () => DataStreamWriter[Row])(check: => Unit): Unit = {
    def bronzeFiles(): Long = {
      val d = Paths.get(s"$dir/bronze")
      if (!Files.exists(d)) 0L
      else {
        val s = Files.list(d)
        try s.filter(_.getFileName.toString.endsWith(".parquet")).count() finally s.close()
      }
    }
    val replayed = (1 to 3).iterator.map { attempt =>
      FileUtils.deleteDirectory(new File(dir))
      val q1 = writer().start()
      if (attempt == 3) {
        q1.awaitTermination()
        dropLastCommitMarker(s"$dir/ckpt")
      } else {
        val deadline = System.nanoTime() + 180e9.toLong
        def running = q1.isActive && System.nanoTime() < deadline
        while (q1.recentProgress.count(_.numInputRows > 0) < committed && running) Thread.sleep(50)
        val atKill = bronzeFiles()
        while (bronzeFiles() <= atKill && running) Thread.sleep(20)
        q1.stop()
      }
      writer().start().awaitTermination()
      check
      val bronze = spark.read.parquet(s"$dir/bronze")
      bronze.count() - bronze.dropDuplicates("hash").count()
    }.find(_ > 0)
    assert(replayed.isDefined, "kill-resume replayed nothing in 3 attempts")
  }

  test("gold catch-up over the shuffled blk files converges to the batch annotation") {
    inDir("catchup") { dir =>
      Rehearsal.goldStream(spark, dir).start().awaitTermination()
      assertGoldConverged(s"$dir/gold")
    }
  }

  test("gold kill-resume: a crash inside a batch replays it, and gold converges") {
    inDir("resume") { dir =>
      assertKillResumeConverges(dir, committed = 3)(() => Rehearsal.goldStream(spark, dir))(
        assertGoldConverged(s"$dir/gold"))
    }
  }

  test("wallet kill-resume: a crash inside a batch replays it, and the labels converge") {
    val funders = new CorpusFunders(spark)
    inDir("wresume") { dir =>
      assertKillResumeConverges(dir, committed = 1)(
        () => Rehearsal.walletStream(spark, dir, funders))(
        assertLabelsConverged(s"$dir/labels", funders.best))
    }
  }

  test("wallet catch-up: the streamed labels converge, and the bootstrap takes the driver walk") {
    val funders = new CorpusFunders(spark)
    inDir("wallet") { dir =>
      val drain = Telemetry.timed(spark.sparkContext)(
        Rehearsal.walletStream(spark, dir, funders).start().awaitTermination())
      assertLabelsConverged(s"$dir/labels", funders.best)
      // the drain's one full resolution, when genesis arrives, cascades on
      // the driver at every corpus that fits the walk cap; the distributed
      // doubling would converge too, only slower
      assert(BlkCorpus.annotated(spark).count() <= ChainStream.BootstrapWalkCap)
      val kind = drain.routes.map(_.decision).filter(_.op == "wallet batch")
        .flatMap(_.detail("kind").asInstanceOf[Option[String]]).lastOption
      assert(kind.contains("walk"), s"catch-up bootstrap left the driver-walk path: kind=$kind")
    }
  }

  test("ordered backfill: every batch after the bootstrap extends O(batch), and the labels converge") {
    val funders = new CorpusFunders(spark)
    inDir("backfill") { dir =>
      val routes = Rehearsal.walletSlices(spark, dir, funders)(Rehearsal.chainOrder)
        .map(_._2.routeName)
      assert(routes.drop(1).forall(_ == "extend"), histogram(routes))
      assertLabelsConverged(s"$dir/labels", funders.best)
    }
  }

  test("fragment drain: buffered slices pend, each slice extends once its parent slice is in, and the labels converge") {
    val funders = new CorpusFunders(spark)
    inDir("fragments") { dir =>
      val runs = Rehearsal.walletSlices(spark, dir, funders)(Rehearsal.fragmentOrder)
      val fed = runs.map(_._1).scanLeft(Set.empty[Int])(_ + _)
      val expected = runs.indices.map { j =>
        if (j == 0) "bootstrap" else if (fed(j)(runs(j)._1 - 1)) "extend" else "unchanged"
      }
      val routes = runs.map(_._2.routeName)
      assert(expected.contains("unchanged") && routes == expected, histogram(routes))
      assertLabelsConverged(s"$dir/labels", funders.best)
    }
  }

  test("maintainer contraction: a shallow reorg batch routes extend, repairs by the store-size route, and converges") {
    inDir("contraction") { dir =>
      val c = new Contraction(spark)
      c.bootstrap(dir)
      val stored = spark.read.parquet(s"$dir/labels/labels").count()
      val batch = c.reorg(dir)
      assert(batch.routeName == "extend",
        s"reorg batch routed '${batch.routeName}', not the O(batch) extend")
      val expected = if (stored >= WalletCluster.ContractionMinStoreRows) "contraction" else "replace"
      assert(batch.repair.map(_.name).contains(expected),
        s"repair routed ${batch.repair.map(_.name)}, expected '$expected' at $stored stored rows")
      assertLabelsConverged(s"$dir/labels", c.kept)
    }
  }

  test("incremental clustering: the tip batch upserted on the stored labels equals the full re-clustering") {
    val c = Rehearsal.corpusRelabel(spark, depth = 1000, reorg = false)
    assert(c.exact(c.upsert(), c.full()))
  }

  test("deep reorg repair: the repaired labels equal the re-clustered chain") {
    val c = Rehearsal.corpusRelabel(spark, depth = 100, reorg = true)
    assert(c.exact(c.repair()._1, c.full()))
  }

  test("shallow reorg repair on small wallets: the routed repair equals the re-clustered chain") {
    val c = Rehearsal.shallowRelabel(spark, wallets = 20000L)
    val (rows, route) = c.repair()
    assert(rows.nonEmpty, s"route $route repaired nothing")
    assert(c.exact(rows, c.full()), s"route $route")
  }

  test("node follow: an UpdateTip log of the whole best chain drains to its tip height and line count") {
    inDir("node") { dir =>
      val best = BlkCorpus.annotated(spark).where(col("is_on_best_chain")).orderBy(col("height"))
        .select(col("hash"), col("height").cast("int")).collect()
      val log = Paths.get(s"$dir/updatetips.log")
      Files.write(log, best.map(r =>
        s"2024-01-01T00:00:00Z UpdateTip: new best=${r.getString(0)} height=${r.getInt(1)} " +
          "version=0x20000000 log2_work=80.1").toSeq.asJava)
      val exit = graft.streaming.SyncPipeline.catchUp(spark, Seq("cat", log.toString),
        s"$dir/logs", s"$dir/bronze", s"$dir/gold", s"$dir/ckpt",
        (_, bronze) => bronze.groupBy()
          .agg(max(col("height")).as("tip_height"), count(lit(1)).as("n_tips")))
      val gold = spark.read.parquet(s"$dir/gold").head()
      assert(exit == 0)
      assert(gold.getAs[Int]("tip_height") == best.last.getInt(1))
      assert(gold.getAs[Long]("n_tips") == best.length)
    }
  }
}
