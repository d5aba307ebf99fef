package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's whole `main` — start the node, follow its log, keep the
  * database in sync, shut down cleanly (BlockchainToGraph.java:97–167) —
  * composed from the streaming building blocks as ONE entry point:
  *
  *   [[NodeProcess.start]]  spawn the node, stdout → rolling immutable logs
  *   [[NodeProcess.tipEvents]]  file stream → parsed UpdateTip rows
  *   [[ChainStream.incrementalGold]]  append bronze, recompute gold per batch
  *   [[Graceful]]  stop at micro-batch boundaries, then stop the node
  *
  * Where the reference interleaves all four concerns in one driver loop
  * (single-threaded parse, hand-rolled reorg inverse, genesis-walk
  * recovery), this composition gets parallel parse from the file source,
  * reorg safety from recompute-from-bronze, and resume from the streaming
  * checkpoint — each verified by its own spec.
  */
object SyncPipeline {

  /** A live sync: the node subprocess and the streaming query bound to it. */
  final class Running private[streaming] (
      val node: NodeProcess.NodeHandle,
      val query: StreamingQuery,
      graceful: Graceful) {

    /** Drain in-flight batches, stop the query at its boundary, then stop
      * the node (SIGTERM → grace → SIGKILL). Idempotent.
      */
    def stop(timeoutMs: Long = 60000): Unit = {
      graceful.requestStop()
      graceful.awaitStopped(timeoutMs)
      node.stop(timeoutMs)
      graceful.close()
      ()
    }
  }

  /** Start the full sync. `recompute` derives gold from the deduplicated
    * bronze tip set each micro-batch (pure function — replay-idempotent).
    * The default continuous trigger follows the node live; pass
    * `Trigger.AvailableNow()` to catch up on existing logs and terminate.
    * "Live" is honest end to end: the pump's time-based roll (`rollMillis`)
    * publishes a quiet node's tail lines within seconds, so a caught-up
    * node's one-tip-per-block trickle reaches gold at trigger cadence, not
    * after 10k lines accumulate.
    */
  def start(
      spark: SparkSession,
      nodeCommand: Seq[String],
      logDir: String,
      bronzeDir: String,
      goldDir: String,
      checkpointDir: String,
      recompute: (SparkSession, DataFrame) => DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      rollLines: Int = 10000,
      rollMillis: Long = 5000): Running = {
    val node = NodeProcess.start(nodeCommand, logDir, rollLines, rollMillis)
    val graceful = new Graceful(spark)
    val query = graceful.manage(
      ChainStream.incrementalGold(
        NodeProcess.tipEvents(spark, logDir),
        bronzeDir, recompute, goldDir, checkpointDir, trigger)
        .start())
    new Running(node, query, graceful)
  }

  /** Batch catch-up: run the node to COMPLETION, then drain its published
    * logs with one AvailableNow pass. The ordering is the point —
    * AvailableNow snapshots what is available at query start, so starting
    * the drain while the node still writes would silently miss its tail
    * (the live [[start]] form has no such cutoff; its trigger keeps
    * polling). Returns the node's exit code.
    */
  def catchUp(
      spark: SparkSession,
      nodeCommand: Seq[String],
      logDir: String,
      bronzeDir: String,
      goldDir: String,
      checkpointDir: String,
      recompute: (SparkSession, DataFrame) => DataFrame,
      nodeTimeoutMs: Long = 600000,
      drainTimeoutMs: Long = 600000): Int = {
    val node = NodeProcess.start(nodeCommand, logDir)
    val code = node.awaitExit(nodeTimeoutMs).getOrElse {
      node.stop()
      throw new IllegalStateException(
        s"node did not exit within ${nodeTimeoutMs}ms; killed")
    }
    val q = ChainStream.incrementalGold(
      NodeProcess.tipEvents(spark, logDir),
      bronzeDir, recompute, goldDir, checkpointDir,
      Trigger.AvailableNow()).start()
    if (!q.awaitTermination(drainTimeoutMs))
      throw new IllegalStateException(s"drain did not finish in ${drainTimeoutMs}ms")
    code
  }
}
