package graft.chain

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Silver layer: the outpoint join (SURVEY.md §2.3 J13) — every input is
  * resolved to the output it spends, and every output learns its spender.
  * This is THE big join of the workload (both sides ≈ full history at 100 TB)
  * — a sort-merge equi-join on (tx_hash, idx); bucketing bronze on tx_hash
  * makes it co-located and shuffle-free across gold rebuilds.
  */
object Enrich {

  /** Inputs with the value + source address of the output they spend
    * (≙ BlockchainToGraph.java:986–994 outpoint resolution).
    * Returns (tx_hash, prev_tx_hash, prev_index, value, src_address).
    *
    * The join output passes an optimizer barrier (an observed row count)
    * before any caller sees it. Every caller narrows the result with a
    * `left_semi` on `tx_hash` (the best-chain txs); without the barrier
    * Catalyst pushes that semi-join below the outpoint join — `tx_hash`
    * comes from the inputs side only — so the inputs shuffle by `tx_hash`
    * for the semi-join and again by `prev_tx_hash` for this join, and the
    * result leaves partitioned by `prev_tx_hash`. With the barrier the
    * outpoint join stays exchange-free over bucketed bronze, the result
    * crosses one `tx_hash` exchange into the semi-join with bucketed
    * `silver_ctx`, and a `tx_hash`-bucketed write of it (`silver_rin`) lands
    * one file per bucket (pinned in ScaleSpec). Filters above the barrier
    * stay above it too; column pruning still passes through. Each call
    * observes under its own name: Spark rejects two observations with the
    * same name in one plan.
    */
  def resolvedInputs(txInputs: DataFrame, txOutputs: DataFrame): DataFrame =
    txInputs.join(
      txOutputs.select(
        col("tx_hash").as("prev_tx_hash"), col("idx").as("prev_index"),
        col("value"), col("address").as("src_address")),
      Seq("prev_tx_hash", "prev_index"))
      .observe(s"resolved_inputs_${calls.incrementAndGet()}", count(lit(1)).as("rows"))

  private val calls = new AtomicLong()

  /** Outputs annotated with their spending tx (null = UTXO) — the relational
    * form of the `input` edge + `OutputIsUsed` flag
    * (TransactionGraph.java:109, 152).
    */
  def outputsEnriched(txOutputs: DataFrame, txInputs: DataFrame): DataFrame =
    txOutputs.join(
      txInputs.select(
        col("prev_tx_hash").as("tx_hash"), col("prev_index").as("idx"),
        col("tx_hash").as("spent_by_tx")),
      Seq("tx_hash", "idx"), "left")
      .withColumn("is_used", col("spent_by_tx").isNotNull)
}
