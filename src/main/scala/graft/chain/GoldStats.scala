package graft.chain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Gold layer: the reference's complete derived-property inventory
  * (TransactionGraph.java:116–153) as deterministic batch aggregates over
  * best-chain bronze. Where the reference maintains each property by mutable
  * `+=`/`-=` on every event (BlockchainToGraph.java:837–947) — with reorg
  * reversal as a hand-written inverse (:568–777) — these are pure
  * groupBy().agg() recomputes: idempotent, retraction-free, and
  * partial-aggregated map-side by Catalyst.
  *
  * All joins are equi-joins on tx_hash / address; at 100 TB bronze is
  * bucketed by tx_hash so the tx-grain joins co-locate, and the address-grain
  * aggregates are one hash-shuffle each. No collect_set of unbounded arrays —
  * counterparty distincts are join-then-countDistinct, which AQE can
  * skew-split (the sentinel '<undecodable>' address is the known hot key).
  */
object GoldStats {

  /** Best-chain transactions with height + ts attached.
    * txs(tx_hash, block_hash, is_coinbase) ⋈ annotated blocks. */
  def chainTxs(txs: DataFrame, annotatedBlocks: DataFrame): DataFrame =
    txs.join(
      annotatedBlocks.where(col("is_on_best_chain"))
        .select(col("hash").as("block_hash"), col("height"), col("ts")),
      "block_hash")

  /** Per-transaction stats (≙ the 7 Transaction* properties,
    * TransactionGraph.java:140–147).
    *
    * Shape: counts and values are plain per-tx aggregates of each side —
    * narrow passes when the input is tx_hash-bucketed (HashPartitioning(tx)
    * satisfies the grouping). Only the self-churn flag
    * (BlockchainToGraph.java:873–882: "some address has both directions")
    * needs pair semantics: the outputs' (tx, addr) partials LEFT-join the
    * distinct spend keys and roll up to the tx in one pass that yields the
    * output count, the output value and the flag together. A left join
    * PRESERVES the tx partitioning — unlike a full-outer merge, whose
    * coalesced key breaks propagation and forces a pair-grain re-exchange.
    * On bucketed silver the whole tx-grain DAG is exchange-free, and the
    * output aggregate joins the context as a merge join: the planner sizes
    * it from compressed parquet and would broadcast a tx-grain table both
    * sides of which are already co-located. Only new-address attribution
    * (BlockchainToGraph.java:1076–1080: global first appearance in chain
    * order = height, then tx_hash as the deterministic batch stand-in for
    * intra-block order) shuffles, at the address grain.
    *
    * @param cTxs  chainTxs output
    * @param rin   Enrich.resolvedInputs, pre-filtered to best-chain txs
    * @param outs  tx_outputs, pre-filtered to best-chain txs
    */
  def txStats(cTxs: DataFrame, rin: DataFrame, outs: DataFrame): DataFrame = {
    val inAgg = rin.groupBy("tx_hash").agg(
      count(lit(1)).as("input_count"), sum("value").as("in_value"))
    val recvPairs = outs.groupBy("tx_hash", "address")
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    val spendKeys = rin.select(col("tx_hash"), col("src_address").as("address"),
        lit(true).as("spent")).distinct()
    val outAgg = recvPairs.join(spendKeys, Seq("tx_hash", "address"), "left")
      .groupBy("tx_hash").agg(
        sum("n").as("output_count"), sum("v").as("out_value"),
        max("spent").as("is_between_one_address"))
      .hint("merge")
    // no distinct first: a repeated (tx, address) pair leaves the minimum as it is
    val firstTx = outs.select("tx_hash", "address")
      .join(cTxs.select("tx_hash", "height"), "tx_hash")
      .groupBy("address")
      .agg(min(struct(col("height"), col("tx_hash"))).as("f"))
      .select(col("f.tx_hash").as("tx_hash"))
      .groupBy("tx_hash").agg(count(lit(1)).as("new_address_count"))
    cTxs
      .join(inAgg, Seq("tx_hash"), "left")
      .join(outAgg, Seq("tx_hash"), "left")
      .join(firstTx, Seq("tx_hash"), "left")
      .select(
        col("tx_hash"), col("block_hash"), col("is_coinbase"),
        col("ts").as("date"),
        coalesce(col("input_count"), lit(0L)).as("input_count"),
        coalesce(col("output_count"), lit(0L)).as("output_count"),
        coalesce(col("in_value"), lit(0L)).as("balance"),
        when(col("is_coinbase"), lit(0L))
          .otherwise(coalesce(col("in_value"), lit(0L)) - coalesce(col("out_value"), lit(0L)))
          .as("fee"),
        coalesce(col("new_address_count"), lit(0L)).as("new_address_count"),
        coalesce(col("is_between_one_address"), lit(false)).as("is_between_one_address"))
  }

  /** Per-block stats (≙ BlockBalance/CoinBaseBalance/Fee/TransactionCount,
    * TransactionGraph.java:118–123; balance = subsidy + Σ tx input sums,
    * BlockchainToGraph.java:541–542, 1037–1041).
    */
  def blockStats(annotatedBlocks: DataFrame, txStats: DataFrame): DataFrame =
    txStats.groupBy("block_hash").agg(
      count(lit(1)).as("tx_count"),
      sum("balance").as("sum_in"),
      sum("fee").as("total_fee"))
      .join(annotatedBlocks.where(col("is_on_best_chain"))
        .select(col("hash").as("block_hash"), col("height"), col("ts")), "block_hash")
      .select(
        col("block_hash").as("hash"), col("height"), col("ts"),
        col("tx_count"),
        GraftFunctions.block_subsidy(col("height")).as("coinbase_balance"),
        (GraftFunctions.block_subsidy(col("height")) + col("sum_in")).as("balance"),
        col("total_fee").as("fee"))

  /** Per-address stats (≙ the 12 Address* properties,
    * TransactionGraph.java:126–137; running `+=` maintenance at
    * BlockchainToGraph.java:837–947 becomes plain aggregation).
    *
    * Shape: each side joins the tx timestamp FIRST (bucket-aligned — every
    * row of a (tx, address) group shares it) and pre-aggregates to
    * (tx, address) grain, narrow over tx_hash-bucketed silver. One
    * co-partitioned FULL OUTER merge yields distinct pairs with exact
    * has_r/has_s flags, so the address rollup needs NO countDistinct
    * expands for tx counts and the self-churn count
    * (AddressBetweenAddressTransactionCount, BlockchainToGraph.java:870–882)
    * is a plain conditional count. The counterparty distincts
    * (BlockchainToGraph.java:950–983) both read ONE flow-pair set: F =
    * distinct (funder f, recipient r) over inputs ⋈ outputs on tx_hash, built
    * once (bucket-aligned on tx_hash). A recipient's input_addr_count is its
    * F rows with a non-null funder; a funder's output_addr_count is its F
    * rows with a non-null recipient. Each F row emits both role rows in one
    * pass (an explode), so the physical plan holds one funder × recipient
    * join and one exchange on (f, r) — a union of two projections of F
    * would plan the join and its exchange twice (pinned in PlanSpec) — and
    * no counterparty side re-joins the context. On bucketed silver NOTHING
    * shuffles until the pair/address grain — at 100 TB that removes every
    * exchange on the widest (event) tables.
    */
  def addressStats(cTxs: DataFrame, rin: DataFrame, outs: DataFrame): DataFrame = {
    val ctxTs = cTxs.select("tx_hash", "ts")
    val recvA = outs.join(ctxTs, "tx_hash").groupBy("tx_hash", "address")
      .agg(sum("value").as("recv_value"), min("ts").as("ts_r"))
    val spendA = rin
      .select(col("tx_hash"), col("src_address").as("address"), col("value"))
      .join(ctxTs, "tx_hash")
      .groupBy("tx_hash", "address")
      .agg(sum("value").as("spent_value"), min("ts").as("ts_s"))
    // Pair grain: distinct (address, tx) with both direction partials.
    val perTx = recvA.join(spendA, Seq("tx_hash", "address"), "full_outer")
      .withColumn("has_r", col("recv_value").isNotNull)
      .withColumn("has_s", col("spent_value").isNotNull)

    val perAddr = perTx.groupBy("address").agg(
      sum("recv_value").as("input_tx_balance"),
      sum("spent_value").as("output_tx_balance"),
      count(when(col("has_r"), lit(1))).as("input_tx_count"),
      count(when(col("has_s"), lit(1))).as("output_tx_count"),
      count(lit(1)).as("tx_count"),
      min("ts_r").as("first_recv"),
      max("ts_r").as("last_recv"),
      min("ts_s").as("first_spend"),
      max("ts_s").as("last_spend"),
      count(when(col("has_r") && col("has_s"), lit(1))).as("between_addr_tx_count"))

    // Distinct counterparties per role from one flow-pair set: the funders
    // of the txs that paid me / the recipients of the txs I funded. A pair
    // with a null side counts for its other side only (countDistinct
    // ignores nulls); both sides null counts for nobody.
    val flows = rin.select(col("tx_hash"), col("src_address").as("f"))
      .join(outs.select(col("tx_hash"), col("address").as("r")), "tx_hash")
      .where(col("f").isNotNull || col("r").isNotNull)
      .select("f", "r").distinct()
    val cpCounts = flows
      .select(explode(array(
        struct(col("r").as("address"), col("f").isNotNull.as("in"), lit(false).as("out")),
        struct(col("f").as("address"), lit(false).as("in"), col("r").isNotNull.as("out"))))
        .as("role"))
      .select("role.*")
      .groupBy("address").agg(
        count(when(col("in"), lit(1))).as("input_addr_count"),
        count(when(col("out"), lit(1))).as("output_addr_count"))

    perAddr
      .join(cpCounts, Seq("address"), "left")
      .select(
        col("address"),
        (coalesce(col("input_tx_balance"), lit(0L)) - coalesce(col("output_tx_balance"), lit(0L)))
          .as("balance"),
        least(col("first_recv"), col("first_spend")).as("first_seen"),
        greatest(col("last_recv"), col("last_spend")).as("last_seen"),
        coalesce(col("input_tx_balance"), lit(0L)).as("input_tx_balance"),
        coalesce(col("output_tx_balance"), lit(0L)).as("output_tx_balance"),
        coalesce(col("tx_count"), lit(0L)).as("tx_count"),
        coalesce(col("input_tx_count"), lit(0L)).as("input_tx_count"),
        coalesce(col("output_tx_count"), lit(0L)).as("output_tx_count"),
        coalesce(col("input_addr_count"), lit(0L)).as("input_addr_count"),
        coalesce(col("output_addr_count"), lit(0L)).as("output_addr_count"),
        coalesce(col("between_addr_tx_count"), lit(0L)).as("between_addr_tx_count"))
  }
}
