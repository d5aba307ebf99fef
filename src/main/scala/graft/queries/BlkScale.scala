package graft.queries

import org.apache.spark.sql.functions._

import graft.Q
import graft.chain.{BestChain, BlkCorpus, Enrich, GoldStats, WalletCluster}
import graft.sources.BlockFileSource

/** The blockchain pipeline at NON-fixture scale: S1 (raw blk files) → bronze
  * → distributed best-chain resolution → gold, over the deterministic
  * [[BlkCorpus]] (50k-block chain, ~200 orphans, a 140-block reorged-away
  * branch with double-spends, segwit txs, real script→address decode).
  *
  * Oracle layering: bk1 verifies the DISTRIBUTED best-chain annotation
  * bit-for-bit against the generator's GROUND TRUTH (the corpus builder
  * knows every block's height/branch because it placed it there — fully
  * independent of the Spark operators, and O(n) where a 50k-deep recursive
  * CTE is O(depth·n) in a set engine). bk6 keeps the recursive-CTE
  * re-derivation at full fidelity over the ~2.1k-block fork window — the
  * region where membership is actually contested — so the SQL recomputation
  * gate survives the 10× corpus scale-up. bk2–bk5 then verify the gold
  * aggregations against set-based SQL that consumes the bk1-verified
  * annotation parquet — every layer gated, without paying deep recursion in
  * every query. bk0 runs the WHOLE pipeline from raw bytes in one go and
  * checks its global digest. The parser itself is byte-level-gated in
  * BlockFileSpec against an independent serializer (DuckDB cannot parse
  * Bitcoin wire format).
  */
object BlkScale {

  private def pq(dir: String): String = s"read_parquet('$dir/*.parquet')"

  /** Persisted intermediates for the from-raw pipeline (bk0), pinned to the
    * caller's [[graft.Scope]]. Only frames consumed by SEVERAL branches of
    * the digest DAG belong here: cTxs (the two semi-joins, first-appearance,
    * and the final assembly all read it) and — since the bucket-aligned
    * pair-merge txStats replaced the direction-tagged union — rin and outs
    * as well: the pair-merge shape reads each side TWICE (per-tx aggregate +
    * distinct key set), which is free over bucketed silver (bk2's case) but
    * over bk0's freshly-parsed unbucketed bronze re-paid the outpoint join
    * and the wire-format parse per consumer (measured: staging them cuts the
    * digest phase 3.7 → 2.3 s warm at 1×, isolated bk0 −23%). A frame
    * staged twice (headers must be cached before the annotator's eager
    * envelope probe fires) is persisted and pinned once.
    */
  private def stageForRun(dfs: org.apache.spark.sql.DataFrame*): Unit = {
    // SER, not deserialized rows: bk0 is the bench's heaviest query and the
    // one whose peak footprint decides whether a contended host window can
    // triple its samples (r15's official bench was invalidated on exactly
    // that) — the serialized form is ~4× smaller for these string-keyed
    // frames, trading a little per-read CPU for page-cache headroom.
    //
    // Above the broadcast envelope (the same scale router every other
    // operator uses) the scratch goes DISK_ONLY instead: at the 30× corpus
    // the SER-staged rin/outs plus the doubling loop's retained jump tables
    // plus the parse storm exceeded the default 8 g heap (r20 baseline OOM,
    // ADVICE #5 confirmed — bench/r20_bk0_8g_oom.log.gz), while DISK_ONLY
    // keeps the no-recompute benefit with zero storage-memory pressure (the
    // OS page cache serves the re-reads on any host with free RAM). The
    // envelope is conf-able (graft.broadcastMaxRows); at the bench's 1×
    // corpus nothing changes.
    val level =
      if (graft.chain.BlkCorpus.MainChainLength <=
          graft.operators.ChainOps.BroadcastMaxRows)
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      else org.apache.spark.storage.StorageLevel.DISK_ONLY
    dfs.filterNot(df => df.storageLevel.useMemory || df.storageLevel.useDisk)
      .foreach(df => graft.Scope.pin(df.persist(level)))
  }

  /** Non-recursive bronze CTEs over the materialized parquet. */
  private def bronzeCtes: String =
    s"""blocks AS (SELECT * FROM ${pq(BlkCorpus.bronzeDir("blocks"))}),
       |txsb AS (SELECT * FROM ${pq(BlkCorpus.bronzeDir("transactions"))}),
       |ins AS (SELECT * FROM ${pq(BlkCorpus.bronzeDir("tx_inputs"))}),
       |outs0 AS (SELECT * FROM ${pq(BlkCorpus.bronzeDir("tx_outputs"))})""".stripMargin

  /** Generator ground truth — oracle-side only (see BlkCorpus.truthDir). */
  private def truthCte: String =
    s"truth AS (SELECT * FROM ${pq(BlkCorpus.truthDir)})"

  /** The fork window: every block at ts ≥ the slot 2000 heights below the
    * tip — covers the last 2000 main-chain heights, the 140-block stale
    * branch and the window's orphans (~2.1k blocks). The window boundary
    * block's parent is outside the window, i.e. a DANGLING pointer — which
    * both sides define as a root (ChainOps orphan semantics; NOT EXISTS in
    * the CTE). Derived from the corpus length so the scale-rehearsal flag
    * (SPARK_GRAFT_CORPUS_SCALE) moves it with the chain tip.
    */
  private[graft] val WindowStartTs: Long =
    BlkCorpus.GenesisTs + (BlkCorpus.MainChainLength - 2000L) * 600L

  /** bk7 snapshot height: inside the stable prefix (before the fork window)
    * so the UTXO answer is reorg-independent. Scales with the corpus.
    */
  private[graft] val UtxoHeight: Int = BlkCorpus.MainChainLength - 5000

  /** Chain-filtered tx context + resolved inputs + outputs, from the
    * bk1-verified annotation (set-based; no recursion).
    */
  private def goldCtes: String =
    s"""ann AS (SELECT * FROM ${pq(BlkCorpus.annotatedDir)}),
       |ctx AS (
       |  SELECT t.tx_hash, t.block_hash, t.is_coinbase, a.height, a.ts
       |  FROM txsb t JOIN ann a ON t.block_hash = a.hash
       |  WHERE a.is_on_best_chain
       |), rin AS (
       |  SELECT i.tx_hash, i.prev_tx_hash, i.prev_index, o.value, o.address AS src_address
       |  FROM ins i JOIN outs0 o
       |    ON i.prev_tx_hash = o.tx_hash AND i.prev_index = o.idx
       |  WHERE i.tx_hash IN (SELECT tx_hash FROM ctx)
       |), outs AS (
       |  SELECT * FROM outs0 WHERE tx_hash IN (SELECT tx_hash FROM ctx)
       |)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Full pipeline from raw bytes: parse → bronze → distributed best-chain
    // → gold tx stats → one digest row. THE end-to-end number for Bench.
    Q("bk0_e2e_pipeline",
      (s, _) => {
        BlkCorpus.ensureMaterialized(s)
        val bronze = BlockFileSource.toBronze(BlockFileSource.read(s, BlkCorpus.rawDir))
        // headers staged FIRST (before the annotator's eager envelope probe
        // fires): the annotator consumes the block frame ≥2× (probe, then
        // the dictionary encode) and each pass would otherwise re-run the
        // raw wire-format parse — measured 32 s of a 218 s run at the
        // 1.5M-block scale, all but one parse redundant
        val headers = bronze("blocks")
        stageForRun(headers)
        val ann = BestChain.annotateDistributed(headers)
        val cTxs = GoldStats.chainTxs(bronze("transactions"), ann)
        val rin = Enrich.resolvedInputs(bronze("tx_inputs"), bronze("tx_outputs"))
          .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val outs = bronze("tx_outputs")
          .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        stageForRun(cTxs, headers, rin, outs)
        val ts = GoldStats.txStats(cTxs, rin, outs)
        ann.agg(
            count(lit(1)).as("n_blocks"),
            sum(col("is_on_best_chain").cast("long")).as("n_best"),
            max(col("height").cast("long")).as("best_height"))
          .crossJoin(ts.agg(
            count(lit(1)).as("n_chain_txs"),
            sum("fee").as("total_fee")))
      },
      Some(s"""WITH $bronzeCtes,
         |$truthCte,
         |ctx AS (
         |  SELECT t.tx_hash, t.is_coinbase FROM txsb t
         |  WHERE t.block_hash IN (SELECT hash FROM truth WHERE is_on_best_chain)
         |), fees AS (
         |  SELECT c.tx_hash,
         |    CASE WHEN c.is_coinbase THEN 0 ELSE
         |      coalesce(i.in_value, 0) - coalesce(o.out_value, 0) END AS fee
         |  FROM ctx c
         |  LEFT JOIN (SELECT i.tx_hash, sum(o.value) AS in_value FROM ins i
         |    JOIN outs0 o ON i.prev_tx_hash = o.tx_hash AND i.prev_index = o.idx
         |    GROUP BY i.tx_hash) i ON c.tx_hash = i.tx_hash
         |  LEFT JOIN (SELECT tx_hash, sum(value) AS out_value FROM outs0
         |    GROUP BY tx_hash) o ON c.tx_hash = o.tx_hash
         |)
         |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_blocks,
         |  CAST((SELECT count(*) FROM truth WHERE is_on_best_chain) AS BIGINT) AS n_best,
         |  CAST((SELECT max(height) FROM truth) AS BIGINT) AS best_height,
         |  CAST((SELECT count(*) FROM ctx) AS BIGINT) AS n_chain_txs,
         |  CAST((SELECT sum(fee) FROM fees) AS BIGINT) AS total_fee""".stripMargin)),

    // Distributed best-chain annotation vs the generator's ground truth:
    // every block's height + membership, incl. the 140-deep stale branch and
    // every orphan, at the full 50k depth. The annotation is RESOLVED ONCE
    // per frozen corpus — ensureMaterialized runs annotateDistributed and
    // persists (hash, height, is_on_best_chain) beside the bronze — and
    // every bk query reads that parquet, the way a 100 TB deployment would
    // (resolve on ingest, not per query): at 30x this is a seconds-scale
    // scan instead of re-paying ~2 min of doubling rounds per query. The
    // oracle gate is unchanged — this parquet IS annotateDistributed's
    // output, hash-matched bit-for-bit against the generator's truth — and
    // the from-scratch resolver stays independently exercised per round by
    // bk0 (full pipeline from raw bytes) and bk6 (fork window vs the
    // recursive-CTE re-derivation).
    Q("bk1_best_chain",
      (s, _) => BlkCorpus.annotated(s)
        .select(col("hash"), col("height").cast("long").as("height"),
          col("is_on_best_chain")),
      Some(s"""WITH $truthCte
         |SELECT hash, CAST(height AS BIGINT) AS height, is_on_best_chain
         |FROM truth""".stripMargin)),

    // The recursive-CTE re-derivation gate, scoped to the fork window where
    // membership is contested (2000-deep main suffix + the 140-block
    // double-spending branch + orphans). The engine runs the SAME distributed
    // annotator over the window subset; DuckDB re-derives heights + the tip
    // walk from parent pointers alone (MATERIALIZED keeps the 2k-round
    // recursion off the parquet scan). Dangling boundary parents are roots on
    // both sides.
    Q("bk6_fork_window",
      (s, _) => BestChain.annotateDistributed(
          BlkCorpus.bronze(s, "blocks").where(col("ts") >= BlkScale.WindowStartTs))
        .select(col("hash"), col("height").cast("long").as("height"),
          col("is_on_best_chain")),
      Some(s"""WITH RECURSIVE wblocks AS MATERIALIZED (
         |  SELECT hash, parent_hash FROM ${pq(BlkCorpus.bronzeDir("blocks"))}
         |  WHERE ts >= ${WindowStartTs}
         |), h(hash, height) AS (
         |  -- dangling parents count the unresolvable hop (ChainOps orphan
         |  -- semantics): a null-parent root sits at 0, a dangling one at 1
         |  SELECT hash, CASE WHEN parent_hash IS NULL THEN 0 ELSE 1 END
         |  FROM wblocks b
         |  WHERE NOT EXISTS (SELECT 1 FROM wblocks p WHERE p.hash = b.parent_hash)
         |  UNION ALL
         |  SELECT b.hash, h.height + 1 FROM wblocks b JOIN h ON b.parent_hash = h.hash
         |), tip AS (
         |  SELECT hash, height FROM h ORDER BY height DESC, hash LIMIT 1
         |), chain(hash) AS (
         |  SELECT hash FROM tip
         |  UNION ALL
         |  SELECT b.parent_hash FROM wblocks b JOIN chain c ON b.hash = c.hash
         |  WHERE b.parent_hash IN (SELECT hash FROM wblocks)
         |)
         |SELECT h.hash, CAST(h.height AS BIGINT) AS height,
         |  h.hash IN (SELECT hash FROM chain) AS is_on_best_chain
         |FROM h""".stripMargin)),

    // Per-transaction gold stats at scale (bc4 semantics on 21k+ txs).
    Q("bk2_tx_stats",
      (s, _) => GoldStats.txStats(BlkCorpus.silver(s, "ctx"),
          BlkCorpus.silver(s, "rin"), BlkCorpus.silver(s, "outs"))
        .select(col("tx_hash"), col("is_coinbase"), col("date"),
          col("input_count"), col("output_count"), col("balance"), col("fee"),
          col("new_address_count"), col("is_between_one_address")),
      Some(s"""WITH $bronzeCtes,
         |$goldCtes,
         |inagg AS (
         |  SELECT tx_hash, count(*) AS input_count, sum(value) AS in_value
         |  FROM rin GROUP BY tx_hash
         |), outagg AS (
         |  SELECT tx_hash, count(*) AS output_count, sum(value) AS out_value
         |  FROM outs GROUP BY tx_hash
         |), first_tx AS (
         |  SELECT address, tx_hash FROM (
         |    SELECT o.address, o.tx_hash,
         |      row_number() OVER (PARTITION BY o.address ORDER BY c.height, o.tx_hash) AS rn
         |    FROM outs o JOIN ctx c ON o.tx_hash = c.tx_hash) WHERE rn = 1
         |), newaddr AS (
         |  SELECT tx_hash, count(*) AS new_address_count FROM first_tx GROUP BY tx_hash
         |), churn AS (
         |  SELECT DISTINCT i.tx_hash FROM rin i
         |  JOIN outs o ON i.tx_hash = o.tx_hash AND i.src_address = o.address
         |)
         |SELECT c.tx_hash, c.is_coinbase, CAST(c.ts AS BIGINT) AS date,
         |  CAST(coalesce(ia.input_count, 0) AS BIGINT) AS input_count,
         |  CAST(coalesce(oa.output_count, 0) AS BIGINT) AS output_count,
         |  CAST(coalesce(ia.in_value, 0) AS BIGINT) AS balance,
         |  CAST(CASE WHEN c.is_coinbase THEN 0 ELSE
         |    coalesce(ia.in_value, 0) - coalesce(oa.out_value, 0) END AS BIGINT) AS fee,
         |  CAST(coalesce(na.new_address_count, 0) AS BIGINT) AS new_address_count,
         |  (ch.tx_hash IS NOT NULL) AS is_between_one_address
         |FROM ctx c
         |LEFT JOIN inagg ia ON c.tx_hash = ia.tx_hash
         |LEFT JOIN outagg oa ON c.tx_hash = oa.tx_hash
         |LEFT JOIN newaddr na ON c.tx_hash = na.tx_hash
         |LEFT JOIN churn ch ON c.tx_hash = ch.tx_hash""".stripMargin)),

    // Per-block gold stats at scale (bc5 semantics on 5.2k blocks).
    Q("bk3_block_stats",
      (s, _) => GoldStats.blockStats(BlkCorpus.annotated(s),
          GoldStats.txStats(BlkCorpus.silver(s, "ctx"),
            BlkCorpus.silver(s, "rin"), BlkCorpus.silver(s, "outs")))
        .select(col("hash"), col("height").cast("long").as("height"), col("ts"),
          col("tx_count"), col("coinbase_balance"), col("balance"), col("fee")),
      Some(s"""WITH $bronzeCtes,
         |$goldCtes,
         |inagg AS (
         |  SELECT tx_hash, sum(value) AS in_value FROM rin GROUP BY tx_hash
         |), outagg AS (
         |  SELECT tx_hash, sum(value) AS out_value FROM outs GROUP BY tx_hash
         |), txagg AS (
         |  SELECT c.block_hash, count(*) AS tx_count,
         |    sum(coalesce(ia.in_value, 0)) AS sum_in,
         |    sum(CASE WHEN c.is_coinbase THEN 0 ELSE
         |      coalesce(ia.in_value, 0) - coalesce(oa.out_value, 0) END) AS fee
         |  FROM ctx c
         |  LEFT JOIN inagg ia ON c.tx_hash = ia.tx_hash
         |  LEFT JOIN outagg oa ON c.tx_hash = oa.tx_hash
         |  GROUP BY c.block_hash
         |)
         |SELECT a.hash, CAST(a.height AS BIGINT) AS height, CAST(a.ts AS BIGINT) AS ts,
         |  CAST(t.tx_count AS BIGINT) AS tx_count,
         |  5000000000 >> (a.height // 210000) AS coinbase_balance,
         |  CAST((5000000000 >> (a.height // 210000)) + t.sum_in AS BIGINT) AS balance,
         |  CAST(t.fee AS BIGINT) AS fee
         |FROM ann a JOIN txagg t ON a.hash = t.block_hash
         |WHERE a.is_on_best_chain""".stripMargin)),

    // Per-address gold stats at scale (bc6 semantics, ~1.5k reused addresses).
    Q("bk4_address_stats",
      (s, _) => GoldStats.addressStats(BlkCorpus.silver(s, "ctx"),
        BlkCorpus.silver(s, "rin"), BlkCorpus.silver(s, "outs")),
      Some(s"""WITH $bronzeCtes,
         |$goldCtes,
         |recv AS (
         |  SELECT o.address, o.tx_hash, o.value, c.ts
         |  FROM outs o JOIN ctx c ON o.tx_hash = c.tx_hash
         |), spent AS (
         |  SELECT i.src_address AS address, i.tx_hash, i.value, c.ts
         |  FROM rin i JOIN ctx c ON i.tx_hash = c.tx_hash
         |), ragg AS (
         |  SELECT address, sum(value) AS itb, count(DISTINCT tx_hash) AS itc,
         |    min(ts) AS fr, max(ts) AS lr FROM recv GROUP BY address
         |), sagg AS (
         |  SELECT address, sum(value) AS otb, count(DISTINCT tx_hash) AS otc,
         |    min(ts) AS fs, max(ts) AS ls FROM spent GROUP BY address
         |), touch AS (
         |  SELECT address, count(DISTINCT tx_hash) AS tx_count FROM (
         |    SELECT address, tx_hash FROM recv
         |    UNION ALL SELECT address, tx_hash FROM spent) GROUP BY address
         |), incp AS (
         |  SELECT r.address, count(DISTINCT f.src_address) AS iac
         |  FROM (SELECT DISTINCT address, tx_hash FROM recv) r
         |  JOIN (SELECT DISTINCT tx_hash, src_address FROM rin) f ON r.tx_hash = f.tx_hash
         |  GROUP BY r.address
         |), outcp AS (
         |  SELECT s.address, count(DISTINCT t.recipient) AS oac
         |  FROM (SELECT DISTINCT address, tx_hash FROM spent) s
         |  JOIN (SELECT DISTINCT tx_hash, address AS recipient FROM outs) t ON s.tx_hash = t.tx_hash
         |  GROUP BY s.address
         |), btw AS (
         |  SELECT r.address, count(*) AS batc
         |  FROM (SELECT DISTINCT address, tx_hash FROM recv) r
         |  JOIN (SELECT DISTINCT address, tx_hash FROM spent) sp
         |    ON r.address = sp.address AND r.tx_hash = sp.tx_hash
         |  GROUP BY r.address
         |)
         |SELECT coalesce(ragg.address, sagg.address) AS address,
         |  CAST(coalesce(ragg.itb, 0) - coalesce(sagg.otb, 0) AS BIGINT) AS balance,
         |  CAST(least(ragg.fr, sagg.fs) AS BIGINT) AS first_seen,
         |  CAST(greatest(ragg.lr, sagg.ls) AS BIGINT) AS last_seen,
         |  CAST(coalesce(ragg.itb, 0) AS BIGINT) AS input_tx_balance,
         |  CAST(coalesce(sagg.otb, 0) AS BIGINT) AS output_tx_balance,
         |  CAST(coalesce(touch.tx_count, 0) AS BIGINT) AS tx_count,
         |  CAST(coalesce(ragg.itc, 0) AS BIGINT) AS input_tx_count,
         |  CAST(coalesce(sagg.otc, 0) AS BIGINT) AS output_tx_count,
         |  CAST(coalesce(incp.iac, 0) AS BIGINT) AS input_addr_count,
         |  CAST(coalesce(outcp.oac, 0) AS BIGINT) AS output_addr_count,
         |  CAST(coalesce(btw.batc, 0) AS BIGINT) AS between_addr_tx_count
         |FROM ragg FULL JOIN sagg ON ragg.address = sagg.address
         |LEFT JOIN touch ON coalesce(ragg.address, sagg.address) = touch.address
         |LEFT JOIN incp ON coalesce(ragg.address, sagg.address) = incp.address
         |LEFT JOIN outcp ON coalesce(ragg.address, sagg.address) = outcp.address
         |LEFT JOIN btw ON coalesce(ragg.address, sagg.address) = btw.address""".stripMargin)),

    // Point-in-time UTXO set: outputs created by best-chain txs at height
    // <= H minus outpoints spent by best-chain txs at height <= H — the
    // query the reference's OutputIsUsed flag (TransactionGraph.java:152)
    // exists to serve, computed as one co-located anti-join. Both sides key
    // on the outpoint over tx_hash-bucketed silver, so at 100 TB the
    // anti-join shuffles nothing new and the per-address rollup is the only
    // exchange.
    Q("bk7_utxo_set",
      (s, _) => {
        val h = lit(UtxoHeight)
        val ctx = BlkCorpus.silver(s, "ctx").where(col("height") <= h)
          .select("tx_hash")
        val outsH = BlkCorpus.silver(s, "outs")
          .join(ctx, Seq("tx_hash"), "left_semi")
        val spentH = BlkCorpus.silver(s, "rin")
          .join(ctx, Seq("tx_hash"), "left_semi")
          .select(col("prev_tx_hash").as("tx_hash"), col("prev_index").as("idx"))
        outsH.join(spentH, Seq("tx_hash", "idx"), "left_anti")
          .groupBy("address")
          .agg(count(lit(1)).as("utxo_count"), sum("value").as("utxo_balance"))
          .select(col("address"), col("utxo_count"),
            col("utxo_balance").cast("long").as("utxo_balance"))
      },
      Some(s"""WITH $bronzeCtes,
         |$goldCtes,
         |hctx AS (SELECT tx_hash FROM ctx WHERE height <= $UtxoHeight),
         |outsh AS (
         |  SELECT o.* FROM outs o WHERE o.tx_hash IN (SELECT tx_hash FROM hctx)
         |), spenth AS (
         |  SELECT i.prev_tx_hash AS tx_hash, i.prev_index AS idx
         |  FROM rin i WHERE i.tx_hash IN (SELECT tx_hash FROM hctx)
         |)
         |SELECT o.address, count(*) AS utxo_count,
         |  CAST(sum(o.value) AS BIGINT) AS utxo_balance
         |FROM outsh o
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM spenth s WHERE s.tx_hash = o.tx_hash AND s.idx = o.idx)
         |GROUP BY o.address""".stripMargin)),

    // Wallet clustering at scale: GraphX connected components vs recursive
    // min-label propagation to fixpoint over the same co-spend graph.
    Q("bk5_wallet_clusters",
      (s, _) => {
        val rin = BlkCorpus.silver(s, "rin")
        val universe = BlkCorpus.silver(s, "outs").select("address")
          .union(rin.select(col("src_address").as("address"))).distinct()
        WalletCluster.clusters(universe, rin.select("tx_hash", "src_address"))
      },
      Some(s"""WITH RECURSIVE $bronzeCtes,
         |$goldCtes,
         |addrs AS (
         |  SELECT address FROM outs UNION SELECT src_address FROM rin
         |), pairs AS (
         |  SELECT DISTINCT a.src_address AS x, b.src_address AS y
         |  FROM rin a JOIN rin b ON a.tx_hash = b.tx_hash
         |), lbl(address, wallet) AS (
         |  SELECT address, address FROM addrs
         |  UNION
         |  SELECT p.x, l.wallet FROM pairs p JOIN lbl l ON p.y = l.address
         |)
         |SELECT address, min(wallet) AS wallet_id FROM lbl GROUP BY address""".stripMargin))
  )
}
