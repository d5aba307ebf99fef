package graft.queries

import org.apache.spark.sql.functions._

import graft.Q
import graft.chain.{BestChain, ChainFixture, Enrich, GoldStats, WalletCluster}
import graft.functions.GraftFunctions

/** The blockchain workload itself (SURVEY.md §3, §7.1): best-chain
  * resolution, the outpoint join, gold stats, wallet clustering and script
  * decode, run on the deterministic [[ChainFixture]] and hash-verified
  * against DuckDB computing the same semantics in recursive SQL over the
  * identical VALUES. These queries ignore the sf dir — the fixture IS the
  * dataset (the raw blk-file source is round-2 scope; TESTDATA has no
  * blockchain tables).
  */
object Blockchain {

  private val F = ChainFixture

  /** Recursive heights + best-chain membership, shared by the oracles. */
  private val chainCte: String =
    s"""${F.sqlCtes},
       |h(hash, height) AS (
       |  SELECT hash, 0 FROM blocks WHERE parent_hash IS NULL
       |  UNION ALL
       |  SELECT b.hash, h.height + 1 FROM blocks b JOIN h ON b.parent_hash = h.hash
       |), tip AS (
       |  SELECT hash, height FROM h ORDER BY height DESC, hash LIMIT 1
       |), chain(hash) AS (
       |  SELECT hash FROM tip
       |  UNION ALL
       |  SELECT b.parent_hash FROM blocks b JOIN chain c ON b.hash = c.hash
       |  WHERE b.parent_hash IS NOT NULL
       |), ctx AS (
       |  SELECT t.tx_hash, t.block_hash, t.is_coinbase, h.height, b.ts
       |  FROM transactions t JOIN blocks b ON t.block_hash = b.hash
       |  JOIN h ON b.hash = h.hash JOIN chain c ON b.hash = c.hash
       |), rin AS (
       |  SELECT i.tx_hash, i.prev_tx_hash, i.prev_index, o.value, o.address AS src_address
       |  FROM tx_inputs i JOIN tx_outputs o
       |    ON i.prev_tx_hash = o.tx_hash AND i.prev_index = o.idx
       |  WHERE i.tx_hash IN (SELECT tx_hash FROM ctx)
       |), outs AS (
       |  SELECT * FROM tx_outputs WHERE tx_hash IN (SELECT tx_hash FROM ctx)
       |)""".stripMargin

  /** Counterparty + co-spend edge base shared by g3/g4/g5: flow edges of
    * the best chain UNION co-spend links (addresses funding the same tx —
    * the wallet-clustering signal). ONE definition; its SQL twin is
    * [[counterpartyEdgesSql]] — change both together.
    */
  private def counterpartyEdges(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    val ann = BestChain.annotate(F.blocksDf(s))
    val cTxs = GoldStats.chainTxs(F.transactionsDf(s), ann)
    val rin = Enrich.resolvedInputs(F.txInputsDf(s), F.txOutputsDf(s))
      .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
    val outs = F.txOutputsDf(s).join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
    val funders = rin.select(col("tx_hash"), col("src_address")).distinct()
    val cospend = funders
      .join(funders.select(col("tx_hash"), col("src_address").as("dst_address")), "tx_hash")
      .where(col("src_address") < col("dst_address"))
      .select(col("src_address").as("src"), col("dst_address").as("dst"),
        lit(0L).as("value"))
    graft.graph.GraphAnalytics.flowEdges(rin, outs).unionByName(cospend)
  }

  /** The SQL twin of [[counterpartyEdges]], consumed by the g3/g4/g5
    * oracles on top of [[chainCte]]'s `rin`/`outs`.
    */
  private val counterpartyEdgesSql: String =
    """fund AS (SELECT DISTINCT tx_hash, src_address AS src FROM rin),
      |edges AS (
      |  SELECT DISTINCT f.src, o.address AS dst
      |  FROM fund f
      |  JOIN outs o ON f.tx_hash = o.tx_hash
      |  UNION
      |  SELECT a.src, b.src AS dst
      |  FROM fund a JOIN fund b ON a.tx_hash = b.tx_hash AND a.src < b.src
      |)""".stripMargin

  val queries: Seq[Q] = Seq(

    Q("bc1_heights",
      (s, _) => BestChain.heights(F.blocksDf(s)).select(col("hash"), col("height").cast("long")),
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")}
         |SELECT hash, CAST(height AS BIGINT) AS height FROM h""".stripMargin)),

    Q("bc2_best_chain",
      (s, _) => BestChain.annotate(F.blocksDf(s))
        .select(col("hash"), col("height").cast("long"), col("is_on_best_chain")),
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")}
         |SELECT h.hash, CAST(h.height AS BIGINT) AS height,
         |  h.hash IN (SELECT hash FROM chain) AS is_on_best_chain FROM h""".stripMargin)),

    Q("bc3_outputs_enriched",
      (s, _) => Enrich.outputsEnriched(F.txOutputsDf(s), F.txInputsDf(s))
        .select(col("tx_hash"), col("idx").cast("long"), col("value"), col("address"),
          col("spent_by_tx"), col("is_used")),
      Some(s"""${F.sqlCtes}
         |SELECT o.tx_hash, CAST(o.idx AS BIGINT) AS idx, o.value, o.address,
         |  i.tx_hash AS spent_by_tx, i.tx_hash IS NOT NULL AS is_used
         |FROM tx_outputs o LEFT JOIN tx_inputs i
         |  ON o.tx_hash = i.prev_tx_hash AND o.idx = i.prev_index""".stripMargin)),

    Q("bc4_tx_stats",
      (s, _) => {
        val ann = BestChain.annotate(F.blocksDf(s))
        val cTxs = GoldStats.chainTxs(F.transactionsDf(s), ann)
        val rin = Enrich.resolvedInputs(F.txInputsDf(s), F.txOutputsDf(s))
          .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val outs = F.txOutputsDf(s).join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        GoldStats.txStats(cTxs, rin, outs)
          .select(col("tx_hash"), col("is_coinbase"), col("date"),
            col("input_count"), col("output_count"), col("balance"), col("fee"),
            col("new_address_count"), col("is_between_one_address"))
      },
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
         |first_tx AS (
         |  SELECT address, tx_hash FROM (
         |    SELECT o.address, o.tx_hash,
         |      row_number() OVER (PARTITION BY o.address ORDER BY c.height, o.tx_hash) AS rn
         |    FROM outs o JOIN ctx c ON o.tx_hash = c.tx_hash) WHERE rn = 1
         |)
         |SELECT c.tx_hash, c.is_coinbase, CAST(c.ts AS BIGINT) AS date,
         |  (SELECT count(*) FROM rin i WHERE i.tx_hash = c.tx_hash) AS input_count,
         |  (SELECT count(*) FROM outs o WHERE o.tx_hash = c.tx_hash) AS output_count,
         |  CAST(coalesce((SELECT sum(i.value) FROM rin i WHERE i.tx_hash = c.tx_hash), 0) AS BIGINT) AS balance,
         |  CAST(CASE WHEN c.is_coinbase THEN 0 ELSE
         |    coalesce((SELECT sum(i.value) FROM rin i WHERE i.tx_hash = c.tx_hash), 0) -
         |    coalesce((SELECT sum(o.value) FROM outs o WHERE o.tx_hash = c.tx_hash), 0) END AS BIGINT) AS fee,
         |  (SELECT count(*) FROM first_tx f WHERE f.tx_hash = c.tx_hash) AS new_address_count,
         |  EXISTS (SELECT 1 FROM rin i JOIN outs o
         |    ON i.tx_hash = c.tx_hash AND o.tx_hash = c.tx_hash
         |    AND i.src_address = o.address) AS is_between_one_address
         |FROM ctx c""".stripMargin)),

    Q("bc5_block_stats",
      (s, _) => {
        val ann = BestChain.annotate(F.blocksDf(s))
        val cTxs = GoldStats.chainTxs(F.transactionsDf(s), ann)
        val rin = Enrich.resolvedInputs(F.txInputsDf(s), F.txOutputsDf(s))
          .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val outs = F.txOutputsDf(s).join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        GoldStats.blockStats(ann, GoldStats.txStats(cTxs, rin, outs))
          .select(col("hash"), col("height").cast("long"), col("ts"), col("tx_count"),
            col("coinbase_balance"), col("balance"), col("fee"))
      },
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
         |txagg AS (
         |  SELECT c.block_hash, count(*) AS tx_count,
         |    sum(coalesce((SELECT sum(i.value) FROM rin i WHERE i.tx_hash = c.tx_hash), 0)) AS sum_in,
         |    sum(CASE WHEN c.is_coinbase THEN 0 ELSE
         |      coalesce((SELECT sum(i.value) FROM rin i WHERE i.tx_hash = c.tx_hash), 0) -
         |      coalesce((SELECT sum(o.value) FROM outs o WHERE o.tx_hash = c.tx_hash), 0) END) AS fee
         |  FROM ctx c GROUP BY c.block_hash
         |)
         |SELECT b.hash, CAST(h.height AS BIGINT) AS height, CAST(b.ts AS BIGINT) AS ts, a.tx_count,
         |  5000000000 >> (h.height // 210000) AS coinbase_balance,
         |  CAST((5000000000 >> (h.height // 210000)) + a.sum_in AS BIGINT) AS balance,
         |  CAST(a.fee AS BIGINT) AS fee
         |FROM blocks b JOIN h ON b.hash = h.hash JOIN txagg a ON b.hash = a.block_hash""".stripMargin)),

    Q("bc6_address_stats",
      (s, _) => {
        val ann = BestChain.annotate(F.blocksDf(s))
        val cTxs = GoldStats.chainTxs(F.transactionsDf(s), ann)
        val rin = Enrich.resolvedInputs(F.txInputsDf(s), F.txOutputsDf(s))
          .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val outs = F.txOutputsDf(s).join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        GoldStats.addressStats(cTxs, rin, outs)
      },
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
         |recv AS (
         |  SELECT o.address, o.tx_hash, o.value, c.ts FROM outs o JOIN ctx c ON o.tx_hash = c.tx_hash
         |), spent AS (
         |  SELECT i.src_address AS address, i.tx_hash, i.value, c.ts
         |  FROM rin i JOIN ctx c ON i.tx_hash = c.tx_hash
         |), addrs AS (
         |  SELECT DISTINCT address FROM
         |    (SELECT address FROM recv UNION ALL SELECT address FROM spent)
         |)
         |SELECT a.address,
         |  CAST(coalesce((SELECT sum(value) FROM recv r WHERE r.address = a.address), 0) -
         |    coalesce((SELECT sum(value) FROM spent sp WHERE sp.address = a.address), 0) AS BIGINT) AS balance,
         |  CAST(least((SELECT min(ts) FROM recv r WHERE r.address = a.address),
         |        (SELECT min(ts) FROM spent sp WHERE sp.address = a.address)) AS BIGINT) AS first_seen,
         |  CAST(greatest((SELECT max(ts) FROM recv r WHERE r.address = a.address),
         |           (SELECT max(ts) FROM spent sp WHERE sp.address = a.address)) AS BIGINT) AS last_seen,
         |  CAST(coalesce((SELECT sum(value) FROM recv r WHERE r.address = a.address), 0) AS BIGINT) AS input_tx_balance,
         |  CAST(coalesce((SELECT sum(value) FROM spent sp WHERE sp.address = a.address), 0) AS BIGINT) AS output_tx_balance,
         |  (SELECT count(DISTINCT tx_hash) FROM (SELECT tx_hash FROM recv r WHERE r.address = a.address
         |    UNION ALL SELECT tx_hash FROM spent sp WHERE sp.address = a.address)) AS tx_count,
         |  (SELECT count(DISTINCT tx_hash) FROM recv r WHERE r.address = a.address) AS input_tx_count,
         |  (SELECT count(DISTINCT tx_hash) FROM spent sp WHERE sp.address = a.address) AS output_tx_count,
         |  coalesce((SELECT count(DISTINCT i.src_address) FROM recv r JOIN rin i ON r.tx_hash = i.tx_hash
         |    WHERE r.address = a.address), 0) AS input_addr_count,
         |  coalesce((SELECT count(DISTINCT o.address) FROM spent sp JOIN outs o ON sp.tx_hash = o.tx_hash
         |    WHERE sp.address = a.address), 0) AS output_addr_count,
         |  (SELECT count(DISTINCT r.tx_hash) FROM recv r JOIN spent sp
         |    ON r.tx_hash = sp.tx_hash AND r.address = sp.address
         |    WHERE r.address = a.address) AS between_addr_tx_count
         |FROM addrs a""".stripMargin)),

    Q("bc7_wallet_clusters",
      (s, _) => {
        val ann = BestChain.annotate(F.blocksDf(s))
        val cTxs = GoldStats.chainTxs(F.transactionsDf(s), ann)
        val rin = Enrich.resolvedInputs(F.txInputsDf(s), F.txOutputsDf(s))
          .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val outs = F.txOutputsDf(s).join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val universe = outs.select("address")
          .union(rin.select(col("src_address").as("address"))).distinct()
        WalletCluster.clusters(universe, rin.select("tx_hash", "src_address"))
      },
      // Min-label propagation to fixpoint in recursive SQL == connected
      // components on this co-spend graph.
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
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
         |SELECT address, min(wallet) AS wallet_id FROM lbl GROUP BY address""".stripMargin)),

    // The reorg-repair path under the oracle gate: cluster the PRE-reorg
    // chain into a stored labeling, invalidate the best-chain blocks at
    // height >= 3 (the b3a branch — tx3's co-spend retracts, splitting the
    // {A,B} wallet; the stale b3b becomes the tip), repair the store with
    // repairAfterReorg, and emit the post-reorg universe's labels. The
    // oracle knows nothing of the repair: it recomputes min-label
    // propagation over the POST-reorg chain from scratch — matching it
    // hash-exact proves repair-then-upsert lands on chain-semantics truth.
    Q("bc9_reorg_repair",
      (s, _) => {
        val ann = BestChain.annotate(F.blocksDf(s))
        val cTxsPre = GoldStats.chainTxs(F.transactionsDf(s), ann)
        val rinAll = Enrich.resolvedInputs(F.txInputsDf(s), F.txOutputsDf(s))
        val rinPre = rinAll.join(cTxsPre.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val outsPre = F.txOutputsDf(s).join(cTxsPre.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val universePre = outsPre.select("address")
          .union(rinPre.select(col("src_address").as("address"))).distinct()
        val stored = WalletCluster.clusters(universePre, rinPre.select("tx_hash", "src_address"))

        val invBlocks = ann.where(col("is_on_best_chain") && col("height") >= 3).select("hash")
        val keptBlocks = F.blocksDf(s).join(invBlocks, Seq("hash"), "left_anti")
        val keptTxs = GoldStats.chainTxs(F.transactionsDf(s), BestChain.annotate(keptBlocks))
        val invTxs = F.transactionsDf(s)
          .join(invBlocks.withColumnRenamed("hash", "block_hash"), Seq("block_hash"), "left_semi")
        val invFunders = rinAll.join(invTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
          .select("tx_hash", "src_address")
        val keptFunders = rinAll.join(keptTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
          .select("tx_hash", "src_address")

        val (repair, _, _) = WalletCluster.repairAfterReorg(stored, invFunders, keptFunders)
        val repaired = repair.unionByName(
          stored.join(repair.select("address"), Seq("address"), "left_anti"))
        val outsPost = F.txOutputsDf(s).join(keptTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val universePost = outsPost.select("address")
          .union(keptFunders.select(col("src_address").as("address"))).distinct()
        universePost.join(repaired, Seq("address"), "left")
          .select(col("address"), coalesce(col("wallet_id"), col("address")).as("wallet_id"))
      },
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
         |inv AS (
         |  SELECT h.hash FROM h JOIN chain c ON h.hash = c.hash WHERE h.height >= 3
         |), blocks2 AS (
         |  SELECT * FROM blocks WHERE hash NOT IN (SELECT hash FROM inv)
         |), h2(hash, height) AS (
         |  SELECT hash, 0 FROM blocks2 WHERE parent_hash IS NULL
         |  UNION ALL
         |  SELECT b.hash, h2.height + 1 FROM blocks2 b JOIN h2 ON b.parent_hash = h2.hash
         |), tip2 AS (
         |  SELECT hash, height FROM h2 ORDER BY height DESC, hash LIMIT 1
         |), chain2(hash) AS (
         |  SELECT hash FROM tip2
         |  UNION ALL
         |  SELECT b.parent_hash FROM blocks2 b JOIN chain2 c ON b.hash = c.hash
         |  WHERE b.parent_hash IS NOT NULL
         |), ctx2 AS (
         |  SELECT t.tx_hash FROM transactions t JOIN chain2 c ON t.block_hash = c.hash
         |), rin2 AS (
         |  SELECT i.tx_hash, o.address AS src_address
         |  FROM tx_inputs i JOIN tx_outputs o
         |    ON i.prev_tx_hash = o.tx_hash AND i.prev_index = o.idx
         |  WHERE i.tx_hash IN (SELECT tx_hash FROM ctx2)
         |), addrs2 AS (
         |  SELECT address FROM tx_outputs WHERE tx_hash IN (SELECT tx_hash FROM ctx2)
         |  UNION SELECT src_address FROM rin2
         |), pairs2 AS (
         |  SELECT DISTINCT a.src_address AS x, b.src_address AS y
         |  FROM rin2 a JOIN rin2 b ON a.tx_hash = b.tx_hash
         |), lbl2(address, wallet) AS (
         |  SELECT address, address FROM addrs2
         |  UNION
         |  SELECT p.x, l.wallet FROM pairs2 p JOIN lbl2 l ON p.y = l.address
         |)
         |SELECT address, min(wallet) AS wallet_id FROM lbl2 GROUP BY address""".stripMargin)),

    // Value-flow graph degrees (the SQL-checkable face of the GraphX layer).
    Q("g1_flow_degrees",
      (s, _) => {
        val ann = BestChain.annotate(F.blocksDf(s))
        val cTxs = GoldStats.chainTxs(F.transactionsDf(s), ann)
        val rin = Enrich.resolvedInputs(F.txInputsDf(s), F.txOutputsDf(s))
          .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val outs = F.txOutputsDf(s).join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        graft.graph.GraphAnalytics.degrees(graft.graph.GraphAnalytics.flowEdges(rin, outs))
      },
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
         |edges AS (
         |  SELECT f.src, o.address AS dst, CAST(SUM(o.value) AS BIGINT) AS value
         |  FROM (SELECT DISTINCT tx_hash, src_address AS src FROM rin) f
         |  JOIN outs o ON f.tx_hash = o.tx_hash GROUP BY f.src, o.address
         |), od AS (
         |  SELECT src AS address, count(*) AS out_degree, CAST(SUM(value) AS BIGINT) AS out_value
         |  FROM edges GROUP BY src
         |), id_ AS (
         |  SELECT dst AS address, count(*) AS in_degree, CAST(SUM(value) AS BIGINT) AS in_value
         |  FROM edges GROUP BY dst
         |)
         |SELECT coalesce(od.address, id_.address) AS address,
         |  coalesce(od.out_degree, 0) AS out_degree, coalesce(id_.in_degree, 0) AS in_degree,
         |  CAST(coalesce(od.out_value, 0) AS BIGINT) AS out_value,
         |  CAST(coalesce(id_.in_value, 0) AS BIGINT) AS in_value
         |FROM od FULL JOIN id_ ON od.address = id_.address""".stripMargin)),

    // PageRank influence ranking, VALUE-gated: GraphX staticPageRank(10)
    // is (probe-verified, GraphSpec) exactly 10 rounds of
    // r' = 0.15 + 0.85 * Σ_in r/outdeg from r0 = 1, then a final
    // normalization to Σr = |V| — all closed-form, so DuckDB re-derives it
    // by unrolling the 10 rounds. Message sums are the one place the two
    // engines may legitimately differ (association order of double
    // addition, ~1e-13 relative over 10 rounds), so BOTH sides round to 6
    // decimals via %f — 7 orders of magnitude of headroom.
    Q("g2_pagerank",
      (s, _) => {
        val ann = BestChain.annotate(F.blocksDf(s))
        val cTxs = GoldStats.chainTxs(F.transactionsDf(s), ann)
        val rin = Enrich.resolvedInputs(F.txInputsDf(s), F.txOutputsDf(s))
          .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        val outs = F.txOutputsDf(s).join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
        graft.graph.GraphAnalytics.pageRank(
            graft.graph.GraphAnalytics.flowEdges(rin, outs))
          .select(col("address"), format_string("%.6f", col("rank")).as("rank_r"))
      },
      Some {
        val rounds = (1 to 10).map { i =>
          s"""pr$i AS (
             |  SELECT v.address, 0.15 + 0.85 * coalesce(m.msg, CAST(0 AS DOUBLE)) AS rank
             |  FROM verts v LEFT JOIN (
             |    SELECT e.dst AS address, sum(p.rank / d.outdeg) AS msg
             |    FROM pr${i - 1} p JOIN edges e ON p.address = e.src
             |    JOIN deg d ON e.src = d.src
             |    GROUP BY e.dst) m ON v.address = m.address)""".stripMargin
        }.mkString(",\n")
        s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
           |edges AS (
           |  SELECT DISTINCT f.src, o.address AS dst
           |  FROM (SELECT DISTINCT tx_hash, src_address AS src FROM rin) f
           |  JOIN outs o ON f.tx_hash = o.tx_hash
           |), verts AS (
           |  -- DISTINCT over UNION ALL, not UNION: inside a WITH RECURSIVE
           |  -- chain DuckDB parses a bare UNION as the recursive-union
           |  -- operator and does not deduplicate the two branches
           |  SELECT DISTINCT address FROM (
           |    SELECT src AS address FROM edges
           |    UNION ALL SELECT dst FROM edges)
           |), deg AS (
           |  SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src
           |), pr0 AS (
           |  SELECT address, CAST(1 AS DOUBLE) AS rank FROM verts
           |),
           |$rounds,
           |norm AS (
           |  SELECT CAST((SELECT count(*) FROM verts) AS DOUBLE)
           |    / (SELECT sum(rank) FROM pr10) AS s
           |)
           |SELECT p.address, printf('%.6f', p.rank * norm.s) AS rank_r
           |FROM pr10 p, norm""".stripMargin
      }),

    // Triangle participation counts — local clustering structure of the
    // counterparty graph (flow edges UNION co-spend edges: addresses that
    // fund the same tx are linked, the wallet-clustering signal), as one
    // fixed dataflow (degree-oriented node-iterator; see
    // GraphAnalytics.triangleCounts for the skew bound). Pure flow edges on
    // a payment chain are triangle-free almost everywhere; the co-spend
    // union is what gives the clustering coefficient its subject matter
    // (co-funders A,B both paying F close the {A,B,F} triangle). The
    // oracle re-derives the same union, orientation and closure in SQL.
    Q("g3_triangles",
      (s, _) => graft.graph.GraphAnalytics.triangleCounts(counterpartyEdges(s)),
      Some(s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
         |$counterpartyEdgesSql, und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst
         |), deg AS (
         |  SELECT x, count(*) AS d FROM (
         |    SELECT u AS x FROM und UNION ALL SELECT v FROM und)
         |  GROUP BY x
         |), ore AS (
         |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS s,
         |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS t
         |  FROM und JOIN deg du ON und.u = du.x JOIN deg dv ON und.v = dv.x
         |), tri AS (
         |  SELECT w1.s, w1.t AS a, w2.t AS b
         |  FROM ore w1 JOIN ore w2 ON w1.s = w2.s AND w1.t <> w2.t
         |  JOIN ore e ON e.s = w1.t AND e.t = w2.t
         |)
         |SELECT address, CAST(count(*) AS BIGINT) AS triangles FROM (
         |  SELECT s AS address FROM tri
         |  UNION ALL SELECT a FROM tri
         |  UNION ALL SELECT b FROM tri)
         |GROUP BY address""".stripMargin)),

    // 2-core of the same counterparty+co-spend graph: peeling to the
    // maximal subgraph of mutual degree >= 2 — dense-infrastructure
    // detection that raw degree can't do (a star hub dies in the 2-core).
    // The oracle unrolls the peeling rounds as generated CTEs (the g2
    // technique): 12 rounds is past convergence for any graph this
    // fixture's size, and peeling is monotone — extra rounds are no-ops.
    Q("g4_kcore",
      (s, _) => graft.graph.GraphAnalytics.kCore(counterpartyEdges(s), k = 2),
      Some {
        // every round CTE is MATERIALIZED: each references its predecessor
        // several times, and CTE inlining would otherwise expand r12 into an
        // exponential expression tree over the recursive chain CTE
        val rounds = (0 until 12).map { i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT x, count(*) AS d FROM (
             |    SELECT u AS x FROM r$i UNION ALL SELECT v FROM r$i)
             |  GROUP BY x
             |), bad$i AS MATERIALIZED (SELECT x FROM d$i WHERE d < 2),
             |r${i + 1} AS MATERIALIZED (
             |  SELECT u, v FROM r$i
             |  WHERE u NOT IN (SELECT x FROM bad$i)
             |    AND v NOT IN (SELECT x FROM bad$i)
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
           |$counterpartyEdgesSql, r0 AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           |  FROM edges WHERE src <> dst
           |),
           |$rounds
           |SELECT DISTINCT address FROM (
           |  SELECT u AS address FROM r12 UNION ALL SELECT v FROM r12)""".stripMargin
      }),

    // Synchronous label-propagation communities on the counterparty+co-spend
    // graph — deterministic (simultaneous update, min-label tie-break), so
    // the oracle unrolls the 4 rounds as materialized CTEs (the g2/g4
    // technique) and matches row-for-row.
    Q("g5_lpa_communities",
      (s, _) => graft.graph.GraphAnalytics.labelPropagation(counterpartyEdges(s)),
      Some {
        val rounds = (1 to 4).map { i =>
          s"""lp$i AS MATERIALIZED (
             |  SELECT address, label FROM (
             |    SELECT e.a AS address, p.label, count(*) AS c,
             |      row_number() OVER (PARTITION BY e.a
             |        ORDER BY count(*) DESC, p.label) AS rn
             |    FROM adj e JOIN lp${i - 1} p ON e.b = p.address
             |    GROUP BY e.a, p.label) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH RECURSIVE ${chainCte.stripPrefix("WITH ")},
           |$counterpartyEdgesSql, und AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           |  FROM edges WHERE src <> dst
           |), adj AS MATERIALIZED (
           |  SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und
           |), lp0 AS MATERIALIZED (
           |  SELECT DISTINCT a AS address, a AS label FROM adj
           |),
           |$rounds
           |SELECT address, label AS community FROM lp4""".stripMargin
      }),

    Q("bc8_script_decode",
      (s, _) => {
        import s.implicits._
        // Every standard script template + garbage/empty/null. The oracle
        // carries the published expected addresses (Bitcoin wiki P2PKH
        // worked example, BIP-173 / BIP-350 segwit vectors) — anchored
        // externally in AddressCodecSpec, so this is a real wire-format gate.
        val scripts = Seq(
          (1L, "76a914010966776006953d5567439e5e39f86a0d273bee88ac"), // P2PKH
          (2L, "a914010966776006953d5567439e5e39f86a0d273bee87"),     // P2SH
          (3L, "0014751e76e8199196d454941c45d1b3a323f1433bd6"),       // P2WPKH
          (4L, "00201863143c14c5166804bd19203356da136c985678cd4d27a1b8c6329604903262"), // P2WSH
          (5L, "512079be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798"), // P2TR
          (6L, "210279be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798ac"), // P2PK c
          (7L, "0450863ad64a87ae8a2fe83c1af1a8403cb53f53e486d8511dad8a04887e5b2352" +
            "2cd470243453a299fa9e77237716103abc11a1df38855ed6f2ee187e9c582ba6"), // raw pubkey, no push op: undecodable
          (8L, "6a4c00"),
          (9L, ""),
          (10L, null)
        ).toDF("id", "script_hex")
        scripts.select(col("id"),
          GraftFunctions.script_to_address(unhex(col("script_hex"))).as("address"))
      },
      Some("""WITH expected(id, address) AS (VALUES
         | (1, '16UwLL9Risc3QfPqBUvKofHmBQ7wMtjvM'),
         | (2, '31nVrspaydBz8aMpxH9WkS2DuhgqS1fCuG'),
         | (3, 'bc1qw508d6qejxtdg4y5r3zarvary0c5xw7kv8f3t4'),
         | (4, 'bc1qrp33g0q5c5txsp9arysrx4k6zdkfs4nce4xj0gdcccefvpysxf3qccfmv3'),
         | (5, 'bc1p0xlxvlhemja6c4dqv22uapctqupfhlxm9h8z3k2e72q4k9hcz7vqzk5jj0'),
         | (6, '1BgGZ9tcN4rm9KBzDn7KprQz87SZ26SAMH'),
         | (7, '<undecodable>'), (8, '<undecodable>'),
         | (9, '<undecodable>'), (10, '<undecodable>'))
         |SELECT CAST(id AS BIGINT) AS id, address FROM expected""".stripMargin))
  )
}
