package graft.chain

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Telemetry.{phase, route, RouteDecision}
import graft.operators.{ChainOps, UnionFind, VertexDictionary}

/** Wallet clustering = connected components over the co-spend graph —
  * completing the reference's abandoned `AddressWalletID` feature
  * (declared at TransactionGraph.java:137, never computed:
  * BlockchainToGraph.java:29, 896 always writes 0).
  *
  * Co-spend heuristic: addresses funding the same transaction belong to one
  * wallet. Edges are a star per tx (each funder → the tx's min funder), so
  * edge count is linear in inputs, not quadratic per tx. Routing uses the
  * same size cut as a broadcast-vs-shuffle join decision (mirror of
  * [[BestChain.annotateDistributed]]):
  *
  *  - distinct (tx, funder) pairs ≤ [[ChainOps.BroadcastMaxRows]]: the one
  *    probe that proves it collects them (the exact transfer a
  *    BroadcastExchange performs), and hubs, star edges and union-find all
  *    run on the driver — one pass instead of a distributed derivation
  *    ladder plus GraphX's ~6 jobs of fixed Pregel stage latency, which
  *    dominate end-to-end time whenever the co-spend graph is small (it
  *    usually is: vertices are DISTINCT co-spending addresses, orders of
  *    magnitude fewer than events).
  *  - above it: the edge derivation (distincts + hub join) runs
  *    distributed, and the components step routes on the materialized edge
  *    count — union-find over the collected edges when they fit, else
  *    GraphX `connectedComponents`: O(diameter) supersteps of
  *    partition-local message passing, the scalable form of the
  *    reference's per-vertex traversals.
  *
  * Both routes label each component with its MIN address; GraphSpec gates
  * route equality on a forced-envelope fixture.
  */
object WalletCluster {

  /** Stored-row floor below which [[repairAfterReorg]] always takes the
    * recompute-diff route — see its route-economics note for the
    * calibration against the archived 1×/10×/30× rehearsal scales.
    */
  val ContractionMinStoreRows: Long = 500000L

  /** The route a [[repairAfterReorg]] call took, returned with its rows. */
  sealed abstract class RepairRoute(val name: String)
  object RepairRoute {
    /** No stored component lost an edge: nothing to repair. */
    case object Noop extends RepairRoute("noop")
    /** Driver-sized store: one recompute, diffed in memory. */
    case object Replace extends RepairRoute("replace")
    /** Affected components span most of the store: recompute and diff. */
    case object Mass extends RepairRoute("mass")
    /** Re-cluster only the affected components, contracted. */
    case object Contraction extends RepairRoute("contraction")
  }

  /** Where [[repairAfterReorg]]'s replace route takes the post-reorg
    * co-spend edges from.
    */
  sealed trait EdgeSource
  object EdgeSource {
    /** Collect the post-reorg chain's funding pairs (`bestFunders`) and
      * build its star edges again: O(chain).
      */
    case object Rederive extends EdgeSource
    /** The multiset of the chain up to an earlier tip T0 on the prior chain,
      * moved to the post-reorg chain: minus the star edges of `retract` (the
      * funding pairs of the blocks under T0 that left the chain), plus those
      * of `add` (the pairs of the blocks that joined it after T0, arrivals
      * included). O(reorg depth + the blocks between T0 and the anchor).
      */
    final case class Stored(edges: Edges, retract: DataFrame, add: DataFrame)
        extends EdgeSource
  }

  /** The post-reorg star-edge multiset a replace repair built on the driver:
    * `stored` = it moved the [[EdgeSource.Stored]] multiset, else it
    * re-derived the edges from the whole chain's pairs.
    */
  final case class PostEdges(edges: Edges, stored: Boolean)

  /** `edges` minus `retract` plus `add`, keeping the edges still given by
    * at least one transaction.
    */
  private def moveEdges(edges: Edges, retract: Edges, add: Edges): Edges = {
    val m = scala.collection.mutable.HashMap.from(edges)
    retract.foreach { case (e, n) => m(e) = m.getOrElse(e, 0L) - n }
    add.foreach { case (e, n) => m(e) = m.getOrElse(e, 0L) + n }
    m.iterator.filter(_._2 > 0).toMap
  }

  private val LabelSchema = StructType(Seq(
    StructField("address", StringType), StructField("wallet_id", StringType)))

  /** (address, wallet_id) rows on the driver as a frame. */
  private def labelFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Iterable[(String, String)]): DataFrame =
    ChainOps.driverFrame(spark,
      rows.iterator.map { case (a, w) => Row(a, w) }.toSeq, LabelSchema)

  /** The (tx, address) rows of `pairs` when at most `envelope` of them exist
    * — one early-terminating probe; None above the envelope.
    */
  private def collectPairs(pairs: DataFrame, envelope: Int): Option[Array[(String, String)]] = {
    val rows = pairs.limit(envelope + 1).collect()
    if (rows.length > envelope) None
    else Some(rows.map(r => (r.getString(0), r.getString(1))))
  }

  /** A chain's co-spend star edges on the driver, as a multiset:
    * (funder, hub) → the number of the chain's transactions giving that edge,
    * where a transaction's hub is its min funder. Only the keys matter for
    * the components; the counts let a reorg retract a branch's edges
    * ([[EdgeSource.Stored]]).
    */
  type Edges = Map[(String, String), Long]

  /** The star-edge multiset of collected distinct (tx, address) pairs. A
    * null tx or null address adds no edge, as in the distributed derivation
    * (its hub join and `=!=` drop them).
    */
  private[graft] def starEdges(pairs: Iterable[(String, String)]): Edges = {
    val kept = pairs.filter { case (t, a) => t != null && a != null }
    val hub = kept.groupMapReduce(_._1)(_._2)((x, y) => if (x < y) x else y)
    kept.iterator.collect { case (t, a) if a != hub(t) => (a, hub(t)) }
      .toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
  }

  /** Component labels of a star-edge multiset: every address on an edge
    * maps to its component's min address; an address on no edge is absent
    * (a singleton).
    */
  private def labelsOf(edges: Edges): Map[String, String] =
    UnionFind.components(edges.keysIterator)

  /** @param addresses  one-column DF of the full address universe
    * @param txFunders  (tx_hash, src_address) distinct funding pairs
    * @return (address, wallet_id) where wallet_id = min address in the
    *         component (stable, engine-independent label)
    */
  def clusters(addresses: DataFrame, txFunders: DataFrame): DataFrame =
    clustered(addresses, txFunders)._1

  /** [[clusters]], and the star-edge multiset when the funding pairs fit the
    * driver envelope (the route that collects them); None above it.
    */
  private[graft] def clustered(
      addresses: DataFrame, txFunders: DataFrame): (DataFrame, Option[Edges]) = {
    val spark = addresses.sparkSession
    import spark.implicits._

    val universe = addresses.select(col(addresses.columns.head).as("address")).distinct()
    val funders = txFunders.select(col("tx_hash"), col("src_address").as("address")).distinct()
    // Funder-only vertices: every other address is a singleton by
    // construction and labels itself via the final left join.
    def labelled(labels: Map[String, String]): DataFrame =
      universe
        .join(broadcast(labelFrame(spark, labels)), Seq("address"), "left")
        .select(col("address"), coalesce(col("wallet_id"), col("address")).as("wallet_id"))
    val envelope = ChainOps.driverEnvelope
    // Envelope route, decided on the pairs actually collected (there are
    // at least as many pairs as star edges, so the edges fit too).
    collectPairs(funders, envelope) match {
      case Some(pairs) =>
        route(RouteDecision("clustered", "envelope", pairs.length, envelope, "pairs fit"))
        val edges = starEdges(pairs)
        return (labelled(labelsOf(edges)), Some(edges))
      case None =>
    }
    // Star per tx around the MIN funder address (any fixed hub keeps the
    // same components; min-address makes every route derivable from the
    // same table).
    val hub = funders.groupBy("tx_hash").agg(min("address").as("hub"))
    val edgeRows = funders.join(hub, "tx_hash")
      .where(col("address") =!= col("hub"))
      .select(col("address").as("src"), col("hub").as("dst"))
      .distinct()
    // Materialize ONCE: the route decision needs the count (returned by the
    // same pass), and both routes re-read the edges (collect / vid joins +
    // GraphX's internal scans).
    val (edgeDf, edgeRdd, nEdges) = ChainOps.rebaseCounted(edgeRows)

    if (nEdges <= envelope) {
      route(RouteDecision("clustered", "union-find", nEdges, envelope, "edges fit"))
      val labels = UnionFind.components(
        edgeDf.collect().iterator.map(r => (r.getString(0), r.getString(1))))
      edgeRdd.unpersist(blocking = false)
      return (labelled(labels), None)
    }
    route(RouteDecision("clustered", "graphx", nEdges, envelope, "edges do not fit"))

    // Dense unique vertex ids (no hash-collision risk at 100 TB); the edge
    // joins AND the graph's vertex set read the one pinned assignment.
    val dict = VertexDictionary.build(funders.select("address"))
    val edgeVids = Seq("src", "dst").foldLeft(edgeDf)((df, c) => dict.encode(df, c))
    val edges = edgeVids.rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph(dict.frame.select("vid").rdd.map(r => (r.getLong(0), ())), edges)
    val ccGraph = graph.connectedComponents()
    val cc = ccGraph.vertices.toDF("address", "cc")

    val labeled = dict.decode(cc, "address")
    val walletLabel = labeled.groupBy("cc").agg(min("address").as("wallet_id"))
    val out = universe
      .join(labeled.join(walletLabel, "cc").select("address", "wallet_id"),
        Seq("address"), "left")
      .select(col("address"), coalesce(col("wallet_id"), col("address")).as("wallet_id"))
    // Materialize (pinned to the caller's scope), then drop every piece of
    // GraphX state (Pregel leaves its final graph cached).
    val (outDf, _) = ChainOps.rebase(out)
    ccGraph.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    dict.unpersist()
    edgeRdd.unpersist(blocking = false)
    (outDf, None)
  }

  /** INCREMENTAL wallet clustering — the chain-side member of the engine's
    * O(new)-against-history family: a day's new transactions update the
    * stored labeling without re-clustering the address universe. The
    * standard contraction trick: each stored component is already
    * represented by its label, so the batch's funders are mapped through
    * `oldLabels` (unseen addresses map to themselves) and [[clusters]] runs
    * on the CONTRACTED graph — vertices are the touched labels plus the
    * batch's new addresses, never the universe. Because stored labels are
    * component MINIMA, composition preserves the invariant: the contracted
    * component's min over {old labels, new addresses} IS the merged
    * component's min member, so incremental-then-upsert equals a full
    * recompute exactly (property-gated against [[clusters]] on the unioned
    * history).
    *
    * @param oldLabels  the stored labeling — (address, wallet_id)
    * @param newFunders (tx_hash, src_address) funding pairs of the NEW
    *                   batch only
    * @return the DELTA: (address, wallet_id) ONLY for addresses whose
    *         stored row must change — new addresses, plus members of
    *         stored clusters merged by the batch. Upsert into the stored
    *         labeling; an empty batch yields an empty delta.
    */
  def incrementalClusters(oldLabels: DataFrame, newFunders: DataFrame): DataFrame = {
    val old = oldLabels.select(col("address"), col("wallet_id"))
    // Envelope route: the batch's pairs fit the driver, so the contraction,
    // its star edges and union-find run there; the store is read by one
    // broadcast semi-join for the batch addresses' labels, and once more
    // for the members of labels that moved. Same delta as below.
    val envelope = ChainOps.driverEnvelope
    phase("funder collect")(collectPairs(
        newFunders.select(col("tx_hash"), col("src_address")).distinct(), envelope)) match {
      case Some(pairs) =>
        route(RouteDecision("incrementalClusters", "envelope", pairs.length, envelope, "pairs fit"))
        return phase("clustering")(incrementalInMemory(old, pairs))
      case None =>
        route(RouteDecision("incrementalClusters", "distributed", envelope + 1L, envelope, "pairs do not fit"))
    }
    // Both frames below are BATCH-grain (the day's funding pairs and their
    // contraction — never the store or the chain) and each is consumed
    // several times by the nested clustering (distincts, the hub self-join,
    // the node universe, the two output joins): materialize each ONCE.
    // Lineage roots in the immutable bronze/batch source, so the eager
    // local checkpoint risks nothing a batch retry wouldn't recover —
    // measured 2× on the catch-up drain's middle batches left lazy.
    val funders = ChainOps.localCheckpoint(newFunders
      .select(col("tx_hash"), col("src_address").as("address")).distinct())
    // contract: funder → its stored component label (itself when unseen)
    val contracted = ChainOps.localCheckpoint(funders.join(old, Seq("address"), "left")
      .select(col("tx_hash"),
        coalesce(col("wallet_id"), col("address")).as("src_address"))
      .distinct())
    val nodes = contracted.select(col("src_address").as("address")).distinct()
    // (contracted node → merged-component label); routing, star edges and
    // cache discipline are clusters' own
    val relabel = clusters(nodes, contracted)
      .select(col("address").as("node"), col("wallet_id").as("new_id"))

    // members of stored clusters whose label moves
    val movedLabels = relabel.where(col("node") =!= col("new_id"))
    val movedMembers = old
      .join(movedLabels, old("wallet_id") === movedLabels("node"))
      .select(col("address"), col("new_id").as("wallet_id"))
    // batch addresses not stored yet (insert, merged label or self)
    val newAddrs = funders.select("address").distinct()
      .join(old.select("address"), Seq("address"), "left_anti")
    val newRows = newAddrs
      .join(relabel, newAddrs("address") === relabel("node"), "left")
      .select(col("address"),
        coalesce(col("new_id"), col("address")).as("wallet_id"))
    movedMembers.unionByName(newRows)
  }

  /** [[incrementalClusters]] over collected batch pairs. Null addresses
    * follow the distributed path: contracted to themselves, on no edge, and
    * emitted as a (null, null) new-address row.
    */
  private def incrementalInMemory(
      old: DataFrame, pairs: Array[(String, String)]): DataFrame = {
    val spark = old.sparkSession
    val addrs = pairs.iterator.map(_._2).toSet
    // stored label of every batch address already in the store
    val known = addrs.filter(_ != null)
    val stored: Map[String, String] =
      if (known.isEmpty) Map.empty
      else old.join(broadcast(ChainOps.driverFrame(spark,
          known.toSeq.map(Row(_)), StructType(Seq(LabelSchema("address"))))),
          Seq("address"), "left_semi")
        .collect().iterator.map(r => r.getString(0) -> r.getString(1)).toMap
    def node(a: String): String = if (a == null) null else stored.getOrElse(a, a)
    val relabel = labelsOf(starEdges(
      pairs.iterator.map { case (t, a) => (t, node(a)) }.toSeq.distinct))
    // contracted nodes whose label moved; stored labels among them carry
    // their stored members along
    val moved = relabel.filter { case (n, w) => n != w }
    val movedMembers: Seq[(String, String)] =
      if (moved.isEmpty) Nil
      else old.join(broadcast(labelFrame(spark, moved)
            .select(col("address").as("node"), col("wallet_id").as("new_id"))),
          old("wallet_id") === col("node"))
        .select(col("address"), col("new_id")).collect().toSeq
        .map(r => (r.getString(0), r.getString(1)))
    val newRows = (addrs -- stored.keySet).toSeq.map(a =>
      (a, if (a == null) null else relabel.getOrElse(a, a)))
    labelFrame(spark, movedMembers ++ newRows)
  }

  /** REORG repair for the stored labeling — the retraction half of
    * [[incrementalClusters]], completing the one derived property the
    * reference never finished (`AddressWalletID`, TransactionGraph.java:137)
    * with the delete-path semantics it wrote for every aggregate it DID
    * finish (BlockchainToGraph.java:568–777). Co-spend merges are monotone,
    * so a reorg that drops the merging transaction can SPLIT a stored
    * component; no edge-level inverse exists, and the repair mirrors the
    * gold sink's contract instead: derive the affected set from the reorged
    * range, recompute exactly that set from best-chain bronze, leave
    * everything else untouched.
    *
    *  1. affected components = stored labels of the invalidated txs'
    *     funders (every component containing a removed edge; no other
    *     component can split, because its internal edges are all intact).
    *  2. their members' co-spend edges are re-derived from `bestFunders`
    *     restricted to member-funded txs — including new-branch txs, so a
    *     replacement block re-mining the same tx re-creates the edge.
    *  3. funders of those txs OUTSIDE the affected set join the re-cluster
    *     CONTRACTED through their stored label (their components cannot
    *     split; min-label composition keeps the merged min exact, as in
    *     [[incrementalClusters]]).
    *
    * Cost: the components step is O(affected members + their txs); the one
    * corpus-sized input, `bestFunders`, is consumed through semi-joins that
    * push down to the bronze scan — the same rare-path bronze read the
    * partitioned gold sink's reorg recompute performs.
    *
    * Txs present ONLY in the replacement blocks and funded entirely by
    * unaffected addresses are ordinary NEW transactions. The replace route
    * handles them too: it clusters the post-reorg chain's whole edge set,
    * so its output alone equals a full recompute of that chain, new
    * addresses included. The noop, mass and contraction routes do not: feed
    * those txs through [[incrementalClusters]] after them (the property
    * suite gates both compositions against a full recompute of the
    * post-reorg chain).
    *
    * THE REPLACE ROUTE'S EDGES come from `source`. [[EdgeSource.Stored]]
    * moves the multiset of an earlier tip on the prior chain by two
    * lookups of O(reorg depth + lag) blocks, then runs union-find over the
    * edges still given by a transaction: a tip_follow reorg at 1× looks up
    * ~300 blocks (~1k pairs) and clusters ~6.8k edges, where
    * [[EdgeSource.Rederive]] collects the post-reorg chain's ~231k funding
    * pairs (1–2 s more per reorg). Rederive is the route when no trusted
    * multiset exists; it skips the work when no invalidated block carries a
    * funder (the noop probe), which the stored route does not need. Either
    * source returns the post-reorg multiset it built, for the caller to
    * store; the re-derived one only when the pairs fit the driver.
    *
    * ROUTE ECONOMICS: the contraction route is O(affected) in DATA but pays
    * a fixed ladder of ~10 jobs (affected probe, member materialization,
    * contraction joins, the nested clustering); the recompute-diff route
    * re-clusters the whole post-reorg chain and diffs the store — O(store)
    * data, fewer jobs. Measured route-vs-route on the many-small-components
    * rehearsal corpus (0.5% of wallets affected, bench/rehearsal_r15.json):
    * at a 100k-row store the recompute-diff route wins ~5.1 s vs ~5.8 s; at
    * 1M contraction wins ~14–16 s vs ~23.7 s, and at 3M it wins ~15.0 s vs
    * ~25.9 s — the fixed job ladder amortizes where the store crosses a few
    * hundred thousand rows. Below [[ContractionMinStoreRows]] the router
    * goes one step further: the store is driver-sized by the same bound, so
    * the REPLACE route collects it, recomputes the post-reorg clustering
    * once and diffs in memory — no store joins at all, repair ≈ the full
    * recompute plus two tiny collects (r15's small-store premium was the
    * distributed diff machinery itself). Above the floor the member
    * fraction picks mass vs contraction; `contractionMinStore` overrides
    * the floor (0 forces the distributed routes — the spec fixtures pin the
    * contraction route's output shape that way).
    *
    * @param oldLabels    the stored labeling — (address, wallet_id), built
    *                     on the pre-reorg best chain
    * @param invalidated  (tx_hash, src_address) funding pairs of the
    *                     reorged-OUT blocks (the edges being retracted)
    * @param bestFunders  (tx_hash, src_address) funding pairs of the
    *                     current post-reorg best chain
    * @param contractionMinStore stored-row floor below which the
    *                     recompute-diff route is always taken
    * @param source       where the replace route's edges come from;
    *                     `invalidated` and `bestFunders` are by-name, and
    *                     a replace route on a stored multiset reads neither
    * @return the MINIMAL change set on every route, the route taken, and
    *         the replace route's post-reorg multiset when it built one on
    *         the driver. The change set:
    *         (address, wallet_id) only for stored addresses whose label
    *         differs from `oldLabels` — split members that re-label, and
    *         members of unaffected components whose label moves through a
    *         merge. New addresses are never emitted, except on the replace
    *         route: there every post-reorg funder address missing from the
    *         store is emitted with its label (a null funder as (null,
    *         null); on a stored multiset, a null funder of an added block).
    *         Upsert into the store; a row equal to its stored label
    *         is never emitted. A member address absent from the post-reorg
    *         chain re-labels to itself — semantically a one-address wallet;
    *         the next full recompute drops it with the rest of the vanished
    *         universe.
    */
  def repairAfterReorg(
      oldLabels: DataFrame, invalidated: => DataFrame,
      bestFunders: => DataFrame,
      contractionMinStore: Long = ContractionMinStoreRows,
      source: EdgeSource = EdgeSource.Rederive)
      : (DataFrame, RepairRoute, Option[PostEdges]) = {
    val old = oldLabels.select(col("address"), col("wallet_id"))
    // REPLACE route — store below the economics floor: the store bounds the
    // universe (up to the replacement branch's new addresses), so the whole
    // labeling is driver-sized BY THE SAME BOUND that routes here, and the
    // diff that costs a store-join ladder at scale is a hash-map pass. Cost
    // = ONE clustering of the post-reorg edges + two driver-sized collects.
    // Output: genuinely changed rows, vanished affected members
    // self-labeled, and the post-reorg chain's new addresses with their
    // labels.
    //
    // ONE bounded probe answers the routing question AND (on the replace
    // path) IS the store snapshot the diff needs: collecting up to
    // min(floor, driver-cap + 1) rows tells us whether the store fits under
    // BOTH bounds, and when it does the probe already holds every row. A
    // store at or above the probe cap routes distributed and pays its exact
    // count there (the mass/contraction decision needs it; at that scale a
    // parquet-backed count is metadata-cheap).
    val driverCap = ChainOps.driverEnvelope
    val probeCap = math.min(contractionMinStore, driverCap + 1L).toInt
    val storedProbe = phase("store probe")(
      if (probeCap > 0) old.limit(probeCap).collect() else Array.empty[org.apache.spark.sql.Row])
    // Replace route iff the probe returned the WHOLE store strictly under
    // its cap: nStored = probe length < min(floor, cap+1) implies both
    // belowFloor and the driver bound. The hard driver bound stays separate
    // from the economics floor: callers force routes by moving the floor
    // (0 = contraction, MaxValue = mass), and a forced-mass call on a
    // multi-million-row store must stay distributed — this route only ever
    // collects what a broadcast would ship.
    if (probeCap > 0 && storedProbe.length < probeCap) {
      val spark = oldLabels.sparkSession
      import spark.implicits._
      val storedRows = storedProbe.map(r => (r.getString(0), r.getString(1)))
      // The diff reads fresh labels at STORED addresses (changed members
      // re-label, vanished members self-label) and at every post-reorg
      // funder address the store lacks — the replacement branch's new
      // addresses, which get their label from the same clustering, so the
      // caller needs no incremental pass over the arrivals. A null funder
      // is never stored: it gives the distributed path's (null, null) row.
      // No presence pass for stored addresses: one with NO kept co-spend
      // edge emits (a, a) when its label moved whether it is a kept
      // SINGLETON (fresh label = itself) or VANISHED from the post-reorg
      // chain (self-labeled by the output contract) — the two cases produce
      // the same row.
      val storedAddrs = storedRows.iterator.map(_._1).filter(_ != null).toSet
      def storedFrame = broadcast(storedAddrs.toSeq.toDF("address"))
      def isNew(a: String) = a == null || !storedAddrs.contains(a)
      // fresh labels of the driver-side edges, and the rows of the new
      // funder addresses among `pairs`
      def onDriver(edges: Edges, pairs: Array[(String, String)]) = {
        val labels = labelsOf(edges)
        val at = (a: String) => if (a == null) null else labels.getOrElse(a, a)
        (at, labelFrame(spark, pairs.iterator.map(_._2).filter(isNew).toSet.map(
          (a: String) => (a, at(a)))))
      }
      // distinct on the driver: a lookup's pairs are O(depth)
      def distinctPairs(df: DataFrame) =
        collectPairs(df.select(col("tx_hash"), col("src_address")), driverCap).map(_.distinct)
      // The STORED source: the multiset moved to the post-reorg chain by its
      // two O(depth + lag) lookups — no read of the whole chain. Every new
      // address funds an added pair (the prior chain's funders are all
      // stored). Lookups past the envelope re-derive instead.
      val moved = source match {
        case EdgeSource.Stored(edges, retract, add) =>
          for (r <- phase("retract lookup")(distinctPairs(retract));
               a <- phase("add lookup")(distinctPairs(add)))
            yield (moveEdges(edges, starEdges(r), starEdges(a)), a)
        case EdgeSource.Rederive => None
      }
      val (freshAt, newRows, post): (String => String, DataFrame, Option[PostEdges]) =
        moved match {
          case Some((edges, added)) =>
            val (at, rows) = phase("union-find")(onDriver(edges, added))
            (at, rows, Some(PostEdges(edges, stored = true)))
          case None =>
            // No-op pre-route as a LIMIT-1 probe, not a full derivation: a
            // reorg whose invalidated blocks carry no funders splits nothing,
            // and the recompute below is O(chain). The moved multiset needs
            // no such gate: its cost is the lookups it already paid.
            if (invalidated.isEmpty) return (old.where(lit(false)), RepairRoute.Noop, None)
            val fu = bestFunders.select(col("tx_hash"), col("src_address").as("address"))
              .distinct()
            // REDERIVED: collect the post-reorg chain's distinct funding
            // pairs when they fit (hubs, star edges and union-find then run on
            // the driver, as in clusters' envelope route), else the
            // distributed edge list; beyond that, the distributed clustering,
            // whose rows at stored addresses are collected (≤ nStored) — a
            // post-reorg funder universe that dwarfs the store, the
            // ADVICE-flagged hazard, never reaches the driver.
            phase("chain pairs")(collectPairs(fu, driverCap)) match {
              case Some(pairs) =>
                val edges = starEdges(pairs)
                val (at, rows) = phase("union-find")(onDriver(edges, pairs))
                (at, rows, Some(PostEdges(edges, stored = false)))
              case None =>
                val hubs = fu.groupBy("tx_hash").agg(min("address").as("hub"))
                val edgeRows = fu.join(hubs, "tx_hash")
                  .where(col("address") =!= col("hub"))
                  .select(col("address").as("src"), col("hub").as("dst"))
                  .distinct()
                val (edgeDf, edgeRdd, nEdges) = ChainOps.rebaseCounted(edgeRows)
                // new addresses are found distributed on both arms below: the
                // post-reorg universe may dwarf the driver envelope
                val newAddrs = fu.select("address").distinct()
                  .join(storedFrame, Seq("address"), "left_anti")
                if (nEdges <= driverCap) {
                  val labels = UnionFind.components(
                    edgeDf.collect().iterator.map(r => (r.getString(0), r.getString(1))))
                  edgeRdd.unpersist(blocking = false)
                  ((a: String) => labels.getOrElse(a, a),
                    newAddrs.join(broadcast(labelFrame(spark, labels)), Seq("address"), "left")
                      .select(col("address"), coalesce(col("wallet_id"), col("address")).as("wallet_id")),
                    None)
                } else {
                  // co-spend edges outgrew the driver envelope under a tiny
                  // store (pathologically dense corpus): distributed
                  // clustering. An address absent from its stored-address rows
                  // (vanished) self-labels — same rule as the in-memory arms.
                  edgeRdd.unpersist(blocking = false)
                  val fresh = clusters( // clusters distincts both inputs itself
                    fu.select("address"),
                    fu.select(col("tx_hash"), col("address").as("src_address")))
                  val m = fresh.join(storedFrame, Seq("address"), "left_semi").collect()
                    .iterator.map(r => r.getString(0) -> r.getString(1)).toMap
                  ((a: String) => m.getOrElse(a, a),
                    fresh.join(newAddrs, Seq("address"), "left_semi")
                      .unionByName(newAddrs.where(col("address").isNull)
                        .select(col("address"), col("address").as("wallet_id"))),
                    None)
                }
            }
        }
      // same emission rule as the mass route's diff join, as a map pass:
      // changed labels (including unaffected components merged by
      // replacement-branch edges), and vanished members singleton. A
      // vanished stored member is PROVABLY affected — its every pre-reorg
      // funding pair must have been in the retracted blocks, or it would
      // still appear post-reorg — so no affected-set test is needed (and
      // already-singleton rows skip on nw == w).
      val out = phase("label diff")(storedRows.iterator.flatMap { case (a, w) =>
        val nw = freshAt(a)
        if (nw != w) Some((a, nw)) else None
      }.toSeq)
      return (labelFrame(spark, out).unionByName(newRows), RepairRoute.Replace, post)
    }
    val invAddrs = invalidated.select(col("src_address").as("address")).distinct()
    // the probe said "not driver-sized": the distributed routes need the
    // exact count (mass-vs-contraction compares member fraction to it)
    val nStored = old.count()
    val belowFloor = nStored < contractionMinStore
    // 1. components with >=1 retracted edge — materialized ONCE: the set is
    // LABEL-grain (small on every route — a handful of labels on the
    // giant-component mass case, one per touched wallet on the shallow
    // case), but its derivation nests a store-scan semi-join, and every
    // consumer below (the no-op pre-route, the member-count route decision,
    // and the chosen route's plan) would otherwise re-pay that scan inside
    // its own. The count rides the materialization pass and IS the no-op
    // pre-route: a reorg whose invalidated blocks carry no funders (empty
    // blocks), or whose funders never reached the store, cannot split or
    // merge anything — and concluding emptiness costs the full semi-join
    // scan whether probed lazily or materialized.
    val (affected, affectedRdd, nAffected) = ChainOps.rebaseCounted(
      old.join(invAddrs, Seq("address"), "left_semi")
        .select(col("wallet_id")).distinct())
    try {
      if (nAffected == 0) return (old.where(lit(false)), RepairRoute.Noop, None)
      // NOT distinct'ed here: a corpus-wide distinct is a full shuffle per
      // consumer, and every consumer below either semi-joins bf down to the
      // affected neighborhood first (then distincts the small result) or—on
      // the mass route—feeds clusters, which distincts its input itself.
      val bf = bestFunders
        .select(col("tx_hash"), col("src_address").as("address"))
      // Count-only route decision: on the mass route the member set is
      // store-sized and read nowhere below, so persisting it (as the
      // contraction route must — it reads the set several times) is pure
      // cache churn at exactly the scale where churn hurts. The contraction
      // route re-derives the set once under a persist; one extra store-scan
      // semi-join on the SMALL-affected path buys never caching a store-sized
      // relation on the giant-component path. Members carry their stored
      // label, so the contraction route drops unchanged rows without a join.
      val memberSet = old.join(affected, Seq("wallet_id"), "left_semi")
      // belowFloor already decides the route — skip the member-count probe
      // (it was a fifth of the whole repair on the small-store path)
      val nMembers = if (belowFloor) 0L else memberSet.count()
      // MASS-reorg route: when the affected components span most of the
      // store (one giant co-spend component is common on dense corpora),
      // the contraction machinery below re-clusters nearly everything
      // anyway and its derivation joins make it SLOWER than the recompute
      // it exists to avoid (measured 4× at corpus scale). Recompute the
      // best-chain labeling once and diff against the store — same output
      // contract, cost capped at one full clustering. belowFloor forces this
      // route when a caller pinned the floor above a store too large for the
      // driver-side replace route (the leg that measures the mass
      // alternative does exactly that).
      if (belowFloor || nMembers * 2 >= nStored) {
        // the recompute consumes bf ~4× (universe distinct, funder distinct,
        // hub self-join, the final label join) — materialize it ONCE, pinned
        // to the caller's scope because the route's output is lazy. The
        // contraction route deliberately does NOT do this: its consumers
        // are semi-joins that push down to the source scan, and a corpus-
        // sized persist on the O(affected) path is exactly the cache churn
        // the route exists to avoid.
        val (bfM, _) = ChainOps.rebase(bf, StorageLevel.MEMORY_AND_DISK_SER)
        val fresh = clusters( // clusters distincts both inputs itself
            bfM.select("address"),
            bfM.select(col("tx_hash"), col("address").as("src_address")))
          .select(col("address"), col("wallet_id").as("new_id"))
        // ONE pass over the store consuming fresh ONCE (the in-memory
        // clusters route returns an unmaterialized corpus-distinct + broadcast
        // join — a second consumer re-pays that whole subtree): label moves
        // (including unaffected components merged by replacement-branch
        // edges) and vanished affected members (absent from the post-reorg
        // chain: singleton themselves) fall out of the same left join. The
        // affected-label marker joins on wallet_id — label-grain, AQE
        // broadcasts it when small (the common giant-component case).
        return (old
          .join(affected.withColumn("_aff", lit(true)), Seq("wallet_id"), "left")
          .join(fresh, Seq("address"), "left")
          .where((col("new_id").isNotNull && col("new_id") =!= col("wallet_id")) ||
            (col("new_id").isNull && col("_aff").isNotNull &&
              col("wallet_id") =!= col("address")))
          .select(col("address"), coalesce(col("new_id"), col("address")).as("wallet_id")),
          RepairRoute.Mass, None)
      }
      // Materialized here (and only here): every contraction step below reads
      // the member set at least once.
      val (members, membersRdd) = ChainOps.rebase(memberSet)
      try {
        // 2. every best-chain tx a member funds, and ALL funders of those txs
        val relevantTxs = bf.join(members, Seq("address"), "left_semi")
          .select("tx_hash").distinct()
        val relevantPairs = bf.join(relevantTxs, Seq("tx_hash"), "left_semi")
        // 3. members stay raw nodes; outside funders contract to their stored
        //    label (or themselves when unseen — a brand-new replacement-branch
        //    address)
        // Materialized ONCE: clusters() consumes its input through several
        // distincts/joins and every one would otherwise re-evaluate the whole
        // derivation above — including the corpus-sized bf semi-joins — ~5×
        // (measured: 9 s of a 19 s repair on a 1M-address store). The
        // contracted graph itself is affected-sized, so the rebase is tiny.
        val (contractedDf, contractedRdd) = ChainOps.rebase(relevantPairs
          .join(members.select(col("address"), lit(true).as("_member")),
            Seq("address"), "left")
          .join(old, Seq("address"), "left")
          .select(col("tx_hash"),
            when(col("_member").isNotNull, col("address"))
              .otherwise(coalesce(col("wallet_id"), col("address")))
              .as("src_address"))
          .distinct())
        try {
          // membership-only members (all their edges were retracted) cluster
          // as singletons via the node universe
          val nodes = contractedDf.select(col("src_address").as("address"))
            .unionByName(members.select("address")).distinct()
          val relabel = clusters(nodes, contractedDf)
            .select(col("address").as("node"), col("wallet_id").as("new_id"))

          // members whose fresh label equals the stored one are no change
          val memberRows = members
            .join(relabel, members("address") === relabel("node"))
            .where(col("new_id") =!= col("wallet_id"))
            .select(col("address"), col("new_id").as("wallet_id"))
          // unaffected components pulled into a merge: node was a stored LABEL
          // (not a member address) and its id moved — relabel all its members,
          // exactly incrementalClusters' moved-label step
          val movedLabels = relabel
            .where(col("node") =!= col("new_id"))
            .join(members, relabel("node") === members("address"), "left_anti")
          val movedMembers = old
            .join(movedLabels, old("wallet_id") === movedLabels("node"))
            .select(col("address"), col("new_id").as("wallet_id"))
          // Collected by every caller before the register is reused; the
          // member set is small (affected components only) on this route.
          (memberRows.unionByName(movedMembers), RepairRoute.Contraction, None)
        } finally { contractedRdd.unpersist(blocking = false); () }
      } finally { membersRdd.unpersist(blocking = false); () }
    } finally { affectedRdd.unpersist(blocking = false); () }
  }
}
