package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.{Scope, Telemetry}
import graft.operators.ChainOps
import graft.sinks.{Hfs, PartitionedGold, StoreManifest}

/** Structured Streaming path (SURVEY.md §2.9) — the Spark-native form of the
  * reference's `synchronizeDatabase` loop (BlockchainToGraph.java:116–167):
  *
  *  - T1 unbounded ingest: any readStream source of block rows
  *  - T2 out-of-order arrival: `withWatermark` replaces the fixed 1,126-block
  *    reorder buffer (BlockchainToGraph.java:34–35, 387–425)
  *  - T3 stateful dedupe: `dropDuplicatesWithinWatermark` replaces the
  *    "already in database" probes (BlockchainToGraph.java:449–456)
  *  - T4 reorg: foreachBatch recomputes affected height partitions from
  *    immutable bronze — deterministic overwrite, no hand-written inverse of
  *    every aggregate (vs BlockchainToGraph.java:568–777)
  *  - T5 exactly-once resume: checkpointLocation + idempotent partition
  *    overwrite replaces the genesis-walk recovery (BlockchainToGraph.java:38–49)
  */
object ChainStream {

  /** Parse `bitcoind`-style log lines into UpdateTip events — the reference's
    * stream filter + extract (S4, BlockchainToGraph.java:128–156) as
    * declarative column ops (fully codegen'd, no driver-side string loop).
    * Input: one string column `line`. Output: (hash, height).
    */
  def parseUpdateTips(lines: DataFrame): DataFrame =
    lines
      .filter(col("line").contains("UpdateTip: new best="))
      .select(
        regexp_extract(col("line"), "new best=([0-9a-fA-F]+)", 1).as("hash"),
        regexp_extract(col("line"), "height=(\\d+)", 1).cast("int").as("height"))
      .filter(col("hash") =!= "" && col("height").isNotNull)

  /** Watermarked dedupe of streaming block rows (T2+T3). `eventTimeCol` must
    * be a timestamp column; `delay` bounds how out-of-order a block may
    * arrive and still be accepted — the configurable form of the reference's
    * hard-coded 1,126-block buffer.
    */
  def dedupedBlocks(blocks: DataFrame, eventTimeCol: String, delay: String): DataFrame =
    blocks
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(Seq("hash"))

  /** Incremental gold maintenance (T4/T5): every micro-batch appends to the
    * bronze store and recomputes gold FROM BRONZE, overwriting the gold
    * table wholesale (reorg-safe: a fork block arriving late simply causes
    * the recompute to see the new best chain). Write amplification is
    * O(gold) per batch — fine while gold is an aggregate table; for
    * history-sized gold use [[incrementalGoldPartitioned]], whose sink
    * rewrites only the height buckets that changed.
    *
    * @param newBlocks   streaming DataFrame of block rows
    * @param bronzeDir   append-only bronze parquet path
    * @param recompute   (spark, bronzeDf) => gold DataFrame; called per batch
    * @param goldDir     overwritten gold parquet path
    */
  def incrementalGold(
      newBlocks: DataFrame,
      bronzeDir: String,
      recompute: (SparkSession, DataFrame) => DataFrame,
      goldDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    appendThenRecompute(newBlocks, bronzeDir, recompute, checkpointDir, trigger)(
      _.write.mode("overwrite").parquet(goldDir))

  /** [[incrementalGold]] with an O(changed) sink: gold must carry a `height`
    * column, is stored height-bucket-partitioned, and each micro-batch
    * overwrites only the buckets whose content changed
    * ([[graft.sinks.PartitionedGold.syncAffected]]) — a tip-extending batch
    * rewrites one bucket, a depth-d reorg rewrites ⌈d/bucketSize⌉, and the
    * untouched history's files stay byte-identical. This is the streaming
    * form of "reorg = recompute the affected height range" (T4) with the
    * recompute kept a pure function of bronze (T5 idempotence: a replayed
    * batch produces identical bucket signatures and writes nothing).
    */
  def incrementalGoldPartitioned(
      newBlocks: DataFrame,
      bronzeDir: String,
      recompute: (SparkSession, DataFrame) => DataFrame,
      goldDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      bucketSize: Int = 10000): DataStreamWriter[Row] =
    appendThenRecompute(newBlocks, bronzeDir, recompute, checkpointDir, trigger)(
      PartitionedGold.syncAffected(_, goldDir, "height", bucketSize))

  /** The micro-batch body both gold writers share: append the batch to
    * bronze, re-read bronze, collapse replayed appends, recompute gold and
    * hand it to `sink`. Idempotent: recompute is a pure function of bronze,
    * so replaying a batch after a crash converges to the same gold state.
    * Bronze is read with the schema that wrote it — the batch's — so the
    * read starts no schema-inference job. The body runs in its own scope
    * (as [[walletLabelsBatch]]): what the recompute materialized is dropped
    * once the sink write lands.
    */
  private def appendThenRecompute(
      newBlocks: DataFrame,
      bronzeDir: String,
      recompute: (SparkSession, DataFrame) => DataFrame,
      checkpointDir: String,
      trigger: Trigger)(sink: DataFrame => Unit): DataStreamWriter[Row] =
    newBlocks.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        batch.write.mode("append").parquet(bronzeDir)
        val bronze = spark.read.schema(batch.schema).parquet(bronzeDir)
          .dropDuplicates("hash") // replayed appends collapse here
        Scope(sink(recompute(spark, bronze)))
      }

  /** The route a [[bestChainIncremental]] call took. */
  sealed abstract class ChainRoute(val name: String)
  object ChainRoute {
    /** The batch leaves the best chain as it was. */
    case object Unchanged extends ChainRoute("unchanged")
    /** The batch extends or shallowly reorgs the chain, resolved O(batch). */
    case object Extend extends ChainRoute("extend")
    /** A full resolution of bronze's connected best chain. `reason` says
      * why it fired: "bootstrap", or the fallback cause that tells a
      * designed fallback (root-rebase, overflow) apart from one that signals
      * the O(batch) machinery disengaged (no-frontier, walk-miss on a
      * supposedly complete index). `walked`: resolved by the driver walk
      * within [[BootstrapWalkCap]] (kind "walk"), else by the distributed
      * doubling (kind "distributed").
      */
    final case class Full(reason: String, walked: Boolean)
        extends ChainRoute(if (reason == "bootstrap") "bootstrap" else "fallback") {
      def kind: String = if (walked) "walk" else "distributed"
    }
  }

  /** Where a reorg batch's replace repair took its co-spend edges from
    * (see [[graft.chain.WalletCluster.EdgeSource]]).
    */
  sealed abstract class EdgeRoute(val name: String) {
    def detail: String
  }
  object EdgeRoute {
    /** The stored `_edges` multiset, moved to the post-reorg chain. `lag` =
      * the prior tip's height minus the multiset tip's; `lookupBlocks` =
      * the blocks whose funders were looked up (retracted plus added).
      */
    final case class Multiset(lag: Int, lookupBlocks: Int) extends EdgeRoute("multiset") {
      def detail: String = s"multiset lag=$lag lookup=$lookupBlocks"
    }
    /** Re-derived from the whole post-reorg chain. `reason`: "missing" (no
      * multiset), "pending" (its last write did not finish), "off-chain"
      * (its tip is not on the prior cursor chain), "outside-buckets" (the
      * blocks to look up reach below the collected cursor buckets), "full"
      * (a full-resolution batch has no anchor), "envelope" (the lookups
      * exceeded the driver envelope).
      */
    final case class Rederived(reason: String) extends EdgeRoute("rederived") {
      def detail: String = s"rederived $reason"
    }
  }

  /** What one [[walletLabelsBatch]] call did — the evidence that a batch's
    * cost tracks ITS delta, not the accumulated corpus. Counts are taken
    * only where already materialized (checkpointed sets / local paths), so
    * the record costs no extra jobs.
    *
    * @param route       the best-chain route; None = no genesis in bronze
    *                    yet, the batch waited without resolving a chain
    * @param arrived     blocks newly on the best chain (-1 = not derived)
    * @param invalidated blocks reorged out (-1 = not derived)
    * @param repair      the reorg repair's route; None = no repair ran
    * @param edges       where a replace repair's edges came from; None on
    *                    the other routes
    * @param storeBootstrap the batch rebuilt the store by a full clustering
    * @param pending     pending-index size, when a quiet batch rewrote the
    *                    frontier (-1 = it wrote the overflow marker)
    * @param dangling    dangling-index size, same rule
    */
  final case class WalletBatch(
      route: Option[ChainRoute],
      arrived: Long = 0L,
      invalidated: Long = 0L,
      repair: Option[graft.chain.WalletCluster.RepairRoute] = None,
      edges: Option[EdgeRoute] = None,
      storeBootstrap: Boolean = false,
      pending: Option[Int] = None,
      dangling: Option[Int] = None) {
    /** The route's name; "pre-genesis" when the batch waited for genesis. */
    def routeName: String = route.fold("pre-genesis")(_.name)
    private def full = route.collect { case f: ChainRoute.Full => f }
    /** Why the full resolution fired; None on the incremental routes. */
    def reason: Option[String] = full.map(_.reason)
    /** How the full resolution resolved; None on the incremental routes. */
    def kind: Option[String] = full.map(_.kind)
    /** The batch as a route record (`rows` = blocks arrived; the detail's repair
      * is "bootstrap" when the store was rebuilt, "skipped" when none ran). */
    def decision: Telemetry.RouteDecision = Telemetry.RouteDecision("wallet batch", routeName,
      arrived, -1L, reason.getOrElse(""), scala.collection.immutable.ListMap(
        "route" -> routeName, "arrived" -> arrived, "invalidated" -> invalidated,
        "repair" -> (if (storeBootstrap) "bootstrap" else repair.fold("skipped")(_.name)),
        "edges" -> edges.map(_.detail), "pending" -> pending, "dangling" -> dangling,
        "why" -> reason, "kind" -> kind))
  }

  /** On-disk wallet-store data schema (the slot partition column is
    * directory-derived). Store reads specify it explicitly because an empty
    * store — zero data files, just _SUCCESS — is valid state that schema
    * inference cannot read.
    */
  private val WalletStoreSchema = StructType(Seq(
    StructField("address", StringType), StructField("wallet_id", StringType)))
  /** Default slot count of the wallet label store: Spark's default
    * `parallelPartitionDiscovery.threshold`. Every batch that reads the
    * store lists its slot directories, and Spark lists more than 32
    * subdirectories through a Spark job (one task per directory, about 0.5 s
    * per read at 64 slots); at 32 the listing stays on the driver. A store
    * written under another count re-bootstraps once (its manifest records
    * the count).
    */
  private[graft] val LabelSlots = 32
  /** Layout version of the label store: a change to what it lays down bumps it. */
  private val LabelsVersion = 2
  /** The height-bucketed `_bestchain` cursor as [[writeCursor]] writes it
    * (the bucket is the partition column).
    */
  private val CursorSchema = StructType(Seq(StructField("hash", StringType),
    StructField("height", IntegerType),
    StructField(PartitionedGold.BucketCol, IntegerType)))
  /** The frontier sidecar body as [[writeFrontierBody]] writes it. */
  private val FrontierSchema = StructType(
    Seq("kind", "hash", "parent_hash").map(StructField(_, StringType)))

  /** The chain tip rule, stated once: max height, ties to the min hash —
    * annotate's own order. Reads `hash` and `height` of any chain frame.
    */
  private def tipOf(chain: DataFrame): Option[(String, Int)] =
    chain.orderBy(col("height").desc, col("hash").asc).limit(1).collect()
      .headOption.map(r => (r.getAs[String]("hash"), r.getAs[Number]("height").intValue))

  /** The prior cursor's top two height buckets on the driver: every cursor
    * row at height `fromHeight` or above, as hash → height. A wallet batch
    * collects it once and derives from it the prior tip, the cursor-hit and
    * deep-anchor lookups, the reorged-out rows and the cursor write's
    * prefix, whenever the heights they need are in range. A key it lacks is
    * never taken as absent: it still gets the full-cursor lookup.
    */
  private[graft] final case class CursorTop(rows: Map[String, Int], fromHeight: Int) {
    /** The prior tip, by annotate's rule (the rows hold the top bucket). */
    val tip: Option[(String, Int)] =
      if (rows.isEmpty) None else Some(rows.minBy { case (h, ht) => (-ht, h) })
    /** The rows at `from` or above, when they are all in range. */
    def from(h: Int): Option[Iterator[(String, Int)]] =
      if (h < fromHeight) None else Some(rows.iterator.filter(_._2 >= h))
    /** Hit heights of `keys`. */
    def hits(keys: Iterable[String]): Map[String, Int] =
      keys.iterator.flatMap(k => rows.get(k).map(k -> _)).toMap
  }

  /** The maintained OFF-CHAIN index beside the cursor: `dangling` = parent
    * hashes bronze references but does not contain; `pending` = every bronze
    * block NOT on the best chain, as (hash → parent hash, null for a stale
    * genesis root). Together they make the per-batch fragment logic a pure
    * driver computation: a batch block whose parent is neither on the
    * cursor, in the batch, nor in `pending` is provably absent from bronze
    * (bronze = chain ∪ pending when the index is complete), and a batch
    * block that ARRIVES a `dangling` parent resolves its waiting fragment
    * by a driver cascade instead of a full re-resolution. This is the
    * streaming twin of the reference's 1,126-block reorder buffer
    * (BlockchainToGraph.java:34–35): unconnected blocks WAIT — they are not
    * tip candidates — until the block that anchors them lands, which is
    * also where the mid-stream semantics deliberately differ from the batch
    * annotator's total orphan semantics (a dangling-parent block counts as
    * a height-1 root there, because a batch query must label everything).
    * Once every parent has arrived, `pending` drains through the cascade
    * and the maintained chain equals the batch annotation exactly
    * (spec-gated per batch against the annotator over the connected
    * subgraph, and at convergence against the full annotation).
    */
  private[graft] final case class Frontier(
      dangling: Set[String], pending: Map[String, String])

  /** (hash, height) of the current best chain, computed O(batch) from the
    * prior cursor whenever the batch EXTENDS or shallowly REORGS the known
    * chain — the common steady-state shapes — and falling back to a full
    * resolution of bronze's connected best chain
    * ([[graft.chain.BestChain.bestChainConnectedWithFrontier]]) otherwise.
    * This is the maintainer's incremental/bulk split applied to its one
    * per-batch term that otherwise grows with chain length: a tip-following
    * deployment pays O(batch) joins against the KB–MB cursor instead of a
    * full resolution every batch.
    *
    * WITHOUT a [[Frontier]], the O(batch) path applies only when every batch
    * block not already on the known chain resolves its height THROUGH the
    * batch to a known-chain anchor (or a genesis root), and no pre-existing
    * bronze block hangs off the batch (checked by one limit-1 bronze probe —
    * authoritative but O(history)); anything else routes to the full
    * resolution. WITH a stamped Frontier, unresolvable batch blocks are
    * BUFFERED (they join `pending` and the route is "unchanged"), and a
    * batch that arrives a dangling parent resolves the waiting fragment by
    * a driver cascade over `pending` — the full resolution then runs only
    * on bootstrap, cursor/stamp loss, index overflow, or corrupt input.
    * Tip selection replicates annotate's exactly (max height, ties to the
    * min hash) over the RESOLVED blocks, so a losing candidate leaves the
    * chain bit-identical to what the full path would produce on the
    * connected subgraph.
    *
    * @param prevCursor prior best chain (hash, height) — None when absent
    *                   (the full resolution, route "bootstrap")
    * @param top        prevCursor's top height buckets, collected once by the
    *                   caller ([[CursorTop]]): the prior tip and the
    *                   membership/anchor lookups come from it instead of
    *                   cursor scans. Sound by construction: a key it lacks
    *                   is never trusted as absence — with a Frontier it gets
    *                   a second-chance lookup against the FULL cursor (deep
    *                   anchors), without one it routes to the full
    *                   resolution. None = every lookup and the prior tip
    *                   read the full cursor
    * @param frontier   the stamped off-chain index, or None when absent,
    *                   crash-invalidated, or overflowed (→ the conservative
    *                   bronze-probe path above)
    * @return the new best chain plus, on the "extend" route, the EXACT
    *         delta the walk derived — callers then never re-derive
    *         arrived/invalidated with chain-sized set-diff joins — and the
    *         updated frontier where the route could maintain it (a full
    *         route above the walk cap returns None = recompute from
    *         bronze). On the extend route the caller must still fold the
    *         reorged-out cursor rows into `pending` (they are
    *         cursor-derived, see walletLabelsBatch)
    */
  private[graft] def bestChainIncremental(
      spark: SparkSession, bronze: DataFrame, batch: DataFrame,
      prevCursor: Option[DataFrame],
      top: Option[CursorTop] = None,
      frontier: Option[Frontier] = None): BestChainUpdate =
    advanceChain(spark, bronze,
      batch.select("hash", "parent_hash").dropDuplicates("hash")
        .limit(BatchWalkCap + 1).collect().map(r => (r.getString(0), r.getString(1))),
      prevCursor, top, frontier)

  /** [[bestChainIncremental]] over the batch's (hash, parent_hash) rows,
    * already on the driver and unique by hash — more than [[BatchWalkCap]]
    * of them take the full resolution.
    */
  private def advanceChain(
      spark: SparkSession, bronze: DataFrame, batchRows: Array[(String, String)],
      prevCursor: Option[DataFrame],
      top: Option[CursorTop],
      frontier: Option[Frontier]): BestChainUpdate = {
    def full(reason: String): BestChainUpdate = {
      // The full routes resolve the CONNECTED best chain — the reference's
      // reorder-buffer semantics end to end: they never seat an orphan
      // fragment as the chain (which the next batch's arrival of its
      // missing root parent would only rebase away again: the measured
      // perpetual-fallback failure mode of the shuffled catch-up drain).
      // They walk a WIDER driver envelope than the broadcast cap
      // ([[BootstrapWalkCap]] vs BroadcastMaxRows): the header probe is read
      // once per full resolution (bootstrap / designed fallback, not per
      // steady-state batch), reduced on the spot to the chain + a capped
      // frontier, and never broadcast — so the driver budget is a transient
      // read buffer, not a retained relation. This is what turns the
      // once-per-deployment catch-up bootstrap (r16: 155.5 s of distributed
      // doubling at a 1.5M-block corpus) into the same driver cascade the
      // fragment-drain attach path runs in seconds — and the walk's probe
      // already proves the post-batch off-chain index, so the full route
      // hands the Frontier back instead of making the caller re-derive it
      // with two bronze anti-joins. Chains above the cap take the
      // distributed resolution and return no frontier (the caller
      // re-derives, cap-guarded) — the always-correct from-scratch path
      // stays reachable. Checkpointed ONCE either way: the maintainer's ~10
      // downstream consumers would otherwise each re-ship it (measured 2.6×
      // on the corpus drain — and above the envelope, re-run the doubling
      // rounds). The extend/unchanged routes never pay this — their plans
      // are a cursor scan + a local path.
      val (resolved, walked) = graft.chain.BestChain
        .bestChainConnectedWithFrontier(bronze, BootstrapWalkCap)
      BestChainUpdate(ChainOps.localCheckpoint(resolved
        .select(col("hash"), col("height").cast("int").as("height"))),
        ChainRoute.Full(reason, walked.isDefined), None,
        walked.map { case (d, p) => Frontier(d, p) })
    }
    if (prevCursor.isEmpty) return full("bootstrap")
    val cursor = prevCursor.get.select(col("hash"), col("height").cast("int").as("height"))
    // the batch must be driver-sized for the in-memory walk; micro-batches
    // are bounded by maxFilesPerTrigger, so the cap only trips on abusive
    // inputs — which take the always-correct full path.
    if (batchRows.length > BatchWalkCap) return full("batch-cap")
    val batchHashes = batchRows.map(_._1).toSet
    val parentOf: Map[String, Option[String]] =
      batchRows.map(r => r._1 -> Option(r._2)).toMap
    // ONE cursor lookup serves membership (replayed/known blocks) and anchor
    // heights (parents the new blocks hang from): cursor ∩ (hashes ∪ parents),
    // answered from the collected top buckets when the caller has them — a
    // miss there is never trusted as absence for routing, it just fails to
    // anchor and falls back. Full-cursor key sets ride local relations +
    // broadcast semi-joins, never literal isin lists (a catch-up batch's
    // thousands of keys would blow the plan).
    import spark.implicits._
    def cursorLookup(keys: Iterable[String]): Map[String, Int] =
      if (keys.isEmpty) Map.empty
      else cursor.join(broadcast(keys.toSeq.toDF("hash")), Seq("hash"), "left_semi")
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val probeKeys = batchHashes ++ batchRows.flatMap(r => Option(r._2))
    val cursorHits: Map[String, Int] = top.fold(cursorLookup(probeKeys))(_.hits(probeKeys))
    // With a frontier: pending blocks are walkable (their parents are in
    // pending or dangling by the index invariant), and a key known to NONE
    // of batch/pending/dangling/probe gets a second-chance lookup against
    // the FULL cursor — found = a deep anchor or a deep replay (below the
    // probe window), absent = provably absent from bronze (bronze = chain ∪
    // pending when the index is complete) = a NEW dangling parent. Without
    // a frontier the second-chance map is empty and an unresolved parent
    // routes to the full resolution.
    val pendParent: Map[String, String] = frontier.map(_.pending).getOrElse(Map.empty)
    val danglingSet: Set[String] = frontier.map(_.dangling).getOrElse(Set.empty)
    val allParent: Map[String, Option[String]] =
      pendParent.map { case (h, p) => h -> Option(p) } ++ parentOf
    val deepHits: Map[String, Int] = frontier match {
      case None => Map.empty
      case Some(_) =>
        // PARENTS only. Batch hashes used to ride this lookup too, so a
        // replayed block deep on the chain would read as "already known" —
        // but every genuinely-new hash on every steady-state extend batch is
        // also absent from the pruned probe, so that half made the
        // full-cursor semi-join run on EVERY micro-batch: the O(chain)
        // cursor read per batch that the top-bucket collect exists to
        // avoid, paid for a deep-replay case the bronze dedupe makes rare.
        // The trade accepted instead: a deep replay now resolves through its
        // (eagerly-anchored) parent as if new, loses the tip race, and
        // transiently joins `pending` — benign, because the absence proof
        // needs pending COMPLETENESS (bronze ⊆ chain ∪ pending), never
        // minimality, and the entry clears on the next full-route frontier
        // refresh. On a steady extend batch this set is empty and no cursor
        // scan runs.
        cursorLookup(batchRows.flatMap(r => Option(r._2))
          .filterNot(p => allParent.contains(p) || danglingSet.contains(p) ||
            cursorHits.contains(p)).distinct)
    }
    var anchors = cursorHits ++ deepHits
    val batchNew = batchRows.filterNot(r => anchors.contains(r._1))
    if (batchNew.isEmpty)
      return BestChainUpdate(cursor, ChainRoute.Unchanged, None, frontier)
    val newHashes = batchNew.map(_._1).toSeq
    // Frontier-free path (no stamped index): a pre-existing bronze block
    // pointing INTO the new batch = a dangling fragment being attached; its
    // heights change outside the batch and nothing tracks the fragment, so
    // the only correct move is the full resolution. The check is the
    // authoritative bronze scan.
    if (frontier.isEmpty) {
      val attaches = !bronze.select("hash", "parent_hash")
        .join(broadcast(newHashes.toDF("parent_hash")), Seq("parent_hash"), "left_semi")
        .join(broadcast(batchHashes.toSeq.toDF("hash")), Seq("hash"), "left_anti")
        .isEmpty
      if (attaches) return full("attach-scan")
    }
    // anchored height walk over the new blocks (memoized, stack-safe):
    // height = anchor height + path length. An unresolvable parent (neither
    // walkable nor anchored) PENDS the whole stack under a frontier — the
    // blocks wait, off the chain, until the arrival that anchors them — and
    // routes to the full resolution without one. TWO-PHASE: a walk through
    // `pending` can reach a pending block whose parent is ON the chain but
    // deep (a stale branch hanging off old history — its root anchored when
    // it first arrived, but anchors are not stored in the index); phase 1
    // collects those keys, the collected top buckets and then one
    // full-cursor lookup for their misses anchor them, phase 2 re-walks.
    // Steady-state batches never touch a pending chain, so the extra lookup
    // fires only when the batch actually extends one.
    val heights = scala.collection.mutable.HashMap.empty[String, Int]
    val unres = scala.collection.mutable.HashSet.empty[String]
    var walkPass = 0
    var walkDone = false
    while (!walkDone) {
      walkPass += 1
      heights.clear(); unres.clear()
      val needLookup = scala.collection.mutable.HashSet.empty[String]
      for (r <- batchNew) {
        var stack = List.empty[String]
        var cur = r._1
        var anchorH: Option[Int] = None
        var pend = false
        // cycle guard: corrupt input whose parent pointers form a loop would
        // otherwise walk allParent forever (no height/cursor/genesis exit) —
        // a legitimate walk visits each block at most once, so more steps
        // than batch+pending have rows proves a cycle → the full path, which
        // resolves heights by bounded doubling and never loops
        var steps = 0
        val stepCap = batchRows.length + pendParent.size + 1
        while (anchorH.isEmpty && !pend && !heights.contains(cur)) {
          steps += 1
          if (steps > stepCap) return full("cycle")
          if (unres.contains(cur)) pend = true
          else allParent.get(cur) match {
            case Some(None) => // genesis root inside the walkable set: height 0
              heights.getOrElseUpdate(cur, 0)
              anchorH = Some(heights(cur))
            case Some(Some(p)) if anchors.contains(p) =>
              anchorH = Some(anchors(p)); stack ::= cur
            case Some(Some(p)) if allParent.contains(p) =>
              stack ::= cur; cur = p
            case Some(Some(p)) if frontier.isDefined =>
              // p ∉ batch/pending/anchors: dangling, or a deep on-chain
              // anchor only a full-cursor lookup can tell apart — the whole
              // stack waits this pass
              if (!danglingSet.contains(p) && pendParent.contains(cur)) needLookup += p
              stack ::= cur; pend = true
            case _ => return full("no-index-walk-miss") // unresolvable parent, no index
          }
        }
        if (pend) { unres ++= stack; unres += cur }
        else {
          var hh = anchorH.getOrElse(heights(cur))
          stack.foreach { n => hh += 1; heights(n) = hh }
        }
      }
      if (walkPass == 1 && needLookup.nonEmpty) {
        val inTop = top.fold(Map.empty[String, Int])(_.hits(needLookup))
        val extra = inTop ++ cursorLookup(needLookup.filterNot(inTop.contains))
        anchors = anchors ++ extra
        walkDone = extra.isEmpty // re-walk only if something anchored
      } else walkDone = true
    }
    // CASCADE (frontier only): pending fragments hanging off a block that
    // just resolved — the arrival of a dangling parent — resolve with it,
    // children at parent height + 1, transitively. This replaces the old
    // "attachment → full resolution" with an O(resolved) driver pass.
    if (pendParent.nonEmpty && heights.nonEmpty) {
      val childrenOf: Map[String, Seq[String]] =
        pendParent.toSeq.groupMap(_._2)(_._1)
      val queue = scala.collection.mutable.Queue.empty[String]
      heights.keysIterator.filter(childrenOf.contains).foreach(queue.enqueue)
      while (queue.nonEmpty) {
        val h = queue.dequeue()
        childrenOf.getOrElse(h, Nil).foreach { c =>
          if (!heights.contains(c)) {
            heights(c) = heights(h) + 1
            if (childrenOf.contains(c)) queue.enqueue(c)
          }
        }
      }
    }
    // frontier bookkeeping shared by the non-full exits: every batch block
    // is now IN bronze (drop arrived hashes from dangling; unresolved ones
    // join pending), plus the genuinely-new dangling parents the
    // second-chance lookup could not place
    def frontierAfter(onChain: Set[String]): Option[Frontier] =
      frontier.map { f =>
        val newDangling = batchRows.flatMap(r => Option(r._2))
          .filterNot(p => allParent.contains(p) || anchors.contains(p) ||
            danglingSet.contains(p)).toSet
        Frontier(
          (f.dangling -- batchHashes) ++ newDangling,
          (f.pending ++ batchNew)
            .removedAll(onChain))
      }
    if (heights.isEmpty) {
      // nothing resolved: the whole batch waits (frontier) — impossible
      // without one (the strict walk would have returned full already)
      return BestChainUpdate(cursor, ChainRoute.Unchanged, None, frontierAfter(Set.empty))
    }
    // candidate tip among the RESOLVED blocks vs the prior tip — annotate's
    // exact ordering (max height, then min hash). The prior tip is in the
    // collected top bucket; without one it is a TakeOrdered scan.
    val candidate = heights.minBy { case (k, v) => (-v, k) }
    val prevTip = top.fold(tipOf(cursor))(_.tip)
    val candWins = prevTip.forall { case (ph, pH) =>
      candidate._2 > pH || (candidate._2 == pH && candidate._1 < ph)
    }
    if (!candWins) {
      // new stale blocks joined bronze — off-chain, so they join pending
      // (resolved and unresolved alike); the chain itself is untouched
      return BestChainUpdate(cursor, ChainRoute.Unchanged, None, frontierAfter(Set.empty))
    }
    // new best = the winner's path through the walkable set down to its
    // anchor, plus the known chain's prefix at or below the anchor height
    val path = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    var cur = candidate._1
    var anchorHeight = -1
    var done = false
    while (!done) {
      path += ((cur, heights(cur)))
      allParent(cur) match {
        case Some(p) if heights.contains(p) => cur = p
        case Some(p) if anchors.contains(p) => anchorHeight = anchors(p); done = true
        case Some(_) => return full("invariant") // broken invariant: stay correct
        case None => done = true // genesis root: no known-chain prefix
      }
    }
    val pathDf = path.toSeq.toDF("hash", "height")
    val best =
      if (anchorHeight < 0) pathDf
      else cursor.where(col("height") <= anchorHeight).unionByName(pathDf)
    // path blocks are ON the chain now — everything else that arrived or
    // resolved stays/lands in pending (stale); the caller folds reorged-out
    // cursor rows (above the anchor) into pending too, cursor-side
    BestChainUpdate(best, ChainRoute.Extend, Some((path.toSeq, anchorHeight)),
      frontierAfter(path.iterator.map(_._1).toSet))
  }

  /** Result of [[bestChainIncremental]]: the full best chain, the route
    * taken (a full route carries its reason and kind), and — on the
    * "extend" route — the exact delta: the path blocks
    * that joined the chain (tip-down, driver-sized) and the anchor height
    * (prior-chain rows ABOVE it are the ones reorged out; on a pure
    * extension the anchor is the prior tip and that set is empty).
    * `newFrontier` = the maintained off-chain index after the batch, where
    * the route could carry it forward; None on the full routes, whose
    * callers re-derive it from bronze. On the extend route the caller still
    * folds the reorged-out cursor rows into `pending` (cursor-derived).
    */
  private[graft] final case class BestChainUpdate(
      best: DataFrame, route: ChainRoute,
      extendDelta: Option[(Seq[(String, Int)], Int)],
      newFrontier: Option[Frontier] = None)

  /** Streaming maintenance of the WALLET LABELING (T4 applied to the one
    * derived property the reference declared but never finished —
    * `AddressWalletID`, TransactionGraph.java:137): each micro-batch lands
    * blocks in bronze, diffs the best chain against the chain the stored
    * labeling reflects (a KB-scale `_bestchain` sidecar), and updates the
    * store O(change)-wise:
    *
    *  - blocks REORGED OUT → [[graft.chain.WalletCluster.repairAfterReorg]]
    *    re-clusters exactly the components that lost an edge (splits and
    *    all), from best-chain bronze;
    *  - blocks NEWLY ON the best chain →
    *    [[graft.chain.WalletCluster.incrementalClusters]] applies their
    *    co-spend merges on the contracted graph — except after a repair on
    *    the replace route, whose one clustering of the whole post-reorg
    *    chain already covers the arrivals and emits their new addresses.
    *
    * The store is hash-slot-partitioned parquet, and the per-batch write is
    * O(changed) in COMPUTE as well as bytes: the changed-row set is known
    * exactly (both update paths emit minimal deltas: only rows whose label
    * differs from the store), its
    * slots are derived from the delta alone, and only those slots' full
    * content — store rows in the slot minus replaced rows, plus the delta —
    * is materialized (a `localCheckpoint` of slot-sized data, breaking the
    * read-from-overwritten-path cycle) and dynamically overwritten. A quiet
    * or replayed batch has an empty delta and writes NOTHING, leaving every
    * slot file byte-identical (spec-gated). Write ordering is
    * store-then-cursor: a crash between them leaves a stale `_bestchain`,
    * so the next batch re-derives a change set that includes
    * already-applied blocks — both update paths then produce empty deltas
    * against the already-updated store, so the store converges without
    * rewrites.
    *
    * @param fundersOf (spark, blockRows) => (tx_hash, src_address) funding
    *                  pairs — the same extraction the batch queries use
    */
  def incrementalWalletLabels(
      newBlocks: DataFrame,
      bronzeDir: String,
      fundersOf: (SparkSession, DataFrame) => DataFrame,
      labelsDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    newBlocks.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        walletLabelsBatch(batch.sparkSession, batch, bronzeDir, fundersOf, labelsDir)
        ()
      }

  /** One micro-batch of [[incrementalWalletLabels]] — package-visible so the
    * rehearsal mains can step it synchronously and time each batch without
    * the streaming machinery around it.
    *
    * The best chain comes from [[bestChainIncremental]] with the stamped
    * [[Frontier]]: tip-following and shallow reorgs resolve O(batch)
    * against the (hash, height) cursor, unanchored arrivals PEND in the
    * frontier sidecar (the reorder buffer) instead of forcing a full
    * resolution, and a batch that anchors a waiting fragment resolves it by
    * the driver cascade — so the full `BestChain.annotate` over bronze runs
    * only on bootstrap, cursor/stamp loss, index overflow, the arrival of
    * an orphan-rooted chain's own missing parent (a whole-chain rebase), or
    * batches past the driver walk cap. A batch that leaves the best chain
    * UNCHANGED (replays, stale orphans, pure pending growth) exits before
    * any label work: no store read, no cursor write — the store provably
    * already reflects this chain, because the cursor is written last (see
    * write-ordering note below); only the frontier sidecar is re-stamped
    * when it grew.
    *
    * @return what the batch did; the record is also posted as a route
    *         decision of the batch's `wallet` phase ([[graft.Telemetry]])
    */
  private[graft] def walletLabelsBatch(
      spark: SparkSession,
      batch: DataFrame,
      bronzeDir: String,
      fundersOf: (SparkSession, DataFrame) => DataFrame,
      labelsDir: String,
      slots: Int = LabelSlots): WalletBatch = {
    // The batch runs in its own scope: every frame it materializes
    // (localCheckpoints of slot-, bucket- and chain-sized data; the
    // resolvers' rebases and results) is DEAD once the on-disk
    // store/cursor/frontier are written — nothing persisted inside one
    // batch is read by the next, which re-opens everything from disk — and
    // the scope unpersists it all when the batch returns. Left to the
    // GC-driven ContextCleaner, a long-running maintainer on a large driver
    // heap (where full GCs are rare) accumulates checkpoint blocks + their
    // shuffle files — the measured single-JVM aging of the r16 30× campaign
    // (tail batches 20–70 s on constant batch work). The scope is confined
    // to this thread: a query running beside the maintainer (the gold sink
    // on the same feed) keeps its caches and checkpoints.
    Telemetry.phase("wallet") {
      val record = Scope(
        walletLabelsBatchImpl(spark, batch, bronzeDir, fundersOf, labelsDir, slots))
      Telemetry.route(record.decision)
      record
    }
  }

  private def walletLabelsBatchImpl(
      spark: SparkSession,
      batch: DataFrame,
      bronzeDir: String,
      fundersOf: (SparkSession, DataFrame) => DataFrame,
      labelsDir: String,
      slots: Int): WalletBatch = {
    import graft.chain.WalletCluster
    import Telemetry.phase
    // The micro-batch is read ONCE: its header rows land in bronze and feed
    // the chain walk from the same collect. Over the walk cap the batch is
    // written as it stands and the walk's own probe routes to the full
    // resolution.
    val batchRows = phase("batch collect")(batch.limit(BatchWalkCap + 1).collect())
    val collected = batchRows.length <= BatchWalkCap
    phase("bronze append")(
      (if (collected) ChainOps.driverFrame(spark, batchRows.toSeq, batch.schema) else batch)
        .write.mode("append").parquet(bronzeDir))
    // the engine wrote every bronze file with the batch's schema: read with
    // it, no schema-inference job
    val bronze = spark.read.schema(batch.schema).parquet(bronzeDir)
      .dropDuplicates("hash") // replayed appends collapse here
    val storePath = s"$labelsDir/labels"
    val cursorPath = s"$labelsDir/_bestchain"
    // The cursor's height buckets come from a directory listing (no scan).
    // A listing without buckets is no cursor: none written yet, or one
    // written from an EMPTY chain (a connected-only bootstrap before any
    // genesis arrived) — the maintainer bootstraps until a genesis-rooted
    // chain exists, and that full route writes the whole bucketed layout.
    val bucket = PartitionedGold.BucketCol
    val tipBuckets: Seq[Int] = Hfs.listDirNames(spark, cursorPath)
      .filter(_.startsWith(bucket + "="))
      .flatMap(n => scala.util.Try(n.split("=")(1).toInt).toOption)
    val prevCursor: Option[DataFrame] =
      if (tipBuckets.isEmpty) None
      else Some(spark.read.schema(CursorSchema).parquet(cursorPath))
    // Pre-genesis drain: no cursor and no null-parent block in bronze means
    // the connected chain is EMPTY — there is nothing to cluster, store, or
    // index yet, and a bootstrap attempt would still collect+walk the whole
    // bronze per batch only to produce that empty chain. One pushed-down
    // probe, then wait for the genesis to arrive (the reorder-buffer
    // discipline applied to the chain's own root).
    if (prevCursor.isEmpty &&
        phase("genesis probe")(bronze.where(col("parent_hash").isNull).isEmpty))
      return WalletBatch(route = None)
    // The TOP two height buckets, collected ONCE (≤ 2 × CursorBucketSize
    // rows, partition-pruned): the prior tip, the membership/anchor
    // lookups, the reorged-out rows, the frontier's reorged-out pairs and
    // the cursor write's prefix all come from these rows when the heights
    // they need are in range — one cursor read per batch instead of one
    // per consumer. What lies below the range takes the full-cursor reads.
    val prevTop: Option[CursorTop] = prevCursor.map { cursor =>
      val fromBucket = math.max(tipBuckets.max - 1, 0)
      val rows = cursor.where(col(bucket) >= fromBucket)
        .select("hash", "height").collect()
      CursorTop(rows.iterator.map(r => r.getString(0) -> r.getInt(1)).toMap,
        fromBucket * CursorBucketSize)
    }
    val prevTip: Option[(String, Int)] = prevTop.flatMap(_.tip)
    // the OFF-CHAIN index ([[Frontier]]): dangling parent hashes bronze
    // references but does not contain, plus every bronze block NOT on the
    // best chain as (hash → parent) — the reorder buffer that lets a
    // catch-up batch PEND its unanchored blocks O(batch) instead of paying
    // a full re-resolution, and lets the batch that finally anchors them
    // resolve the whole fragment by a driver cascade. Stored as one parquet
    // sidecar (columnar read, ~tens of MB at the 1M-row cap); kind "d" =
    // dangling parent, "p" = pending block, "overflow" = the index exceeded
    // its driver cap when last derived (those sessions use the
    // authoritative bronze scan until the next full route refreshes it).
    //
    // VALIDITY STAMP: the index body is only trusted when the `_frontier_ok`
    // stamp equals the cursor's CURRENT tip. Every batch invalidates the
    // stamp before touching the body or the cursor and re-stamps with the
    // new tip only after both are written, so a crash ANYWHERE in between
    // leaves a non-matching stamp and the next batch falls back to the
    // authoritative bronze scan. Without the stamp, a crash after the body
    // rewrite but before the cursor write would pair a post-batch index
    // (entries REMOVED) with a pre-batch cursor — and the replayed batch
    // would mis-route a fragment attachment as an extend, silently dropping
    // the fragment's blocks from the chain.
    val frontierPath = s"$labelsDir/_frontier"
    val frontierStampPath = s"$labelsDir/_frontier_ok"
    val stampOk = (Hfs.readText(spark, frontierStampPath).map(_.trim),
      prevTip.map(_._1)) match {
      case (Some(s), Some(tip)) => s == tip
      case _ => false
    }
    val frontierRows: Option[Array[Row]] =
      if (!stampOk || !Hfs.exists(spark, frontierPath)) None
      else Some(spark.read.schema(FrontierSchema).parquet(frontierPath).collect())
    val frontierOverflow =
      frontierRows.exists(_.exists(_.getString(0) == "overflow"))
    val frontier: Option[Frontier] =
      if (frontierOverflow) None
      else frontierRows.map { rows =>
        Frontier(
          rows.iterator.filter(_.getString(0) == "d").map(_.getString(1)).toSet,
          rows.iterator.filter(_.getString(0) == "p")
            .map(r => r.getString(1) -> r.getString(2)).toMap)
      }
    val upd = phase("best chain")(
      if (!collected)
        bestChainIncremental(spark, bronze, batch, prevCursor, prevTop, frontier)
      else {
        val (h, p) = (batch.schema.fieldIndex("hash"), batch.schema.fieldIndex("parent_hash"))
        advanceChain(spark, bronze,
          batchRows.map(r => (r.getString(h), r.getString(p))).distinctBy(_._1),
          prevCursor, prevTop, frontier)
      })
    val route = upd.route
    val unchanged = route match { case ChainRoute.Unchanged => true; case _ => false }
    // Slot assignment is a pure function of (address, slots), so the store
    // is only readable-for-overwrite under the SAME slots value it was
    // written with: resuming with a different value would route an address's
    // replacement row to a different slot partition and leave the stale row
    // behind — duplicate, conflicting labels with no error. The store's
    // manifest records the value; a missing, empty or different manifest is
    // store loss: re-bootstrap under the current value, the cursor kept.
    val manifest = StoreManifest("wallet_labels", LabelsVersion, Map("slots" -> slots))
    val bootstrapping = !Hfs.exists(spark, storePath) || prevCursor.isEmpty ||
      !StoreManifest.read(spark, labelsDir).contains(manifest)
    if (!bootstrapping && unchanged) {
      // The store provably already reflects this chain (no label work), but
      // the FRONTIER may have changed: a catch-up batch whose blocks all
      // pend grows `pending`, and a crash-broken stamp deserves repair here
      // rather than leaving every subsequent quiet batch on the
      // authoritative bronze scan (the batch just paid that scan for the
      // attaches check, so the re-derivation amortizes into it). The tip is
      // unchanged, so the stamp protocol closes over the same tip.
      val tip = prevTip.map(_._1)
      val grewOrShrank = upd.newFrontier.isDefined && upd.newFrontier != frontier
      if (tip.isDefined && (grewOrShrank || !stampOk)) {
        val nf: Option[Frontier] =
          (if (grewOrShrank) upd.newFrontier
           else deriveFrontier(spark, bronze, prevCursor.get.select("hash")))
            .filter(f => // cap enforcement — same rule as the main tail
              f.pending.size <= PendingCap && f.dangling.size <= DanglingCap)
        Hfs.writeText(spark, frontierStampPath, "!pending\n")
        writeFrontierBody(spark, frontierPath, nf)
        Hfs.writeText(spark, frontierStampPath, tip.get + "\n")
        return WalletBatch(Some(route),
          pending = Some(nf.fold(-1)(_.pending.size)),
          dangling = Some(nf.fold(-1)(_.dangling.size)))
      }
      return WalletBatch(Some(route))
    }
    // bestFunders is only planned by the bootstrap clustering and a reorg
    // repair that cannot move the stored edge multiset (both rare) — a tip
    // extension or a multiset repair never pays this chain-sized derivation.
    val bestHashes = upd.best.select("hash")
    lazy val bestFunders = fundersOf(spark,
      bronze.join(bestHashes, Seq("hash"), "left_semi"))
    // the new tip: the walk's path head on the extend route, the prior tip
    // on the unchanged route, else the resolved chain's
    lazy val newTip: Option[String] = upd.extendDelta.map(_._1.head._1)
      .orElse(if (unchanged) prevTip.map(_._1) else None)
      .orElse(tipOf(upd.best).map(_._1))
    def slotOf(addr: org.apache.spark.sql.Column) =
      pmod(xxhash64(addr), lit(slots)).cast("int")
    def upsert(store: DataFrame, delta: DataFrame): DataFrame =
      delta.unionByName(
        store.join(delta.select("address"), Seq("address"), "left_anti"))
    val record = if (bootstrapping) {
      // bootstrap (or cursor lost / manifest disagrees): one full clustering
      // of the best chain. The clustering consumes the funder set TWICE
      // (address universe + co-spend edge derivation), and each lazy
      // evaluation re-runs the corpus-grain funder join — persist across
      // the two consumers for the one batch that pays the O(chain) cost.
      val bf = bestFunders.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the manifest is written last: a crash inside the overwrite leaves
      // no manifest, and the next batch bootstraps again
      Hfs.delete(spark, StoreManifest.path(labelsDir))
      val addrs = bf.select(col("src_address").as("address")).distinct()
      phase("bootstrap") {
        val (labels, edges) = WalletCluster.clustered(addrs, bf)
        labels.withColumn(bucket, slotOf(col("address")))
          .write.mode("overwrite").partitionBy(bucket).parquet(storePath)
        edges.foreach(writeEdges(spark, labelsDir, _, newTip))
      }
      bf.unpersist(blocking = false)
      StoreManifest.write(spark, labelsDir, manifest)
      WalletBatch(Some(route), arrived = -1, invalidated = -1, storeBootstrap = true)
    } else {
      // Explicit schema: a legitimately-EMPTY store is valid state — a
      // bootstrap over a connected prefix with no funders yet (out-of-order
      // arrival can connect only a few genesis-adjacent, coinbase-only
      // blocks) writes a parquet dir with zero data files, and schema
      // inference on it throws. First hit at 30× under the r18 corpus's
      // arrival permutation; the fix is arrival-order-independence, not a
      // corpus tweak.
      val stored = spark.read.schema(WalletStoreSchema).parquet(storePath)
        .select("address", "wallet_id")
      // arrived/invalidated: on the "extend" route the walk already knows
      // the EXACT delta — arrived = the path blocks (a driver-sized local
      // relation), invalidated = prior-chain rows above the anchor height
      // (from the collected top buckets when the anchor is in range, else a
      // pushed-down filter on the cursor; empty on a pure extension) — so
      // the two chain × chain set-diff joins run only on the full-
      // resolution fallback. Every plan consuming these is materialized
      // (collect / checkpoint) before the cursor swap at the end.
      import spark.implicits._
      var (nArrived, nInvalidated) = (-1L, -1L)
      val (invalidated, arrived) = upd.extendDelta match {
        case Some((path, anchorH)) =>
          nArrived = path.length.toLong
          val inv = prevTop.flatMap(_.from(anchorH + 1)) match {
            case Some(rows) =>
              val hashes = rows.map(_._1).toSeq
              nInvalidated = hashes.length.toLong
              hashes.toDF("hash")
            case None =>
              // bucket predicate first: the reorged-out rows live at or
              // above the anchor's bucket, so the scan is partition-pruned
              cursorPrune(prevCursor.get, anchorH)
                .where(col("height") > anchorH).select("hash")
          }
          (inv, path.map(_._1).toDF("hash"))
        case None =>
          // Full-resolution fallback (the catch-up drain's steady state):
          // both hash sets are consumed several times below — invalidated by
          // the repair's input derivation, arrived by the incremental path —
          // and each is block-hash-grain (bounded by the chain, KBs–MBs), so
          // one eager checkpoint apiece beats re-running the chain × chain
          // set-diff join per consumer.
          val prevBest = prevCursor.get.select("hash")
          val inv = ChainOps.localCheckpoint(prevBest.join(bestHashes, Seq("hash"), "left_anti"))
          val arr = ChainOps.localCheckpoint(bestHashes.join(prevBest, Seq("hash"), "left_anti"))
          nArrived = arr.count(); nInvalidated = inv.count() // local, checkpointed
          (inv, arr)
      }
      // Each change set below is MATERIALIZED the moment it is derived
      // (label-delta grain — bounded by the store, usually far smaller):
      // repairChanges feeds afterRepair + changes, delta feeds changes, and
      // changes feeds the slot derivation + the slot-content rewrite — left
      // lazy, every one of those consumers re-evaluates the whole
      // corpus-sized funder-join subtree underneath (measured 3–6× on the
      // catch-up drain's middle batches, the difference between O(batch)
      // and O(corpus) per batch).
      val repair =
        if (if (nInvalidated >= 0) nInvalidated == 0
            else phase("invalidated probe")(invalidated.isEmpty)) None
        else phase("repair") {
          def lookup(hashes: Seq[String]): DataFrame =
            if (hashes.isEmpty) Seq.empty[(String, String)].toDF("tx_hash", "src_address")
            else fundersOf(spark, bronze.join(hashes.toDF("hash"), Seq("hash"), "left_semi"))
          val (source, edgeRoute) = edgeSource(spark, labelsDir, upd.extendDelta,
            prevCursor.get, prevTop.get, lookup)
          // the mass route materializes its own funder input (pinned to
          // this batch's scope); the change set — minimal on
          // every route — is checkpointed here so its several consumers
          // below never re-run the repair
          val (rows, repairRoute, post) = WalletCluster.repairAfterReorg(
            stored,
            fundersOf(spark, bronze.join(invalidated, Seq("hash"), "left_semi")),
            bestFunders, source = source)
          val changed = ChainOps.localCheckpoint(rows)
          post.foreach(p => writeEdges(spark, labelsDir, p.edges, newTip))
          // a stored source the lookups outgrew re-derived after all
          val edgesFrom = if (post.exists(_.stored)) edgeRoute else edgeRoute match {
            case _: EdgeRoute.Multiset => EdgeRoute.Rederived("envelope")
            case r => r
          }
          Some((changed, repairRoute,
            Some(edgesFrom).filter(_ => repairRoute == WalletCluster.RepairRoute.Replace)))
        }
      val repairChanges = repair.map(_._1)
      val afterRepair = repairChanges.fold(stored)(upsert(stored, _))
      // nothing newly on-chain → no new edges, provably an empty delta: skip
      // the whole incremental pass (its funder derivation alone is a
      // corpus-grain scan a quiet fallback batch should never pay). The
      // replace repair clustered the whole post-reorg chain, arrivals
      // included, and already emitted their new addresses: one clustering
      // per reorg batch, no second pass over the arrivals.
      val replaced = repair.exists(_._2 == WalletCluster.RepairRoute.Replace)
      val delta =
        if (nArrived == 0L || replaced) Seq.empty[(String, String)].toDF("address", "wallet_id")
        else phase("incremental")(ChainOps.localCheckpoint(
          WalletCluster.incrementalClusters(afterRepair,
            fundersOf(spark, bronze.join(arrived, Seq("hash"), "left_semi")))))
      // combined changed-row set vs the ON-DISK store
      val changes = repairChanges.fold(delta)(upsert(_, delta))
      val slotted = changes.withColumn(bucket, slotOf(col("address")))
      val changedSlots = slotted.select(bucket).distinct()
        .collect().map(_.getInt(0))
      if (changedSlots.nonEmpty) phase("slot write") {
        // full content of ONLY the changed slots; localCheckpoint is
        // slot-sized, not store-sized, and breaks the cycle of reading
        // the path being overwritten. Explicit schema: the store can be
        // legitimately empty (see the bootstrapping read above).
        val content = ChainOps.localCheckpoint(
          spark.read.schema(WalletStoreSchema).parquet(storePath)
            .select("address", "wallet_id")
            .withColumn(bucket, slotOf(col("address")))
            .where(col(bucket).isin(changedSlots.map(Integer.valueOf): _*))
            .join(changes.select("address"), Seq("address"), "left_anti")
            .unionByName(slotted))
        PartitionedGold.overwriteAffected(content, storePath, bucket)
      }
      WalletBatch(Some(route), nArrived, nInvalidated, repair.map(_._2), repair.flatMap(_._3))
    }
    // Frontier upkeep, stamp-invalidate-first (see the read-side note):
    // 1. invalidate the stamp, 2. rewrite the body if it changed, 3. write
    // the cursor, 4. re-stamp with the new tip. The incremental routes
    // carry the index forward exactly (the walk derived the post-batch
    // state); the full routes re-derive it from post-append bronze — two
    // anti-joins amortized into the resolution they already paid for —
    // EXCEPT when the index was already in overflow and the route was
    // incremental: re-deriving a known-overflowed index every tip extension
    // would put bronze-sized anti-joins plus capped driver collects back on
    // the O(batch) path, so overflow sticks until the next full route
    // refreshes it.
    //
    // The `_edges` multiset (the best chain's co-spend star edges, for the
    // reorg repair) follows the same stamp protocol with one difference:
    // it is written only by the bootstrap and a replace repair, BEFORE the
    // store and the cursor (`!pending`, body, new tip — [[writeEdges]]),
    // and its stamp is trusted only while it names a block on the prior
    // cursor chain. A crash after its stamp leaves a tip the cursor never
    // reached, which [[edgeSource]] distrusts; extend and unchanged
    // batches leave it alone, and the repair moves it by the blocks
    // between its tip and the anchor.
    val incrementalRoute = route match {
      case _: ChainRoute.Full => false
      case ChainRoute.Extend | ChainRoute.Unchanged => true
    }
    val refreshedFrontier: Option[Frontier] = upd.newFrontier.orElse {
      if (frontierOverflow && incrementalRoute) None
      else deriveFrontier(spark, bronze, bestHashes)
    }
    // On the extend route the reorged-out cursor rows (above the anchor)
    // left the chain and must join `pending`. The prior chain is a LINE, so
    // each one's parent is the prior-chain block one height below — all
    // derivable from the (hash, height) rows of the collected top buckets
    // when the anchor is in range (a pruned cursor read below it), no
    // bronze access. Depth is reorg-bounded; a depth the pending
    // cap cannot absorb (or a full prior-chain replacement, anchor < 0)
    // re-derives from bronze instead of collecting unbounded cursor rows.
    val frontierFinal: Option[Frontier] = (refreshedFrontier, upd.extendDelta) match {
      case (Some(f), Some((_, anchorH))) if prevTip.exists(_._2 > anchorH) =>
        val depth = prevTip.get._2.toLong - anchorH
        if (anchorH < 0 || depth > PendingCap.toLong - f.pending.size)
          deriveFrontier(spark, bronze, bestHashes)
        else {
          val invRows = prevTop.flatMap(_.from(anchorH)).map(_.toArray).getOrElse(
            cursorPrune(prevCursor.get, anchorH)
              .where(col("height") >= anchorH)
              .select(col("hash"), col("height").cast("int").as("height"))
              .collect().map(r => (r.getString(0), r.getInt(1))))
          val hashAt = invRows.map { case (h, ht) => ht -> h }.toMap
          val invPairs = invRows.filter(_._2 > anchorH).map { case (h, ht) =>
            h -> hashAt.getOrElse(ht - 1, null)
          }
          Some(Frontier(f.dangling, f.pending ++ invPairs))
        }
      case _ => refreshedFrontier
    }
    // cap enforcement on the INCREMENTAL growth path too (deriveFrontier
    // caps its own collects): a drain whose backlog outgrows the driver
    // budget records overflow rather than accumulating an unbounded map
    val frontierCapped = frontierFinal.filter(f =>
      f.pending.size <= PendingCap && f.dangling.size <= DanglingCap)
    // known on-disk body state (None = unknown/untrusted → always rewrite);
    // inside, None = the overflow marker, Some = a trusted Frontier — which
    // is exactly what `frontier` already encodes when the rows were read
    val prevBody: Option[Option[Frontier]] = frontierRows.map(_ => frontier)
    Hfs.writeText(spark, frontierStampPath, "!pending\n")
    if (!prevBody.contains(frontierCapped))
      writeFrontierBody(spark, frontierPath, frontierCapped)
    // Write ordering is store-then-cursor: a crash between them leaves a
    // stale cursor, so the next batch re-derives a change set that includes
    // already-applied blocks — both update paths then produce empty deltas
    // against the already-updated store, so the store converges without
    // rewrites. The cursor carries (hash, height), stored HEIGHT-BUCKETED:
    // on the extend route only the buckets from the anchor up change, and —
    // because the winning path is contiguous from the anchor to a tip at or
    // above the prior one — every such bucket receives content, so a
    // dynamic partition overwrite of bucket-sized data covers it with no
    // deletion case. At a 100M-block chain that is a KB-scale write per
    // sync instead of a GB-scale cursor rewrite. The full routes write only
    // the buckets whose content changed, the whole layout on bootstrap, from
    // the checkpointed resolution.
    writeCursor(spark, upd, prevCursor, prevTop, cursorPath)
    // 4. re-stamp with the NEW tip — the last write of the batch, so a
    // matching stamp proves body and cursor were both committed together
    newTip.foreach(t => Hfs.writeText(spark, frontierStampPath, t + "\n"))
    record
  }

  /** Re-derive the [[Frontier]] from bronze: dangling = parents referenced
    * but absent (one anti-join), pending = blocks off the given best chain
    * (one anti-join). None when either side exceeds its driver cap — the
    * overflow marker, after which the maintainer uses the authoritative
    * bronze scans until a later full route finds the index back under cap.
    */
  private def deriveFrontier(
      spark: SparkSession, bronze: DataFrame,
      bestHashes: DataFrame): Option[Frontier] = {
    val parents = bronze.select(col("parent_hash").as("h"))
      .where(col("h").isNotNull).distinct()
    val dRows = parents
      .join(bronze.select(col("hash").as("h")), Seq("h"), "left_anti")
      .limit(DanglingCap + 1).collect().map(_.getString(0))
    if (dRows.length > DanglingCap) return None
    val best = bestHashes.select(col(bestHashes.columns.head).as("hash"))
    val pRows = bronze.select("hash", "parent_hash")
      .join(best, Seq("hash"), "left_anti")
      .limit(PendingCap + 1).collect()
    if (pRows.length > PendingCap) return None
    Some(Frontier(dRows.toSet,
      pRows.iterator.map(r => r.getString(0) -> r.getString(1)).toMap))
  }

  /** Overwrite the frontier sidecar body (stamp protocol is the caller's).
    * One coalesced file: the body is driver-sized by construction.
    */
  private def writeFrontierBody(
      spark: SparkSession, path: String, frontier: Option[Frontier]): Unit = {
    import spark.implicits._
    val rows: Seq[(String, String, String)] = frontier match {
      case Some(f) =>
        f.dangling.toSeq.map(h => ("d", h, null: String)) ++
          f.pending.toSeq.map { case (h, p) => ("p", h, p) }
      case None => Seq(("overflow", null: String, null: String))
    }
    rows.toDF("kind", "hash", "parent_hash")
      .coalesce(1).write.mode("overwrite").parquet(path)
    ()
  }

  /** Where a reorg batch's replace repair takes its co-spend edges from.
    * The `_edges` multiset is trusted only when its stamp T0 is a hash on
    * the prior cursor chain: a stamp at `!pending`, or one naming a tip the
    * cursor never reached (a crash between the multiset and the cursor
    * writes), re-derives. Moving it to the post-reorg chain of anchor A
    * retracts the cursor blocks in (A, T0's height] and adds those in
    * (T0's height, A] plus the arrivals — two `lookup`s, both within the
    * collected top buckets or the batch re-derives.
    */
  private def edgeSource(
      spark: SparkSession, labelsDir: String,
      extendDelta: Option[(Seq[(String, Int)], Int)],
      prevCursor: DataFrame, top: CursorTop,
      lookup: Seq[String] => DataFrame): (graft.chain.WalletCluster.EdgeSource, EdgeRoute) = {
    import graft.chain.WalletCluster.EdgeSource
    def rederive(reason: String) = (EdgeSource.Rederive, EdgeRoute.Rederived(reason))
    (extendDelta, Hfs.readText(spark, s"$labelsDir/_edges_ok").map(_.trim)) match {
      case (None, _) => rederive("full")
      case (_, None) => rederive("missing")
      case (_, Some("!pending")) => rederive("pending")
      case (Some((path, anchorH)), Some(t0)) => top.rows.get(t0) match {
        case None =>
          val below = top.fromHeight > 0 &&
            !prevCursor.where(col("hash") === t0).limit(1).isEmpty
          rederive(if (below) "outside-buckets" else "off-chain")
        case Some(t0h) => top.from(math.min(t0h, anchorH) + 1) match {
          case None => rederive("outside-buckets")
          case Some(rows) => readEdges(spark, labelsDir) match {
            case None => rederive("missing")
            case Some(edges) =>
              val range = rows.toSeq
              val retract = range.collect { case (h, ht) if ht > anchorH && ht <= t0h => h }
              val add = range.collect { case (h, ht) if ht > t0h && ht <= anchorH => h } ++
                path.map(_._1)
              (EdgeSource.Stored(edges, lookup(retract), lookup(add)),
                EdgeRoute.Multiset(top.tip.fold(t0h)(_._2) - t0h, retract.size + add.size))
          }
        }
      }
    }
  }

  /** Overwrite the `_edges` multiset of the chain ending at `tip`, in the
    * stamp order: `!pending`, the body, then the tip (no tip leaves it
    * pending). The body is one binary file — the edge count, then (funder,
    * hub, n) per edge — written and read on the driver without a Spark job:
    * it is driver-sized by construction (the repair builds it in memory).
    */
  private def writeEdges(spark: SparkSession, labelsDir: String,
      edges: graft.chain.WalletCluster.Edges, tip: Option[String]): Unit = {
    val stampPath = s"$labelsDir/_edges_ok"
    Hfs.writeText(spark, stampPath, "!pending\n")
    Hfs.writeData(spark, s"$labelsDir/_edges") { out =>
      out.writeInt(edges.size)
      edges.foreach { case ((a, h), n) => out.writeUTF(a); out.writeUTF(h); out.writeLong(n) }
    }
    tip.foreach(t => Hfs.writeText(spark, stampPath, t + "\n"))
  }

  /** The `_edges` body [[writeEdges]] wrote; None when there is none. */
  private[graft] def readEdges(
      spark: SparkSession, labelsDir: String): Option[graft.chain.WalletCluster.Edges] =
    Hfs.readData(spark, s"$labelsDir/_edges") { in =>
      Iterator.fill(in.readInt())((in.readUTF(), in.readUTF()) -> in.readLong()).toMap
    }

  /** Height-bucket width of the `_bestchain` cursor layout. */
  private[graft] val CursorBucketSize = 10000

  /** Driver-side cap on the maintained dangling-parent index — a corpus
    * arriving mostly out of order can keep half its blocks dangling, and
    * past this size the sidecar records overflow and the maintainer uses
    * the distributed bronze-scan attachment check instead.
    */
  private[graft] def DanglingCap: Int =
    sys.props.get("graft.danglingCap").map(_.toInt).getOrElse(1000000)

  /** Driver-side cap on the pending (off-chain) block index — the reorder
    * buffer half of the [[Frontier]]. 1M (hash, parent) pairs ≈ 300 MB of
    * driver heap at the cap, the same order as the broadcast envelope; a
    * drain whose unattached backlog exceeds it records overflow and pays
    * the full resolution per batch until the backlog attaches (the honest
    * pre-r16 behavior). Both caps are sys-prop-overridable so specs can
    * drive the overflow lifecycle on small fixtures (the
    * `graft.broadcastMaxRows` pattern).
    */
  private[graft] def PendingCap: Int =
    sys.props.get("graft.pendingCap").map(_.toInt).getOrElse(1000000)

  /** Driver-side envelope for the maintainer's FULL-route header walk —
    * wider than [[graft.operators.ChainOps.BroadcastMaxRows]] because the
    * probe is a once-per-full-resolution transient read (bootstrap and the
    * designed fallbacks, never the steady-state per-batch path), reduced
    * immediately to the chain + the capped frontier, and never broadcast:
    * 2M (hash, parent) rows ≈ 600 MB–1 GB of transient driver heap, which
    * the corpus-scale rehearsal driver (16 GiB at 30×) absorbs. Chains
    * above the cap take the distributed doubling resolution — the honest
    * from-scratch path. Sys-prop-overridable so specs can force the
    * distributed route on small fixtures.
    */
  private[graft] def BootstrapWalkCap: Int =
    sys.props.get("graft.bootstrapWalkCap").map(_.toInt).getOrElse(2000000)

  /** Driver-side cap on the per-batch collect that feeds the incremental
    * walk (and, in [[walletLabelsBatch]], the bronze append of the same
    * rows) — batches above it take the always-correct full resolution.
    * 250k header rows (hash, parent, ts) ≈ 75 MB of driver heap — a
    * quarter of the pending index's own budget, and comfortably above a
    * catch-up drain's file-bounded batches (the 10× rehearsal lands ~125k
    * blocks per batch; the old 100k cap silently routed every one of them
    * to the full resolution).
    */
  private[graft] val BatchWalkCap = 250000

  /** Partition-prune the cursor to the buckets at/above `anchorH`. */
  private def cursorPrune(cursor: DataFrame, anchorH: Int): DataFrame =
    cursor.where(col(PartitionedGold.BucketCol) >= math.max(anchorH, 0) / CursorBucketSize)

  private def writeCursor(
      spark: SparkSession, upd: BestChainUpdate,
      prevCursor: Option[DataFrame], top: Option[CursorTop],
      cursorPath: String): Unit = {
    import spark.implicits._
    val bucketCol = PartitionedGold.BucketCol
    upd.extendDelta match {
      case Some((path, anchorH)) if anchorH >= 0 =>
        // affected buckets = [anchor bucket .. new tip bucket]; content =
        // the prior chain's rows at or below the anchor WITHIN those
        // buckets, plus the new path. When the anchor bucket is in the
        // collected top buckets the content is driver rows that do not
        // read cursorPath; below them the bucket-sized read is checkpointed
        // to break the read-from-overwritten-path cycle.
        val content = top.flatMap(_.from(anchorH / CursorBucketSize * CursorBucketSize)) match {
          case Some(rows) =>
            (rows.filter(_._2 <= anchorH) ++ path)
              .map { case (h, ht) => (h, ht, ht / CursorBucketSize) }.toSeq
              .toDF("hash", "height", bucketCol)
          case None =>
            val prefix = cursorPrune(prevCursor.get, anchorH)
              .where(col("height") <= anchorH)
              .select("hash", "height")
            ChainOps.localCheckpoint(PartitionedGold.withBucket(
              prefix.unionByName(path.toDF("hash", "height")), "height", CursorBucketSize))
        }
        PartitionedGold.overwriteAffected(content, cursorPath)
      case _ =>
        // "unchanged" reaches here only on a label-store re-bootstrap: the
        // cursor already holds this chain (upd.best is a lazy read of it)
        if (upd.route == ChainRoute.Unchanged) return
        // upd.best reads no cursor file here: the full routes are
        // checkpointed in the resolver, an anchor < 0 is the walk's local path
        val newBuckets = PartitionedGold.withBucket(
          upd.best.select(col("hash"), col("height").cast("int").as("height")),
          "height", CursorBucketSize)
        prevCursor match {
          case Some(prev) =>
            // Bucketed prior cursor: write ONLY the buckets whose content
            // changed — rows present on exactly one side mark their bucket
            // (hashes are unique per side, so count==2 ⇔ row unchanged).
            // A fragment-attaching catch-up batch that barely moves the
            // best chain rewrites one bucket, not the whole chain layout;
            // the batch that finally connects the corpus rewrites them all,
            // which is its honest cost.
            val changed = newBuckets.unionByName(prev.select("hash", "height", bucketCol))
              .groupBy("hash", "height", bucketCol).count()
              .where(col("count") === 1)
              .select(bucketCol).distinct()
              .collect().map(_.getInt(0)).toSet
            if (changed.nonEmpty) {
              val content = newBuckets
                .where(col(bucketCol).isin(changed.toSeq.map(Integer.valueOf): _*))
              PartitionedGold.overwriteAffected(content, cursorPath)
              // a changed bucket with NO new content (the chain shrank past
              // its boundary) gets nothing from the dynamic overwrite — its
              // stale directory must go explicitly
              val kept = newBuckets.select(bucketCol).distinct()
                .collect().map(_.getInt(0)).toSet
              (changed -- kept).foreach { b =>
                Hfs.delete(spark, s"$cursorPath/$bucketCol=$b")
              }
            }
          case None =>
            // bootstrap: the whole bucketed layout
            newBuckets.write.mode("overwrite").partitionBy(bucketCol).parquet(cursorPath)
        }
    }
    ()
  }

  /** Stateful running balances (SURVEY.md §2.4 A4 streaming form): the
    * reference maintains AddressBalance by `+=`/`-=` on every event
    * (BlockchainToGraph.java:856–862, 913–919); here the state store keeps
    * one Long per address and each micro-batch emits the updated balance.
    * Reorg retraction = feeding negative deltas (cf.
    * [[graft.functions.ExactDistinctWithRetraction]] for distinct counts).
    * State is partitioned by key across executors — 1B addresses is just a
    * bigger state store, not a bigger driver.
    */
  def runningBalances(
      deltas: org.apache.spark.sql.Dataset[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import deltas.sparkSession.implicits._
    deltas
      .groupByKey(_._1)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (addr, rows, state) =>
          val bal = state.getOption.getOrElse(0L) + rows.map(_._2).sum
          state.update(bal)
          (addr, bal)
      }
      .toDF("address", "balance")
  }

  /** Streaming form of S1: raw blk files arriving in a directory are parsed
    * incrementally — the reference's tail-the-datadir loop
    * (BlockchainToGraph.java:116–167) as an unbounded source. The file-source
    * checkpoint is the cursor; each discovered file is parsed by the same
    * wire-format flatMap as the batch scan, fully parallel within a batch.
    */
  def blkFileStream(
      spark: SparkSession, dir: String,
      networkMagic: Int = graft.sources.BlockFileSource.Magic,
      maxFilesPerTrigger: Int = 2): org.apache.spark.sql.Dataset[graft.sources.BlockFileSource.RawBlock] = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    // path-only projection + per-task Hadoop stream, same as the batch scan
    // (BlockFileSource.pathScan): the source never materializes whole-file
    // content arrays, so a 128 MiB blk file costs O(block) task heap here too
    val hconf = new org.apache.spark.util.GraftSerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "blk*.dat")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select("path").as[String]
      .flatMap { p =>
        // shared per-file unit: stream closes on exhaustion, not only at
        // task completion (fd-per-file accumulation on packed partitions)
        graft.sources.BlockFileSource.readBlocks(
          p, hconf.value, networkMagic, lenient = false, _ => ())
      }
  }

  /** Tumbling / session event-time aggregation over a stream (T7):
    * watermark + window — the declared streaming-agg surface.
    */
  def windowedCounts(events: DataFrame, tsCol: String, delay: String, width: String): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
}
