package graft.chain

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}

import graft.Telemetry.{phase, route, RouteDecision}
import graft.operators.ChainOps

/** Best-chain resolution over an append-only block set — the Spark-native
  * replacement for the reference's tip traversal
  * (`repeat(out("chain")).until(...)`, BlockchainToGraph.java:38–49) and its
  * mutable reorg delete-path (BlockchainToGraph.java:523–777). Blocks are
  * never mutated: the best chain is a VIEW over immutable bronze, so a reorg
  * is just this computation returning a different answer (SURVEY.md §2.9 T4).
  *
  * Scale: a forest inside the broadcast envelope resolves in one in-memory
  * walk. Above it, heights come from pointer doubling (ChainOps.resolve,
  * arity 4: ceil(log_4 depth) rounds, ~10 for a 1M-block chain) and chain
  * membership from ancestor doubling over the jump tables that pass keeps
  * — the frontier S holds the tip's nearest ancestors and grows 4× per
  * table. Every round is rebased (ChainOps.rebase): the logical plan stays
  * flat instead of growing per iteration.
  */
object BestChain {

  /** (hash, height) for every block in a parent-pointer forest. */
  def heights(blocks: DataFrame): DataFrame =
    ChainOps.rootsAndDepths(blocks.select("hash", "parent_hash"), "hash", "parent_hash")
      .select(col("hash"), col("height").cast("int").as("height"))

  /** blocks + (height, is_on_best_chain). Best tip = max height, ties broken
    * by min hash (deterministic; the reference takes file order —
    * BlockchainToGraph.java:91–102 — which a batch engine cannot see).
    * Alias of [[annotateDistributed]], which already routes adaptively:
    * forests inside the broadcast envelope resolve in one in-memory pass,
    * larger ones take the doubling path.
    */
  def annotate(blocks: DataFrame): DataFrame = annotateDistributed(blocks)

  /** The in-memory walk shared by every envelope route: memoized height
    * walk over a collected parent forest, tip pick, best-chain walk.
    * Returns (heights, on-chain set) — phantom parents (dangling pointers,
    * never seen as blocks) are INCLUDED in the memo at their saturate-at-
    * root positions and must be filtered by the caller against its id set.
    */
  private def resolveInMemory(pairs: Array[(String, String)],
      genesisRootedTips: Boolean = false)
      : (scala.collection.mutable.HashMap[String, Int],
         scala.collection.mutable.HashSet[String]) = {
    // node → parent for every non-null pointer, INCLUDING dangling ones
    // (parents never seen as blocks): the walk terminates at the phantom
    // parent, so a dangling pointer counts its one unresolvable hop —
    // exactly ChainOps' saturate-at-root semantics (a null-parent root sits
    // at height 0, a dangling-parent block at 1), which the bk6 oracle pins.
    // genesisRootedTips restricts the TIP COMPETITION to genesis-rooted blocks
    // (walks ending at a null-parent block, not a phantom) — heights keep
    // the total semantics, the chain just never seats an orphan fragment.
    val parentOf: Map[String, String] = pairs.flatMap { case (h, p) =>
      Option(p).map(h -> _) }.toMap
    val ids: Set[String] =
      if (genesisRootedTips) pairs.iterator.map(_._1).toSet else Set.empty
    val memo = scala.collection.mutable.HashMap.empty[String, Int]
    val grounded = scala.collection.mutable.HashSet.empty[String]
    pairs.foreach { case (h, _) =>
      // walk up to the first memoized ancestor or a root (stack-safe),
      // then assign heights back down the walked path. Step cap = cycle
      // guard: a legitimate walk visits each block at most once, so more
      // steps than blocks proves a parent-pointer loop (corrupt input —
      // real block hashes can't cycle) and the walk must error, not hang.
      var stack = List.empty[String]
      var cur = h
      var steps = 0
      while (!memo.contains(cur) && parentOf.contains(cur)) {
        steps += 1
        if (steps > pairs.length) throw new IllegalStateException(
          "cyclic parent pointers in block input — cannot resolve heights")
        stack ::= cur
        cur = parentOf(cur)
      }
      val curGrounded = genesisRootedTips &&
        (grounded.contains(cur) || (!memo.contains(cur) && ids.contains(cur)))
      var hh = memo.getOrElseUpdate(cur, 0)
      if (curGrounded) { grounded += cur; grounded ++= stack }
      stack.foreach { n => hh += 1; memo(n) = hh }
    }
    val candidates = if (genesisRootedTips) memo.view.filterKeys(grounded) else memo.view
    if (candidates.isEmpty)
      return (memo, scala.collection.mutable.HashSet.empty[String])
    val (tip, tipH) = candidates.minBy { case (k, v) => (-v, k) }
    val onChain = scala.collection.mutable.HashSet(tip)
    var cur = tip
    var steps = tipH
    while (steps > 0) {
      parentOf.get(cur).foreach { p => onChain += p; cur = p }
      steps -= 1
    }
    (memo, onChain)
  }

  /** [[annotateDistributed]]'s envelope route: the collected block rows
    * (every column), resolved in one in-memory walk and returned as a
    * driver-built frame — `blocks`' columns with `hash` first, then
    * `height` and `is_on_best_chain`, the column order (and nullability)
    * of the doubling route's join. A null-hash row drops (the doubling
    * route's dictionary encode drops it before the walk, so it never
    * competes for the tip) and a duplicated hash keeps one output row per
    * input row.
    */
  private def annotateInMemory(blocks: DataFrame, rows: Array[Row]): DataFrame = {
    val schema = blocks.schema
    val hashIdx = schema.fieldIndex("hash")
    val parentIdx = schema.fieldIndex("parent_hash")
    val rest = schema.indices.filter(_ != hashIdx)
    val keyed = rows.filterNot(_.isNullAt(hashIdx))
    val (memo, onChain) = resolveInMemory(
      keyed.map(r => (r.getString(hashIdx), r.getString(parentIdx))))
    val out = keyed.toSeq.map { r =>
      val h = r.getString(hashIdx)
      Row.fromSeq(h +: rest.map(r.get) :+ memo(h) :+ onChain.contains(h))
    }
    ChainOps.driverFrame(blocks.sparkSession, out, StructType(
      schema(hashIdx) +: rest.map(schema(_)) :+
        StructField("height", IntegerType) :+
        StructField("is_on_best_chain", BooleanType, nullable = false)))
  }

  /** (hash, height) of the best chain over GENESIS-ROOTED blocks only — the
    * incremental maintainer's semantics (the reference's reorder buffer,
    * BlockchainToGraph.java:34–35): an orphan-rooted fragment, however
    * long, is not a tip candidate until it connects, so a catch-up drain's
    * shuffled arrivals never seat a fragment as the chain only to rebase it
    * away next batch. EMPTY when no null-parent root has arrived yet. The
    * batch annotator's total orphan semantics (the bk1/bk6 oracles) are
    * untouched. Walked in memory under a CALLER-CHOSEN driver envelope, and
    * — when the walk route ran — returned with the off-chain index the same
    * probe already proves: (dangling parent hashes, pending block → parent).
    * Above the envelope: one rootsAndDepths pass classifies components, then
    * the standard annotator runs on the genesis-rooted subset. The
    * streaming maintainer's full routes pass a wider envelope than the
    * broadcast cap (the probe is read once per full resolution, reduced
    * immediately to the chain plus a capped frontier, and never broadcast),
    * which turns the once-per-deployment catch-up bootstrap from a
    * distributed doubling resolution into the same driver cascade the
    * fragment-drain attach path uses — and hands the maintainer its
    * post-batch [[graft.streaming.ChainStream.Frontier]] for free, where
    * the distributed route's callers must re-derive it with two bronze
    * anti-joins. `None` in the second slot = the distributed route ran
    * (chain above the envelope).
    */
  private[graft] def bestChainConnectedWithFrontier(
      blocks: DataFrame, envelope: Int)
      : (DataFrame, Option[(Set[String], Map[String, String])]) = {
    val probe = phase("probe")(blocks.select("hash", "parent_hash")
      .limit(envelope + 1).collect().map(r => (r.getString(0), r.getString(1))))
    val walk = probe.length <= envelope
    route(RouteDecision("bestChainConnected", if (walk) "walk" else "distributed",
      probe.length, envelope, if (walk) "within the envelope" else "above the envelope"))
    if (walk) {
      val (memo, onChain) = phase("walk")(resolveInMemory(probe, genesisRootedTips = true))
      val ids = probe.iterator.map(_._1).toSet
      val rows = memo.iterator.collect {
        case (k, v) if onChain.contains(k) && ids.contains(k) => Row(k, v)
      }.toSeq
      val dangling = probe.iterator.flatMap(p => Option(p._2)).filterNot(ids).toSet
      val pending = probe.iterator.filterNot(p => onChain.contains(p._1)).toMap
      (ChainOps.driverFrame(blocks.sparkSession, rows, StructType(Seq(
          StructField("hash", StringType), StructField("height", IntegerType, nullable = false)))),
        Some((dangling, pending)))
    } else {
      // No dangling reference in bronze ⇒ every root is a null-parent block
      // ⇒ connected == total, and the classification pass (a SECOND
      // doubling resolution) is pure waste — this is exactly the state a
      // drain converges to, where the one honest full batch runs. One
      // anti-join probe decides.
      val anyDangling = !blocks
        .select(col("parent_hash").as("h")).where(col("h").isNotNull)
        .join(blocks.select(col("hash").as("h")), Seq("h"), "left_anti")
        .isEmpty
      val groundedBlocks =
        if (!anyDangling) blocks
        else {
          val rd = ChainOps.rootsAndDepths(
            blocks.select("hash", "parent_hash"), "hash", "parent_hash")
          blocks.join(
            rd.join(blocks.where(col("parent_hash").isNull)
                .select(col("hash").as("root")), Seq("root"), "left_semi")
              .select("hash"),
            Seq("hash"), "left_semi")
        }
      (annotateDistributed(groundedBlocks)
        .where(col("is_on_best_chain"))
        .select(col("hash"), col("height").cast("int").as("height")), None)
    }
  }

  /** The scale path, route-picked on the block count with the same size cut
    * as Spark's own broadcast-vs-shuffle join decision:
    *
    *  - **≤ [[graft.operators.ChainOps.BroadcastMaxRows]]**: the block set
    *    fits the broadcast envelope (the exact build-side collect a
    *    BroadcastExchange performs), so the probe that proves it already
    *    holds every row, and the whole resolution — heights AND membership
    *    — is ONE in-memory pass over them ([[annotateInMemory]]) instead of
    *    O(log depth) distributed jobs of fixed stage latency. The result is
    *    built on the driver: no join back to `blocks`, so its consumers
    *    never re-read the input. Chain walks are inherently sequential
    *    (each hop needs the previous hash), so the in-memory pass is the
    *    optimal plan whenever the forest ships.
    *  - **above it**: O(log_Arity depth) self-join doubling rounds for
    *    heights, then membership = the tip's ancestor set via the
    *    ancestor-doubling loop over the jump tables retained from the
    *    height pass: the frontier S starts at {tip, root} and one round per
    *    table — Arity−1 chained jump joins, a distinct, and a
    *    lineage-truncating rebase — grows it Arity× per round. The rebase
    *    is load-bearing: each jump EMBEDS the previous S plan, so an
    *    unmaterialized chain of rounds duplicates the S subtree Arity× per
    *    round and plan canonicalization goes combinatorial (observed as a
    *    driver OOM at 50k blocks).
    *
    * The probe collects at most envelope+1 rows (an early-terminating
    * limit), so the above-envelope path never ships more than the envelope
    * before taking the loop. It collects every column of `blocks`: callers
    * pass narrow header frames — (hash, parent_hash, ts[, nonce_order]).
    */
  def annotateDistributed(blocks: DataFrame): DataFrame =
    phase("annotate")(annotateRouted(blocks))

  private def annotateRouted(blocks: DataFrame): DataFrame = {
    val envelope = ChainOps.driverEnvelope
    // The probe stays a limit+collect DELIBERATELY: CollectLimit executes
    // partitions incrementally (1, 4, 16, …) and stops at envelope+1 rows,
    // which above the envelope doubles as a GENTLE warm-up of the upstream
    // cache (bk0's parse persist) before the doubling loop's full-
    // parallelism passes. A count-over-limit probe plans as
    // LocalLimit→Exchange→count — every partition computes in ONE job, and
    // at a 1.5M-block corpus that max-concurrency parse storm OOMed a heap
    // the incremental probe survives. At the 2²⁰ envelope a header row
    // (hash, parent, ts) is ~300 B on the driver, ~300 MB in all: the
    // build-side cost a BroadcastExchange of the block set would pay.
    val probe = phase("probe")(blocks.limit(envelope + 1).collect())
    val inMemory = probe.length <= envelope
    route(RouteDecision("annotate", if (inMemory) "envelope" else "doubling",
      probe.length, envelope, if (inMemory) "within the envelope" else "above the envelope"))
    if (inMemory) return phase("in-memory")(annotateInMemory(blocks, probe))

    val resolved = phase("resolve")(ChainOps.resolve(
      blocks.select("hash", "parent_hash"), "hash", "parent_hash",
      keepTables = true))
    val h = resolved.result
      .select(col("id").as("hash"), col("dist").cast("int").as("height"))
    val withH = blocks.join(h, "hash")

    // Tip selection from the ENCODED state: `resolved.result` is a 3-way
    // join (state ⨝ dict ⨝ dict), so a TakeOrdered over it re-ran the full
    // decode — measured 4–5 s of annotate's 89 s at a 1.5M-block chain (r20
    // profile). Equivalent in two light jobs: (1) max(dist) over the
    // persisted encoded state, (2) decode ONLY the max-dist candidates (the
    // competing tips of the top height — a handful of rows) and keep the
    // lexicographically smallest hash — the same (dist desc, hash asc)
    // order the TakeOrdered applied (hex hashes are ASCII, so JVM string
    // ordering equals Spark's binary collation).
    val encState = blocks.sparkSession.createDataFrame(resolved.resultRdd,
      StructType(Seq(StructField("id", LongType), StructField("ptr", LongType),
        StructField("dist", LongType), StructField("done", BooleanType))))
    val maxDistRow = phase("tip max-dist")(encState.agg(max(col("dist"))).head())
    if (maxDistRow.isNullAt(0)) { // empty chain: empty annotation, not a driver crash
      resolved.tables.foreach(_._2.unpersist(blocking = false))
      resolved.resultRdd.unpersist(blocking = false)
      resolved.dict.unpersist()
      return withH.withColumn("is_on_best_chain", lit(false))
    }
    val tipHeight = maxDistRow.getLong(0)
    val tipCands = encState.where(col("dist") === tipHeight)
      .select("id", "ptr").collect().map(r => (r.getLong(0), r.getLong(1)))
    val candVids = tipCands.flatMap(p => Seq(p._1, p._2)).distinct
    val vidToHash = phase("tip decode")(resolved.dict.frame
      .where(col("vid").isin(candVids: _*)).collect()
      .map(r => r.getLong(1) -> r.get(0).asInstanceOf[String]).toMap)
    val (tipVid, tipRootVid) = tipCands.minBy(p => vidToHash(p._1))
    val tipHash = vidToHash(tipVid)
    val tipRoot = vidToHash(tipRootVid)

    val spark = blocks.sparkSession
    import spark.implicits._
    // the frontier's backing RDD — dropped after the final rebase below
    var sRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    // S: known ancestors of the tip, in the resolve's DICTIONARY space —
    // the jump tables hold encoded longs (ChainOps.resolve), so the
    // frontier stays encoded through the loop and decodes once at the end.
    // Starts at {tip, genesis}; after consuming table r it covers every
    // distance in [0, arity^(r+1)-1] ∪ {height}.
    val seedVids = resolved.dict.frame
      .where(col("oid").isin(tipHash, tipRoot)).select("vid")
      .collect().map(_.getLong(0)).toSeq
    var s = seedVids.distinct.toDF("vid")
    // The jump tables were built at whatever arity the height pass routed
    // to (Arity broadcast-side, 4 above the envelope — tables(r) jumps
    // arity^r), so the span bookkeeping must follow the SAME arity.
    val arity = resolved.arity
    var span = 1L // = arity^r, the jump distance of the table being consumed
    resolved.tables.foreach { case (tbl, _) =>
      if (span <= tipHeight) {
        // jump: follow tbl's arity^r pointer once; saturated rows land on
        // their root, which for members of S is the (already-seeded) tip
        // root. The shuffled-hash hint (guide §3.1) keeps the n-row tbl
        // side sort-free: without it every jump was a sort-merge join
        // sorting the full n-row table — 3 sorts × ~log_arity(depth) spans
        // was most of the membership pass's ~30 s at a 1.5M-block chain
        // (r20 profile). A broadcast-frontier route was measured SLOWER at
        // every |S| (each chained hop re-executes its predecessor to build
        // the broadcast, so the cached table is re-scanned 3× per span):
        // span=1024 took 3.0 s broadcast vs 1.8 s sort-merge vs the hash
        // route below; the exchange on the tbl side is built once per span
        // and reused by all three hops.
        //
        // Each hop output drops the tip-root vid, and the union below needs
        // NO distinct (guide §2.4 — a removable exchange+aggregate over up
        // to arity·|S| rows per span): jumps along the tip→root path are
        // injective on distance-from-tip, so the only repeatable hop output
        // is the saturate-at-root value itself — every member within `span`
        // of the root lands exactly ON the root (ChainOps' saturating
        // semantics), and the root is already in S from the seed. By
        // induction S covers the contiguous distances [0, arity·span−1]
        // ∪ {root}: the three hop outputs are the pairwise-disjoint ranges
        // [span,2·span−1], [2·span,3·span−1], [3·span,4·span−1] minus
        // saturated rows. A phantom tip root (dangling parent) has no jump
        // row at all — the inner join drops it and the seed keeps it.
        // PropertySpec's loop-route test pins both route agreement and the
        // duplicate-freeness this relies on.
        // (A frontier-side build — hint on cur, so the hash map holds |S|
        // rows and the n-row table streams as probes — was measured at 30×
        // and gained nothing: membership totals 24.4–25.5 s vs 23.7 s,
        // within the window's noise. The span floor is READING the n-row
        // exchange 3× per span, paid on either side; the tbl-side build
        // stands.)
        def jump(cur: DataFrame, t: Int): DataFrame = {
          val j0 = tbl.select(col("id").as(s"jid$t"), col("ptr").as(s"jptr$t"))
          cur.join(j0.hint("shuffle_hash"), cur("vid") === j0(s"jid$t"))
            .select(col(s"jptr$t").as("vid"))
            .where(col("vid") =!= lit(tipRootVid))
        }
        val hops = Iterator.iterate(s -> 0) { case (cur, t) => jump(cur, t + 1) -> (t + 1) }
          .drop(1).take(arity - 1).map(_._1).toSeq
        // coalesce (narrow — no exchange) bounds the frontier's partition
        // count: a bare union CONCATENATES its parents' partitions, so
        // without it S gains ~arity·partitions per span and the late-span
        // jumps/rebases pay per-partition overhead over a thousand
        // fragments (measured: last span 29 s fragmented vs ~6 s bounded).
        val coalesced = hops.foldLeft(s)(_ unionByName _)
          .coalesce(blocks.sparkSession.sessionState.conf.numShufflePartitions)
        val (ns, nsRdd) = phase(s"membership span=$span")(ChainOps.rebase(coalesced))
        if (sRdd != null) sRdd.unpersist(blocking = false)
        s = ns; sRdd = nsRdd
        span *= arity
      }
      ()
    }
    // Decode the frontier back to hashes through the resolve's dictionary
    // (one small join — |S| ≈ chain length ≥ the big side only at the very
    // end, and the dict side is the lookup).
    val sHash = resolved.dict.decode(s, "vid").select(col("vid").as("hash"))
    val ann = withH
      .join(sHash.withColumn("is_on_best_chain", lit(true)), Seq("hash"), "left")
      .na.fill(false, Seq("is_on_best_chain"))
    // Materialize the final annotation (pinned to the caller's scope), then
    // drop every piece of loop state — jump tables, the membership
    // frontier, the dictionary.
    val (annDf, _) = phase("final rebase")(ChainOps.rebase(ann))
    resolved.tables.foreach(_._2.unpersist(blocking = false))
    // On the walk route no tables were kept, so the height pass's final
    // state RDD is not covered by the loop above — drop it explicitly.
    resolved.resultRdd.unpersist(blocking = false)
    resolved.dict.unpersist()
    if (sRdd != null) sRdd.unpersist(blocking = false)
    annDf
  }
}
