package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Chain (linked-list / forest) analytics, replacing the reference's Gremlin
  * `repeat(out("chain")).until(...)` traversal (BlockchainToGraph.java:43–44)
  * and its 1,126-block reorder buffer (BlockchainToGraph.java:389–412).
  *
  * A per-hop traversal is O(depth) storage round-trips in the reference; here
  * `rootsAndDepths` uses pointer jumping — each round chains arity−1 self
  * equi-joins before materializing (arity = [[ChainOps.Arity]] when the
  * table broadcasts, 4 above the envelope), so every node's resolved prefix
  * grows arity× per round and a chain of depth d converges in
  * ceil(log_arity d) rounds (10 for a ~1M-block chain at 100 TB). Each round
  * costs exactly ONE Spark job: the convergence check rides on the
  * materialization pass instead of being a second action, and the in-round
  * hops are broadcast joins when the table fits. Intermediate state is
  * persisted and re-planned from a flat scan each round so the logical plan
  * never grows.
  */
object ChainOps {

  /** Jump-table growth per materialized round: each round chains Arity−1
    * hops before materializing, so every node's resolved prefix grows
    * Arity× per round and depth d converges in ceil(log_Arity d) rounds
    * (4 rounds for 50k blocks, 5 for a 1M-block chain). The hops inside a
    * round are broadcast hash joins when the table fits ([[BroadcastMaxRows]])
    * — one narrow stage — so raising the arity trades (cheap) in-stage work
    * for (expensive) blocking materializations.
    */
  val Arity: Int = 16

  /** Outcome of the pointer-jumping loop. `result` maps every node to its
    * root and depth; `tables` (only when requested) are the per-round jump
    * tables — tables(r) sends a node to its min(Arity^r, depth)-ancestor
    * (saturating at the root) — which [[graft.chain.BestChain]] reuses for
    * ancestor enumeration instead of re-deriving them by squaring. Each
    * table is backed by the paired persisted RDD; the caller owns unpersist.
    * `n` is the node count (known exactly from the first materialization —
    * callers reuse it for their own broadcast decisions).
    */
  private[graft] final case class Resolved(
      result: DataFrame,
      resultRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
      tables: Seq[(DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row])],
      n: Long,
      arity: Int,
      dict: VertexDictionary)

  /** Truncate a DataFrame's lineage at the RDD level: compile + materialize
    * the rows into a cached RDD and re-wrap with a fresh LogicalRDD.
    *
    * This is the iteration primitive for the doubling loops. Plain
    * `persist()` leaves the logical plan growing (it doubles per self-join
    * round → 2^rounds plan nodes), and Spark 4's `localCheckpoint()` runs
    * `rewriteStatsAndConstraints` over the pre-checkpoint plan whose
    * constraint/stats rewrite goes combinatorial across chained self-join
    * rounds (observed: driver pinned for minutes at 13 rounds). Dropping to
    * the RDD erases Catalyst state entirely: the next round plans against a
    * flat scan, every round, at constant cost. Returns the rebased frame and
    * its backing RDD so callers can unpersist the previous round; the cache
    * is pinned to the calling thread's innermost open [[graft.Scope]].
    */
  private[graft] def rebase(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val (out, rdd, _) = rebaseCounted(df, level)
    (out, rdd)
  }

  /** [[rebase]] that also returns the row count its materialization pass
    * already computed — callers making a size-routed decision (the CC
    * envelope routes) must not pay a second count job to recover it.
    *
    * `level`: string-heavy frames (hash pairs, dictionaries) should pass
    * MEMORY_AND_DISK_SER — a 64-char hash is ~170 in-heap bytes as a
    * deserialized java.lang.String vs ~70 serialized, and the deserialized
    * default OOMed the 1.5M-block corpus while the parse storm was live.
    */
  private[graft] def rebaseCounted(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row], Long) = {
    val rdd = df.rdd
    graft.Scope.pin(rdd.persist(level))
    val n = rdd.count() // materialize now so the previous round can be dropped
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd, n)
  }

  /** Eager local checkpoint, pinned to the calling thread's innermost open
    * [[graft.Scope]] — the form every per-batch checkpoint of the streaming
    * maintainer takes.
    */
  private[graft] def localCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    cp.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => graft.Scope.pin(l.rdd)
      case _ =>
    }
    cp
  }

  /** A DataFrame over rows already on the driver, as a parallelized RDD —
    * not a LocalRelation. Catalyst rules (ConvertToLocalRelation,
    * checkAnalysis) walk a local relation's every row on every plan that
    * consumes it, and it converts to internal rows single-threaded ON THE
    * DRIVER when materialized (measured ~17 s of the 30× bootstrap's final
    * batch for a 1.5M-row chain); an RDD splits the conversion across the
    * executor threads.
    */
  private[graft] def driverFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.length))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  /** [[rebase]] fused with the loop's bookkeeping: the total row count AND
    * the count of rows where `boolIdx` is false ride the SAME pass that
    * fills the cache, so a doubling round costs one job — not a materialize
    * job plus count jobs. (A persisted RDD caches each partition as the
    * aggregation drains it.)
    */
  private def rebaseCountFalse(df: DataFrame, boolIdx: Int,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row], Long, Long) = {
    val rdd = df.rdd
    graft.Scope.pin(rdd.persist(level))
    val (total, pending) = rdd.mapPartitions { it =>
      var t = 0L; var p = 0L
      it.foreach { r => t += 1; if (!r.getBoolean(boolIdx)) p += 1 }
      Iterator.single((t, p))
    }.fold((0L, 0L)) { case ((t1, p1), (t2, p2)) => (t1 + t2, p1 + p2) }
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd, total, pending)
  }

  /** Below this many rows the jump table broadcasts (~150 B/row → ≤150 MB):
    * every hop in a round is then a map-side BroadcastHashJoin against the
    * already-materialized state RDD — the whole round is ONE narrow stage
    * with zero exchanges. Above it, hops fall back to shuffle joins (the
    * general path: at 100 TB a 100M-block table can't broadcast, and the
    * shuffle join is the plan you want there anyway).
    *
    * Overridable via the `graft.broadcastMaxRows` system property so specs
    * can force the above-envelope paths (shuffle hops, loop membership) on
    * small fixtures — those branches must stay exercised even though every
    * local corpus fits the envelope.
    */
  def BroadcastMaxRows: Long =
    sys.props.get("graft.broadcastMaxRows").map(_.toLong).getOrElse(1L << 20)

  /** [[BroadcastMaxRows]] as a driver-collect row budget: clamped so the
    * `limit(envelope + 1)` probes of the envelope routes still fit an Int.
    * Callers read it ONCE per call — a second read could disagree under a
    * concurrent property change and misroute between a probe and its
    * route decision.
    */
  def driverEnvelope: Int = math.min(BroadcastMaxRows, (Int.MaxValue - 1).toLong).toInt

  /** One saturating pointer hop: advance every unresolved row of `cur` by
    * `state`'s current jump distance. `tag` keeps the hop columns unique so
    * the Arity−1 hops of a round can chain inside a single plan.
    */
  private def hopOnce(
      cur: DataFrame, state: DataFrame, tag: String, bcast: Boolean): DataFrame = {
    val hop0 = state.select(
      col("id").as(s"hid$tag"), col("ptr").as(s"hptr$tag"),
      col("dist").as(s"hdist$tag"), col("done").as(s"hdone$tag"))
    // Above the envelope, build the hop table as a SHUFFLED HASH join
    // (guide §3.1: pick the strategy deliberately): without the hint every
    // hop is a sort-merge join that SORTS the full jump table per hop — 3
    // hops × log_arity(depth) rounds of sorting ~n rows each (the r20
    // profile at a 1.5M-block chain put the resolve at 47–52 s of
    // annotate's 89 s). The build side is one jump-table partition
    // (n / shuffle-partitions rows of 4 numeric fields — a few MB at any
    // deployment's partitioning), streamed side stays pipeline-unsorted.
    // Results are identical; only the physical join changes.
    val hop = if (bcast) broadcast(hop0) else hop0.hint("shuffle_hash")
    // Left join: a dangling pointer (orphan whose parent was never seen —
    // the case the reference dies on, BlockchainToGraph.java:431) resolves
    // as its own root instead of silently dropping the row.
    cur.join(hop, cur("ptr") === hop(s"hid$tag"), "left")
      .select(
        cur("id"),
        when(cur("done") || col(s"hid$tag").isNull, cur("ptr"))
          .otherwise(col(s"hptr$tag")).as("ptr"),
        when(cur("done") || col(s"hid$tag").isNull, cur("dist"))
          .otherwise(cur("dist") + col(s"hdist$tag")).as("dist"),
        (cur("done") || col(s"hid$tag").isNull || col(s"hdone$tag")).as("done"))
  }

  /** The pointer-jumping loop shared by [[rootsAndDepths]] and
    * [[graft.chain.BestChain.annotateDistributed]]. State rows are
    * (id, ptr, dist, done): ptr = the min(arity^round, depth)-ancestor
    * (roots self-loop at dist 0, making the join total), done = ptr reached
    * a root. The arity is [[Arity]] when the table broadcasts and 4 above
    * the envelope. Each round chains arity−1 hops against the round's own
    * table (jump distance j advances to arity·j) and materializes ONCE,
    * with the remaining-unresolved count fused into that pass. The hops
    * broadcast the table when it fits, so a round under the threshold is
    * one narrow stage; chaining inside a round is safe because each hop
    * joins against the FLAT materialized table — only the cur-side plan
    * deepens, linearly.
    *
    * @param keepTables retain every round's persisted jump table for ancestor
    *                   enumeration (memory: rounds × |nodes| rows, i.e.
    *                   ~log_Arity(depth) copies of the id/ptr pairs — bounded
    *                   and spill-safe at MEMORY_AND_DISK; callers unpersist).
    */
  private[graft] def resolve(
      nodes: DataFrame, idCol: String, parentCol: String,
      keepTables: Boolean): Resolved = {
    // Dictionary-encode the ids to dense longs BEFORE the loop (a join
    // against the VertexDictionary — no driver-held map).
    // The jump state is (id, ptr, dist, done) per node per retained round:
    // over 64-char block hashes that is ~140 serialized bytes/row — at a
    // 1.5M-block chain the retained jump tables alone are ~4.7 GB and every
    // above-envelope shuffle hop moves ~225 MB. Over longs the same state
    // shuffles ~8× less, and a broadcast-envelope row budget admits the
    // same chain at a fraction of the bytes. The dictionary COVERS DANGLING
    // PARENTS (universe = ids ∪ referenced parents), so "parent never seen"
    // keeps its distinct encoding from "no parent" and the dangling
    // pseudo-root decodes back to the original unseen value, exactly as in
    // the un-encoded loop.
    // The encode path reads the input twice (universe scan + the encode
    // joins). That is fine by construction: every heavy producer feeding
    // this loop is already persisted upstream (bk0's toBronze parse cache,
    // bk1's parquet silver), and the probe in annotateDistributed warms
    // that cache incrementally before the first full pass here. An eager
    // rebase of the pairs was tried instead and OOMed the 1.5M-block
    // corpus: it adds a THIRD concurrent memory consumer (pair persist +
    // parse transients + upstream cache fill) in the very first stage.
    val base0 = nodes.select(col(idCol).as("id"), col(parentCol).as("parent"))
    val dict = VertexDictionary.build(
      base0.select(col("id")).union(base0.select(col("parent")).where(col("parent").isNotNull)),
      level = StorageLevel.MEMORY_AND_DISK_SER)
    // every non-null parent is in the universe, so a null encoded parent is
    // exactly a root. Distinct over the encoded longs: a replayed node (the
    // same id and parent twice) must resolve once — duplicate state rows
    // multiply every hop that lands on them, compounding down the subtree.
    val enc = dict.encode(dict.encode(base0, "id"), "parent", joinType = "left").distinct()
    val tables = scala.collection.mutable.ArrayBuffer
      .empty[(DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row])]
    var (state, stateRdd, n, unresolved) = graft.Telemetry.phase("round 0")(
      rebaseCountFalse(
        enc.select(
          col("id"),
          coalesce(col("parent"), col("id")).as("ptr"),
          when(col("parent").isNull, lit(0L)).otherwise(lit(1L)).as("dist"),
          col("parent").isNull.as("done")),
        boolIdx = 3))
    // The table size is fixed across rounds, so the broadcast decision is
    // made once, off the fused round-0 count.
    if (keepTables) tables += ((state, stateRdd))
    val bcast = n <= BroadcastMaxRows
    // The Arity=16 trade assumes hops are FREE (map-side broadcast joins
    // inside one narrow stage): chain 15 of them, materialize once. Above
    // the broadcast envelope every hop is a full shuffle, so the trade
    // shifts — but not all the way to classic arity-2: the r16 head-to-head
    // at a 1.5M-block chain measured the per-ROUND fixed cost (the rebase
    // materialization + its count pass over ~n rows) dominating the extra
    // in-round hop shuffles, so HALVING the round count wins even at 3
    // shuffle hops per round — resolve 116 s (22 rounds, arity 2) → 62 s
    // (12 rounds, arity 4), and the membership pass (one round per retained
    // table) halves its rounds with it, 40 s → 33 s. Arity 8 would spend
    // 7·log8(d) ≈ 2.3·log2(d) hop shuffles to shave only 4 more rounds —
    // past the knee.
    val arity = if (bcast) Arity else 4
    var r = 0
    // A well-formed forest of n nodes resolves in ceil(log_arity n) rounds
    // (depth ≤ n); needing more proves the parent pointers never saturate —
    // a cycle (corrupt input, since real block hashes can't loop) — and the
    // cap turns what would be an infinite loop into a diagnosable error.
    val maxRounds = 64 / (32 - Integer.numberOfLeadingZeros(math.max(arity - 1, 1))) + 2
    while (unresolved > 0) {
      r += 1
      if (r > maxRounds) throw new IllegalStateException(
        s"parent-pointer resolution did not converge after $r rounds " +
          s"($unresolved rows pending) — cyclic parent pointers in the input?")
      // Hop only the PENDING rows and pass the resolved ones through
      // unchanged (hopOnce's done-guard makes that a no-op rewrite). This
      // is load-bearing above the envelope, not an optimization: every
      // resolved row's ptr has saturated at its root, so on a mostly-
      // resolved chain the shuffle hop concentrates the whole frame on ONE
      // join key — observed at 1.5M blocks as single-task sort stages of
      // 20+ CPU-minutes each. Pending rows' ptrs are (near-)distinct, and
      // the pending set shrinks arity× per round.
      val pending = state.where(!col("done"))
      val hopped = (1 until arity).foldLeft(pending) { (cur, i) =>
        hopOnce(cur, state, s"h$i", bcast)
      }
      val round = state.where(col("done")).unionByName(hopped)
      // Above the envelope the retained jump tables dominate the heap:
      // ~log2(depth) copies of the full state. Encoded rows are 4 numeric
      // fields — ~100 in-heap bytes as boxed Row objects vs ~29 serialized
      // — so SER storage cuts the retained set ~3× for a small per-read
      // deserialization cost that the shuffle hops pay anyway. Broadcast-
      // side rounds keep deserialized rows: the table is re-broadcast from
      // the RDD every hop and staying deserialized avoids 15 decode passes
      // per round on the latency-critical small-corpus path.
      val (next, nextRdd, _, remaining) = graft.Telemetry.phase(s"round $r")(
        rebaseCountFalse(round, boolIdx = 3,
          if (bcast) StorageLevel.MEMORY_AND_DISK
          else StorageLevel.MEMORY_AND_DISK_SER))
      if (!keepTables) stateRdd.unpersist(blocking = false)
      else tables += ((next, nextRdd))
      state = next; stateRdd = nextRdd; unresolved = remaining
    }
    // Decode back to the caller's id space lazily — the frame references
    // the persisted dict, so consumers must read it before the dictionary
    // is unpersisted (rootsAndDepths materializes immediately; BestChain
    // cleans up only after its final annotation rebase).
    val decoded = dict.decode(dict.decode(state, "id"), "ptr")
    Resolved(decoded, stateRdd, tables.toSeq, n, arity, dict)
  }

  /** Resolve each node's root and depth in a parent-pointer forest.
    *
    * @param nodes  rows with (idCol, parentCol); parentCol NULL marks a root.
    *               ids must be unique. A parent that is not itself an id
    *               (dangling) is a pseudo-root one hop up: the node gets
    *               height 1 and that parent value as its root.
    * @return DataFrame(idCol, root, height) — height 0 at roots, root = the
    *         id of the chain's origin (≙ genesis block).
    */
  def rootsAndDepths(nodes: DataFrame, idCol: String, parentCol: String): DataFrame = {
    val resolved =
      graft.Telemetry.phase("resolve")(resolve(nodes, idCol, parentCol, keepTables = false))
    // Materialize the decoded result NOW (it references the persisted
    // dictionary — see resolve), then drop the loop's internals.
    val (out, _) = rebase(resolved.result
      .select(col("id").as(idCol), col("ptr").as("root"), col("dist").as("height")))
    resolved.resultRdd.unpersist(blocking = false)
    resolved.dict.unpersist()
    out
  }

  /** Depth only — the `BlockHeight` assignment of the reference
    * (BlockchainToGraph.java:364, 458, 516) computed set-wise.
    */
  def depths(nodes: DataFrame, idCol: String, parentCol: String): DataFrame =
    rootsAndDepths(nodes, idCol, parentCol).drop("root")
}
