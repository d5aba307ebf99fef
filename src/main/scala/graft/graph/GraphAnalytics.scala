package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Telemetry.phase
import graft.operators.{ChainOps, VertexDictionary}

/** Whole-graph batch analytics over the value-flow graph — the GraphX layer
  * of SURVEY.md §7.1. Vertices are addresses; a directed edge (a → b, v)
  * means a tx funded by `a` paid `v` satoshis to `b` (src_address of a
  * resolved input × address of an output of the same tx).
  *
  * The reference can only answer per-vertex questions by point traversals;
  * this layer answers whole-graph ones (influence ranking, flow structure)
  * as Pregel jobs — O(iterations) supersteps over partitioned adjacency,
  * the 100 TB form of graph analytics.
  */
object GraphAnalytics {

  /** Flow edges (src, dst, value) from resolved inputs + outputs of the same
    * tx. Coinbase txs contribute nothing (no funding address). Output value
    * is attributed to each funding address in full — the reference's
    * counterparty semantics (BlockchainToGraph.java:950–983), kept rather
    * than pro-rated.
    */
  def flowEdges(rin: DataFrame, outs: DataFrame): DataFrame =
    rin.select(col("tx_hash"), col("src_address").as("src")).distinct()
      .join(outs.select(col("tx_hash"), col("address").as("dst"), col("value")), "tx_hash")
      .groupBy("src", "dst").agg(sum("value").as("value"))

  /** In/out degree + flow totals per address — oracle-checkable SQL shape,
    * listed here because it IS the degree view of the graph.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("address"))
      .agg(count(lit(1)).as("out_degree"), sum("value").as("out_value"))
    val in = edges.groupBy(col("dst").as("address"))
      .agg(count(lit(1)).as("in_degree"), sum("value").as("in_value"))
    out.join(in, Seq("address"), "full")
      .select(col("address"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("out_value"), lit(0L)).as("out_value"),
        coalesce(col("in_value"), lit(0L)).as("in_value"))
  }

  /** `edges`' (src, dst) with both endpoints replaced by their vids. */
  private def encodeEndpoints(dict: VertexDictionary, edges: DataFrame,
      bcast: Boolean): DataFrame =
    Seq("src", "dst").foldLeft(edges.select("src", "dst"))((df, c) => dict.encode(df, c, bcast))

  /** The distinct undirected edges (u < v, self-loops dropped) of `edges`,
    * over vids. Canonicalizing by vid keeps the same UNORDERED edge set as
    * by address (least/greatest only picks a pair's representative), and no
    * consumer reads orientation from it.
    */
  private def undirected(dict: VertexDictionary, edges: DataFrame,
      bcast: Boolean): DataFrame =
    encodeEndpoints(dict, edges, bcast)
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct()

  /** The vertex dictionary of `edges`' endpoints and its undirected edge
    * set oriented from the lower (degree, vid) endpoint to the higher, as
    * (s, t), materialized — the input of [[triangleCounts]]' wedge join and
    * of [[orientedWedges]]. The caller unpersists both.
    */
  private def orientedEdges(edges: DataFrame)
      : (VertexDictionary, DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val dict = VertexDictionary.build(
      edges.select(explode(array(col("src"), col("dst")))))
    val und = undirected(dict, edges, dict.n <= ChainOps.BroadcastMaxRows)
    // The degree table is vertex-sized and consumed twice by the
    // orientation joins: materialize it once (the count rides the cache
    // fill), and under the broadcast envelope ship it broadcast so the
    // edge set is never shuffled before the closure join. Above the
    // envelope the shuffled joins stand.
    val (deg, degRdd, nVerts) = ChainOps.rebaseCounted(
      und.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("d")))
    val degB =
      if (nVerts <= ChainOps.BroadcastMaxRows) broadcast(deg)
      else deg
    val lower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    // The oriented edge set is consumed THREE times by the closure join —
    // materialize it once, or each consumer re-runs the distinct + degree
    // joins from the raw edges (3× a shuffle-heavy subtree at 100 TB).
    val (o, oRdd) = ChainOps.rebase(und
      .join(degB.select(col("x").as("u"), col("d").as("du")), "u")
      .join(degB.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(
        when(lower, col("u")).otherwise(col("v")).as("s"),
        when(lower, col("v")).otherwise(col("u")).as("t")))
    degRdd.unpersist(blocking = false)
    (dict, o, oRdd)
  }

  /** Per-address triangle participation counts over the UNDIRECTED flow
    * graph — the local-clustering signal (mixing services and exchange
    * hot wallets sit in dense triangle neighborhoods; pass-through chains
    * have none).
    *
    * Degree-oriented node-iterator as pure dataflow: canonicalize to
    * distinct undirected edges, orient every edge from its lower
    * (degree, id) endpoint to the higher, enumerate wedges at each source,
    * and close them against the oriented edge set. Orientation bounds every
    * vertex's oriented out-degree by O(sqrt(m)) — the hub address with a
    * million neighbors contributes wedges only from the edges it RECEIVES,
    * so the wedge join cannot go quadratic on skew (Suri & Vassilvitskii,
    * WWW '11). Three shuffles total (degree agg, wedge self-join, closure
    * join), no driver state, no iteration — one fixed dataflow at any scale.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // Wedges are enumerated over DENSE LONG vertex ids (guide §2.3 —
    // narrower types): the wedge self-join materializes Σ c·(c−1) rows, the
    // single largest byte volume of any operator here, and two ~34-byte
    // address strings per wedge row become two longs (~4× fewer
    // exchanged/spilled bytes). Orientation tie-breaks (equal degree →
    // smaller id first) pick a DIFFERENT representative over vids than over
    // strings, but any consistent total order counts each triangle exactly
    // once and the per-vertex participation counts are orientation-
    // independent — the GraphSpec brute-force mirror and the g3 oracle pin
    // the result. Only the dictionary and degree joins pick broadcast by
    // size.
    val (dict, o, oRdd) = orientedEdges(edges)
    // Each triangle {x,y,z} (orientation order x<y<z) appears exactly once:
    // the wedge pair at x emits both (y,z) and (z,y), but only y→z exists
    // in the oriented set, so the closure join keeps one.
    val tris = o.select(col("s"), col("t").as("a"))
      .join(o.select(col("s"), col("t").as("b")), "s")
      .where(col("a") =!= col("b"))
      .join(o.select(col("s").as("a"), col("t").as("b")), Seq("a", "b"))
    val counts = tris.select(explode(array(col("s"), col("a"), col("b"))).as("address"))
      .groupBy("address").agg(count(lit(1)).as("triangles"))
    // Materialize the decoded result (pinned to the caller's scope), then
    // drop the oriented set.
    val (outDf, _) = ChainOps.rebase(
      dict.decode(counts, "address", bcast = dict.n <= ChainOps.BroadcastMaxRows))
    oRdd.unpersist(blocking = false)
    dict.unpersist()
    outDf
  }

  /** The number of wedge rows [[triangleCounts]]' self-join materializes —
    * Σ_s c_s·(c_s−1) over oriented out-degrees c_s. Measurement helper for
    * the scale rehearsal's disk-budget guard (a dense graph's wedge set is
    * quadratic in degree and can exhaust shuffle disk long before the
    * triangle output is large); not a declared query.
    */
  private[graft] def orientedWedges(edges: DataFrame): Long = {
    val (dict, o, oRdd) = orientedEdges(edges)
    val r = o.groupBy("s").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - lit(1L)))).head()
    oRdd.unpersist(blocking = false)
    dict.unpersist()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The k-core of the UNDIRECTED graph: the maximal subgraph in which every
    * vertex keeps degree >= k, found by standard peeling — repeatedly drop
    * vertices whose CURRENT degree is below k until a fixpoint. Cores locate
    * the dense service infrastructure (exchanges, mixers) the way degrees
    * alone cannot: a hub with a million one-shot counterparties has huge
    * degree but dies in the 2-core unless its neighbors interconnect.
    *
    * Dataflow per round: degree aggregate + two anti-joins (edges touching a
    * dropped endpoint leave) — all key-partitioned, no driver state beyond
    * the empty-check count. Rounds are data-bounded (graph diameter-ish, the
    * loop is capped); each round's edge set is rebased so lineage stays flat
    * at any iteration count, and each round unpersists its predecessor (one
    * live copy). Returns the k-core's vertices as (address).
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 200): DataFrame = phase("kcore") {
    require(k >= 1, s"k must be >= 1, got $k")
    // Peel over DENSE LONG vertex ids (guide §2.3 — narrower types: every
    // peeling round re-aggregates degrees over the surviving edge set and
    // re-materializes it, so id width multiplies by the round count; two
    // ~34-byte address strings per row become two longs). No ordering is
    // consumed anywhere in the peel (degree counts, anti-joins, final
    // endpoint distinct), so an unordered dictionary suffices; the k-core
    // member SET decodes back identically (GraphSpec brute-force mirrors +
    // the g4 oracle pin it). The dictionary is built from the RAW endpoints
    // FIRST so the canonical distinct — the one edge-sized exchange+
    // materialize of the setup — happens once, over longs (encoding after a
    // string distinct was measured at 30× to re-materialize the edge set
    // twice). A vertex appearing only in self-loops enters the dictionary
    // but no edge — degree 0, never a member, harmless.
    val dict = phase("dict build")(
      VertexDictionary.build(edges.select(explode(array(col("src"), col("dst"))))))
    val bcast = dict.n <= ChainOps.BroadcastMaxRows
    // Materialize the canonical undirected edge set ONCE before peeling:
    // round 1's degree aggregate, both anti-joins, and the convergence count
    // otherwise each re-run the full edge scan + distinct shuffle from
    // scratch (r18 judge finding). rebaseCounted's materialization pass
    // already yields the row count, so convergence checks ride the cache
    // fill — zero extra count jobs per round.
    var (und, undRdd, undCount) =
      phase("und materialize")(ChainOps.rebaseCounted(undirected(dict, edges, bcast)))
    var prev: Option[org.apache.spark.rdd.RDD[_]] = Some(undRdd)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      // explode(array(u, v)) emits both endpoints in ONE map-side scan of
      // the cached edge set — the union-of-two-selects form it replaces
      // planned the cache scan twice per round
      val deg = und.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val low = deg.where(col("d") < k).select("x")
      // The dropped set is vertex-sized (≤ 2·|E| — undCount is this round's
      // edge count, so the bound needs no extra job): under the broadcast
      // envelope the two anti-joins become broadcast-hash, and the cached
      // edge set is only SCANNED per round — the degree aggregate's shuffle
      // is the round's single edge-sized exchange. Above the envelope the
      // shuffled anti-joins stand (the distributed route).
      val lowB =
        if (undCount * 2 <= ChainOps.BroadcastMaxRows) broadcast(low)
        else low
      val next = und
        .join(lowB.withColumnRenamed("x", "u"), Seq("u"), "left_anti")
        .join(lowB.withColumnRenamed("x", "v"), Seq("v"), "left_anti")
        .select("u", "v")
      val (nextDf, nextRdd, nextCount) = phase(s"round ${it + 1}")(ChainOps.rebaseCounted(next))
      // converged when no edge left the set this round
      converged = nextCount == undCount
      prev.foreach(_.unpersist(blocking = false))
      prev = Some(nextRdd)
      und = nextDf
      undCount = nextCount
      it += 1
    }
    // A mid-peel edge set is NOT a k-core — returning it silently would be
    // a wrong answer exactly on the long-chain graphs (rounds ≈ diameter/2)
    // that need the most rounds. Fail loudly; the caller raises maxIter.
    if (!converged) {
      prev.foreach(_.unpersist(blocking = false))
      dict.unpersist()
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge within maxIter=$maxIter peeling rounds; " +
          "raise maxIter (rounds needed grow with graph diameter)")
    }
    val members = und.select(explode(array(col("u"), col("v"))).as("address"))
      .distinct()
    val (outDf, _) = ChainOps.rebase(dict.decode(members, "address", bcast))
    prev.foreach(_.unpersist(blocking = false))
    dict.unpersist()
    outDf
  }

  /** Synchronous label propagation — community detection on the undirected
    * counterparty graph. Every vertex starts as its own label; each round
    * all vertices SIMULTANEOUSLY adopt the most frequent label among their
    * neighbors (ties broken by the smallest label), so the result is a
    * deterministic function of the graph — unlike the classic
    * asynchronous/randomized LPA (Raghavan et al., arXiv:0709.2938), whose
    * visit order is an RNG. Communities after `rounds` rounds are the label
    * groups; synchronous LPA can 2-cycle on bipartite structures, which a
    * fixed round count also keeps deterministic.
    *
    * Scale shape: one equi-join (labels onto the adjacency list) + one
    * (vertex, label) count + one min_by hash aggregate per round — the
    * aggregateMessages dataflow, all map-side partial, no windows over the
    * graph. The argmax is min_by over a (−count, label) struct, not a
    * sorted rank. Each round rebases lineage and unpersists its
    * predecessor, so a deeper propagation stays flat-plan (the kCore
    * discipline).
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = phase("lpa") {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // Vertex dictionary FIRST, from the raw endpoints (guide §2.3 —
    // narrower types): the whole loop then runs over DENSE LONG ids — the
    // one edge-sized distinct of the setup and every round's scan +
    // (vertex, label) hash aggregate move two longs instead of two ~34-byte
    // address strings (measured at 30×: the leg went 35 → 14 s across this
    // change and the single-pass pin below). The encoding must be
    // ORDER-PRESERVING — ties in the per-vertex label vote break by MIN
    // LABEL — so ids are assigned by sorted rank (the dictionary's
    // orderPreserving mode) and min-by-vid ≡ min-by-address; results decode
    // back bit-identically (g5's oracle and the GraphSpec/PropertySpec
    // mirrors pin this). The dictionary may include vertices that only
    // appear in self-loops: they have no adjacency rows, so their round-0
    // self-labels wash out of `labels` at round 1 (the output is always a
    // post-round-1 a-side aggregate) and they never reach the result.
    val dict = phase("dict build")(VertexDictionary.build(
      edges.select(explode(array(col("src"), col("dst")))), orderPreserving = true))
    val bcastLabels = dict.n <= ChainOps.BroadcastMaxRows
    // The fill is ONE pass raw→pinned: encode, canonicalize + distinct over
    // vids, fan out both orientations MAP-SIDE (explode) so the pinned
    // layout consumes each |E|-row input exactly once (a union of two
    // selects used to force a 2|E| materialization here — 9–12 s of the
    // 30× leg), repartition. No intermediate string materialization.
    val adj = undirected(dict, edges, bcastLabels)
      .select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    // Only the pinned layout depends on size. Broadcast labels: hash(a)
    // satisfies the clustered distribution of BOTH per-round aggregates
    // (groupBy(a, label) — `a` is a subset of its grouping keys — and
    // groupBy(a)), and the broadcast hash join preserves the streamed
    // side's partitioning, so a round is ONE narrow stage with ZERO
    // exchanges: the cached 2|E| adjacency is scanned, the vertex-sized
    // labels arrive broadcast, and both aggregates run in-partition (before
    // this pin, every round exchanged the (vertex, label) partials — 75.9 s
    // per round at 30× in r19). A hub vertex concentrates its adjacency rows
    // in one cached partition; that skew is bounded by the max in-partition
    // degree sum and measured harmless vs the removed edge-sized exchange.
    // Shuffled labels: hash(b) + in-partition sort, which the cached
    // relation preserves, so each round's sort-merge join needs NEITHER an
    // exchange NOR a sort on the edge-sized side; only the vertex-sized
    // label table is shuffled and sorted per round.
    val adjJoin =
      (if (bcastLabels) adj.repartition(col("a"))
       else adj.repartition(col("b")).sortWithinPartitions("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    phase("pin fill")(adjJoin.count())
    var labels = dict.frame.select(col("vid").as("address"), col("vid").as("label"))
    var prev: Option[org.apache.spark.rdd.RDD[_]] = None
    for (r <- 1 to rounds) {
      val labelSide = if (bcastLabels) broadcast(labels) else labels
      val next = adjJoin
        .join(labelSide, col("b") === col("address"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("_c"))
        .groupBy(col("a").as("address"))
        .agg(min_by(col("label"),
          struct((-col("_c")).as("nc"), col("label").as("l"))).as("label"))
      val (nextDf, nextRdd) = phase(s"round $r")(ChainOps.rebase(next))
      prev.foreach(_.unpersist(blocking = false))
      prev = Some(nextRdd)
      labels = nextDf
    }
    // Each round's rebase materialized `labels` with flat lineage, so the
    // returned frame no longer references the adjacency — safe to drop now.
    adjJoin.unpersist(blocking = false)
    // decode both columns back to the caller's id space and materialize, so
    // the dictionary can be dropped
    val decoded = dict.decode(dict.decode(labels, "address", bcastLabels), "label", bcastLabels)
      .select(col("address"), col("label").as("community"))
    val (outDf, _) = ChainOps.rebase(decoded)
    dict.unpersist()
    prev.foreach(_.unpersist(blocking = false))
    outDf
  }

  /** PageRank over the flow graph: influence ranking of addresses.
    * Returns (address, rank) — GraphX Pregel under the hood.
    */
  def pageRank(edges: DataFrame, iterations: Int = 10, resetProb: Double = 0.15): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // explode(array(src, dst)) emits both endpoints in ONE scan of the edge
    // frame — the union-of-two-selects form it replaces computed the edge
    // subtree twice (for g2 that was the whole flowEdges derivation)
    val dict = VertexDictionary.build(
      edges.select(explode(array(col("src"), col("dst")))))
    val e = encodeEndpoints(dict, edges, bcast = false)
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1.0))
    val graph = Graph(dict.frame.select("vid").rdd.map(r => (r.getLong(0), ())), e)
    val rankGraph = graph.staticPageRank(iterations, resetProb)
    val out = dict.decode(rankGraph.vertices.toDF("address", "rank"), "address")
    // Materialize (pinned to the caller's scope), then drop GraphX state.
    // staticPageRank returns an UNcached mapVertices wrapper over its
    // internally-cached final iteration graph, so Graph.unpersist on the
    // result misses it: drop what this call persisted in the rank graph's
    // own lineage instead — never the session's, which holds what other
    // threads cached meanwhile, nor a cache of the caller's input.
    val (outDf, _) = ChainOps.rebase(out)
    val seen = scala.collection.mutable.HashSet.empty[Int]
    def drop(rdd: org.apache.spark.rdd.RDD[_]): Unit = if (seen.add(rdd.id)) {
      if (rdd.getStorageLevel != StorageLevel.NONE && !before.contains(rdd.id))
        rdd.unpersist(blocking = false)
      rdd.dependencies.foreach(d => drop(d.rdd))
    }
    drop(rankGraph.vertices)
    drop(rankGraph.edges)
    dict.unpersist()
    outDf
  }
}
