package graft

import org.apache.spark.sql.functions._

import graft.chain.{BestChain, ChainFixture, Enrich, GoldStats}
import graft.graph.GraphAnalytics

class GraphSpec extends SparkSpec {

  private def flowParts = {
    val s = spark
    val ann = BestChain.annotate(ChainFixture.blocksDf(s))
    val cTxs = GoldStats.chainTxs(ChainFixture.transactionsDf(s), ann)
    val rin = Enrich.resolvedInputs(ChainFixture.txInputsDf(s), ChainFixture.txOutputsDf(s))
      .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
    val outs = ChainFixture.txOutputsDf(s)
      .join(cTxs.select("tx_hash"), Seq("tx_hash"), "left_semi")
    GraphAnalytics.flowEdges(rin, outs)
  }

  test("flow edges: funder -> recipient with aggregated values") {
    val C = ChainFixture.C
    val edges = flowParts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // tx1: A funds; pays C 30 and A 19. tx2: C funds; pays D 29.
    // tx3: A and B fund; pays F 68 (full value to each funder).
    assert(edges == Map(
      ("A", "C") -> 30 * C, ("A", "A") -> 19 * C, ("A", "F") -> 68 * C,
      ("B", "F") -> 68 * C, ("C", "D") -> 29 * C))
  }

  test("degrees: hand-computed in/out structure") {
    val got = GraphAnalytics.degrees(flowParts).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("A").getAs[Long]("out_degree") == 3)
    assert(got("A").getAs[Long]("in_degree") == 1) // self-churn edge A->A
    assert(got("F").getAs[Long]("out_degree") == 0)
    assert(got("F").getAs[Long]("in_degree") == 2)
    assert(got.keySet == Set("A", "B", "C", "D", "F"))
  }

  test("pagerank: sinks fed by many sources rank above pure sources") {
    val ranks = GraphAnalytics.pageRank(flowParts).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 5)
    // F receives from both A and B; B only receives the reset mass
    assert(ranks("F") > ranks("B"))
  }

  test("triangleCounts: hub fixture — degree orientation, once per member") {
    import spark.implicits._
    val edges = Seq(
      // hub H star to a..e, with reversed-duplicate and self-loop noise the
      // canonicalization must absorb
      ("H", "a"), ("a", "H"), ("H", "b"), ("H", "c"), ("H", "d"), ("H", "e"),
      ("H", "H"),
      // close two wedges at the hub (the high-degree vertex: orientation
      // must enumerate these wedges at the LOW-degree endpoints)
      ("a", "b"), ("c", "d"),
      // an off-hub triangle
      ("x", "y"), ("y", "z"), ("z", "x")
    ).toDF("src", "dst")
    val got = GraphAnalytics.triangleCounts(edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // {H,a,b}, {H,c,d}, {x,y,z}: H in 2, each other member in 1; e in none
    // (and absent — only triangle members are emitted)
    assert(got == Map("H" -> 2L, "a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L,
      "x" -> 1L, "y" -> 1L, "z" -> 1L))
    assert(got.values.sum == 3L * 3L, "each triangle must count once per member")
  }

  test("triangleCounts / kCore: shuffle-joined dictionary encode agrees with broadcast encode") {
    import spark.implicits._
    // Both envelope choices must produce identical results: the broadcast
    // dictionary, degree and low-set joins (vertex set fits
    // ChainOps.BroadcastMaxRows — every local fixture) and their at-scale
    // shuffle-join forms. Forcing the envelope to 1 exercises the latter on
    // the hub fixture.
    val edges = Seq(
      ("H", "a"), ("a", "H"), ("H", "b"), ("H", "c"), ("H", "d"), ("H", "e"),
      ("H", "H"), ("a", "b"), ("c", "d"),
      ("x", "y"), ("y", "z"), ("z", "x")
    ).toDF("src", "dst").withColumn("value", lit(0L))
    val triBcast = GraphAnalytics.triangleCounts(edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    val coreBcast = GraphAnalytics.kCore(edges, k = 2).collect()
      .map(_.getString(0)).toSet
    sys.props("graft.broadcastMaxRows") = "1"
    try {
      val triShuffle = GraphAnalytics.triangleCounts(edges).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSet
      val coreShuffle = GraphAnalytics.kCore(edges, k = 2).collect()
        .map(_.getString(0)).toSet
      assert(triShuffle == triBcast)
      assert(coreShuffle == coreBcast)
    } finally sys.props.remove("graft.broadcastMaxRows")
  }

  test("triangleCounts: matches brute-force enumeration on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 14
    val raw = Seq.fill(60)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}")).distinct
    val und = raw.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter(e => e._1 != e._2).distinct
    val adj = und.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for {
      c <- adj.keys.toSeq.sorted.combinations(3)
      Seq(x, y, z) = c
      if adj(x)(y) && adj(y)(z) && adj(x)(z)
    } { expected(x) += 1; expected(y) += 1; expected(z) += 1 }
    assert(expected.nonEmpty, "fixture must actually contain triangles")
    val got = GraphAnalytics.triangleCounts(raw.toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap)
  }

  test("kCore: star hub dies, triangle survives, cascade peels chains") {
    import spark.implicits._
    val edges = Seq(
      // star hub S with 5 leaves: degree 5, but no leaf interconnects —
      // the whole star must leave the 2-core
      ("S", "l1"), ("S", "l2"), ("S", "l3"), ("S", "l4"), ("S", "l5"),
      // triangle: the minimal 2-core
      ("a", "b"), ("b", "c"), ("c", "a"),
      // a tail hanging off the triangle must cascade off (t2 then t1)
      ("a", "t1"), ("t1", "t2"),
      // duplicate + reversed noise
      ("b", "a"), ("a", "b")
    ).toDF("src", "dst")
    val got = GraphAnalytics.kCore(edges, k = 2).collect().map(_.getString(0)).toSet
    assert(got == Set("a", "b", "c"))
    // k=1 keeps every non-isolated vertex; a high k empties the graph
    assert(GraphAnalytics.kCore(edges, k = 1).count() == 11)
    assert(GraphAnalytics.kCore(edges, k = 3).count() == 0)
  }

  test("kCore: cascade past maxIter fails loudly instead of returning a mid-peel set") {
    import spark.implicits._
    // a 30-vertex path peels 2 endpoints per round: the true 2-core is
    // empty but needs ~15 rounds to reach
    val path = (0 until 29).map(i => (s"v$i", s"v${i + 1}")).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      GraphAnalytics.kCore(path, k = 2, maxIter = 5)
    }
    assert(e.getMessage.contains("did not converge"))
    assert(GraphAnalytics.kCore(path, k = 2, maxIter = 30).count() == 0)
  }

  test("kCore matches brute-force peeling on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 16
    val raw = Seq.fill(70)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}")).distinct
    var und = raw.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter(e => e._1 != e._2).distinct.toSet
    var changed = true
    while (changed) {
      val deg = und.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (k2, v) => k2 -> v.size }
      val bad = deg.filter(_._2 < 3).keySet
      val next = und.filter(e => !bad(e._1) && !bad(e._2))
      changed = next != und
      und = next
    }
    val expected = und.toSeq.flatMap(e => Seq(e._1, e._2)).toSet
    val got = GraphAnalytics.kCore(raw.toDF("src", "dst"), k = 3)
      .collect().map(_.getString(0)).toSet
    assert(got == expected)
  }

  test("labelPropagation: two cliques with a bridge settle to one label each") {
    import spark.implicits._
    // K4 {a1..a4} — bridge a4-b1 — K4 {b1..b4}: inside a clique the
    // min label dominates within 2 rounds; the single bridge edge cannot
    // outvote 3 clique neighbors, so the communities stay separate.
    def k4(p: String) = for {
      i <- 1 to 4; j <- i + 1 to 4
    } yield (s"$p$i", s"$p$j")
    val edges = (k4("a") ++ k4("b") :+ ("a4", "b1"))
      .toDF("src", "dst").withColumn("value", lit(0L))
    val got = GraphAnalytics.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert((1 to 4).forall(i => got(s"a$i") == "a1"), got)
    assert((1 to 4).forall(i => got(s"b$i") == "b1"), got)
  }

  test("labelPropagation: above-envelope route (shuffled label joins) agrees with broadcast route") {
    import spark.implicits._
    // Both per-round join routes must produce identical labels: the
    // broadcast route (dictionary encode and labels broadcast — every local
    // fixture fits ChainOps.BroadcastMaxRows) and the at-scale route
    // (shuffle-joined encode, adjacency pinned in hash(b) layout,
    // vertex-sized label shuffles per round). Forcing the envelope to 1
    // exercises the latter on the clique fixture.
    def k4(p: String) = for {
      i <- 1 to 4; j <- i + 1 to 4
    } yield (s"$p$i", s"$p$j")
    val edges = (k4("a") ++ k4("b") :+ ("a4", "b1"))
      .toDF("src", "dst").withColumn("value", lit(0L))
    val viaBroadcast = GraphAnalytics.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    sys.props("graft.broadcastMaxRows") = "1"
    try {
      val viaShuffle = GraphAnalytics.labelPropagation(edges, rounds = 4)
        .collect().map(r => r.getString(0) -> r.getString(1)).toSet
      assert(viaShuffle == viaBroadcast)
    } finally sys.props.remove("graft.broadcastMaxRows")
  }

  test("labelPropagation matches the brute-force synchronous mirror on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val n = 18
    val raw = Seq.fill(60)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}")).distinct
    val und = raw.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter(e => e._1 != e._2).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var labels = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 4) {
      labels = adj.map { case (v, nbs) =>
        val freq = nbs.groupBy(labels).map { case (l, g) => (l, g.size) }
        v -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val got = GraphAnalytics.labelPropagation(
        raw.toDF("src", "dst").withColumn("value", lit(0L)), rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == labels)
  }

  test("pagerank semantics pin: 10 iterations from r0=1 then normalize to sum=|V|") {
    // The g2 DuckDB oracle re-derives GraphX staticPageRank in SQL on the
    // closed-form contract asserted here: r' = 0.15 + 0.85 * sum(in r/outdeg)
    // starting from 1.0, 10 rounds, final ranks scaled so they sum to the
    // vertex count. A Spark upgrade changing PageRank must fail HERE, not at
    // the driver's oracle gate. Graph: a source (0), a 2-cycle (1<->2) and a
    // sink chain (3->4) — exercises no-in-edge, cyclic and dangling mass.
    import org.apache.spark.graphx.{Edge, Graph}
    val sc = spark.sparkContext
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (0L, 3L))
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val g = Graph(sc.parallelize(verts.map(v => (v, ()))),
      sc.parallelize(edges.map(e => Edge(e._1, e._2, 1.0))))
    val gx = g.staticPageRank(10, 0.15).vertices.collect().toMap

    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    var r = verts.map(v => v -> 1.0).toMap
    for (_ <- 0 until 10) {
      val msgs = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => r(e._1) / outdeg(e._1)).sum }
      r = verts.map(v => v -> (0.15 + 0.85 * msgs.getOrElse(v, 0.0))).toMap
    }
    val scale = verts.size / r.values.sum
    verts.foreach { v =>
      assert(math.abs(gx(v) - r(v) * scale) < 1e-12, s"vertex $v: ${gx(v)} vs ${r(v) * scale}")
    }
  }
}
