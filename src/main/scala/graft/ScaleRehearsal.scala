package graft

/** Scale-rehearsal main (not part of the API): materializes the BlkCorpus at
  * the current SPARK_GRAFT_CORPUS_SCALE and times one steady-state run each
  * of bk0/bk1/bk4/bk7 — the evidence behind the "would this survive 10× the
  * corpus" claims (doubling-loop round count, envelope routing, bucketed
  * gold joins). Emits one JSON line per phase; the cross-scale table lives
  * in COVERAGE.md.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val scale = graft.chain.BlkCorpus.Scale
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, matSec) = timed(graft.chain.BlkCorpus.ensureMaterialized(spark))
    val nBlocks = spark.read.parquet(graft.chain.BlkCorpus.bronzeDir("blocks")).count()
    Rehearsal.emit(f"""{"rehearsal":"materialize","scale":$scale,"blocks":$nBlocks,"sec":$matSec%.1f}""")
    // Leg filter for targeted re-measurement (same knob style as
    // StreamRehearsal's SPARK_GRAFT_STREAM_LEGS): a comma list of
    // queries,incremental,reorg,shallow; unset = all.
    val legs = sys.env.get("SPARK_GRAFT_SCALE_LEGS")
      .map(_.split(",").map(_.trim).toSet)
    def legOn(name: String): Boolean = legs.forall(_.contains(name))
    val names = if (!legOn("queries")) Seq.empty[String]
      else Seq("bk0_e2e_pipeline", "bk1_best_chain",
        "bk2_tx_stats", "bk3_block_stats", "bk4_address_stats",
        "bk5_wallet_clusters", "bk6_fork_window", "bk7_utxo_set")
        .filter(n => sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
          .forall(_.split(",").contains(n)))
    // profiling knobs: SPARK_GRAFT_SCALE_SAMPLES=1 + SPARK_GRAFT_SCALE_WARM=0
    // give one cold traced run (pair with SPARK_GRAFT_TRACE=1) instead of
    // the 4-run measurement protocol
    val nSamples = sys.env.getOrElse("SPARK_GRAFT_SCALE_SAMPLES", "3").toInt
    val doWarm = sys.env.get("SPARK_GRAFT_SCALE_WARM").forall(_ != "0")
    names.foreach { name => Scope {
      def once(): Double = timed(Scope(
        SparkEntry.queries(name)(spark, "unused")
          .write.format("noop").mode("overwrite").save()))._2
      // one warm + 3 samples, reported as median + spread: a single sample
      // cannot distinguish a regression from single-JVM heap-pressure
      // variance (r13's bk4 at 30x swung 9.9 -> 55.8 s on one sample)
      val warm = if (doWarm) once() else -1.0
      val samples = Seq.fill(nSamples)(once())
      val med = samples.sorted.apply(samples.length / 2)
      val spread = samples.max - samples.min
      Rehearsal.emit(f"""{"rehearsal":"$name","scale":$scale,"warm":$warm%.2f,"median":$med%.2f,"spread":$spread%.2f,"samples":[${samples.map(s => f"$s%.2f").mkString(",")}]}""")
    }}

    // GraphX / iterative graph analytics at corpus scale. Since r18 the
    // address pool scales WITH the chain (BlkCorpus.NumAddresses ∝ Scale),
    // so the distinct flow graph genuinely grows (1×/10×/30× = 363k/3.9M/
    // 11.8M edges over 1.5k/15k/45k vertices) instead of saturating near a
    // fixed pool² — the analytics legs now measure real per-iteration cost
    // over a skewed (sentinel in-degree ≈ 15% of outputs) dataflow at every
    // scale. Edge DERIVATION is still timed separately (the corpus-grain
    // part); vertex/edge counts ship on every line.
    if (legOn("graph")) Scope {
      import org.apache.spark.sql.functions._
      val rin = graft.chain.BlkCorpus.silver(spark, "rin")
      val outs = graft.chain.BlkCorpus.silver(spark, "outs")
      def edgesDf = graft.graph.GraphAnalytics.flowEdges(rin, outs)
      // corpus-grain derivation: warm once, measure once (bench protocol)
      edgesDf.write.format("noop").mode("overwrite").save()
      val (_, tDerive) = timed(edgesDf.write.format("noop").mode("overwrite").save())
      val edges = edgesDf.persist()
      val nEdges = edges.count()
      val nVerts = edges.select(col("src").as("x"))
        .union(edges.select(col("dst").as("x"))).distinct().count()
      Rehearsal.emit(f"""{"rehearsal":"graph_edges","scale":$scale,"edges":$nEdges,"vertices":$nVerts,"derive_s":$tDerive%.2f}""")
      def leg(name: String)(f: => Long): Unit = {
        Scope(f) // warm
        val (rows, sec) = timed(Scope(f))
        Rehearsal.emit(f"""{"rehearsal":"graph_$name","scale":$scale,"edges":$nEdges,"rows":$rows,"sec":$sec%.2f}""")
      }
      leg("pagerank")(graft.graph.GraphAnalytics.pageRank(edges).count())
      leg("kcore")(graft.graph.GraphAnalytics.kCore(edges, k = 2).count())
      leg("lpa")(graft.graph.GraphAnalytics.labelPropagation(edges).count())
      // r19 shipped triangleCounts' persist+broadcast rework with
      // fixture-scale evidence only — this leg is the missing 30× number.
      // Guarded by the exact wedge count: the wedge self-join materializes
      // Σ_s c_s·(c_s−1) rows, and this corpus's flow graph is DENSE at
      // every scale (recurring address pool → avg degree ~262), so at 30×
      // the wedge set (~billions of rows) exhausted the sandbox's 74 GB of
      // shuffle disk on first measurement. The wedge count itself IS the
      // 30× measurement; the full count runs only under the budget.
      val wedges = graft.graph.GraphAnalytics.orientedWedges(edges)
      val wedgeBudget =
        sys.env.getOrElse("SPARK_GRAFT_WEDGE_BUDGET", "300000000").toLong
      Rehearsal.emit(f"""{"rehearsal":"graph_triangle_wedges","scale":$scale,"edges":$nEdges,"wedges":$wedges,"budget":$wedgeBudget}""")
      if (wedges <= wedgeBudget)
        leg("triangles")(graft.graph.GraphAnalytics.triangleCounts(edges).count())
      else
        Rehearsal.emit(f"""{"rehearsal":"graph_triangles","scale":$scale,"edges":$nEdges,"skipped":"wedges $wedges > budget $wedgeBudget (shuffle-disk guard)"}""")
      edges.unpersist()
    }

    // Isolated raw-parse leg: bk0@30× is parse-dominated (124–152 s in
    // r19's rehearsal), so the per-task parse cost needs its own A/B
    // instrument — a noop write of the parsed dataset materializes every
    // block/tx/script column without bronze projection or chain resolution.
    if (legOn("parse")) Scope {
      val parsed = graft.sources.BlockFileSource.read(spark, graft.chain.BlkCorpus.rawDir)
      def once(): Double =
        timed(parsed.write.format("noop").mode("overwrite").save())._2
      val warm = if (doWarm) once() else -1.0
      val samples = Seq.fill(nSamples)(once())
      val med = samples.sorted.apply(samples.length / 2)
      Rehearsal.emit(f"""{"rehearsal":"parse","scale":$scale,"warm":$warm%.2f,"median":$med%.2f,"spread":${samples.max - samples.min}%.2f,"samples":[${samples.map(s => f"$s%.2f").mkString(",")}]}""")
    }

    // Incremental wallet clustering vs full re-cluster: stored labeling
    // covers the chain below the last 1000 best-chain heights, the "day's
    // batch" is the tip's funders. On this corpus the delta is legitimately
    // EMPTY (the generator's address pool recurs from genesis, so every tip
    // funder is stored and already co-clustered — a hash-parity tx split
    // gives the same result), which is itself the operating claim: the
    // incremental path certifies stored == full and writes NOTHING, where
    // the full path re-derives and rewrites every row. Non-trivial deltas
    // (new addresses, cluster merges) are property-gated against full
    // recompute on random graphs in PropertySpec.
    if (legOn("incremental")) Scope {
      import org.apache.spark.sql.functions._
      val rin = graft.chain.BlkCorpus.silver(spark, "rin")
      val ctx = graft.chain.BlkCorpus.silver(spark, "ctx")
      val tipStart = ctx.agg(max("height")).head.get(0)
        .asInstanceOf[Number].intValue - 1000
      val funders = rin.join(ctx.select("tx_hash", "height"), "tx_hash")
        .select(col("tx_hash"), col("src_address"), col("height"))
      val baseFunders = funders.where(col("height") <= tipStart).drop("height")
      val batchFunders = funders.where(col("height") > tipStart).drop("height")
      val baseAddrs = baseFunders.select(col("src_address").as("address")).distinct()
      val stored = graft.chain.WalletCluster.clusters(baseAddrs, baseFunders)
        .persist()
      stored.count()
      val (delta, tDelta) = timed {
        val d = graft.chain.WalletCluster.incrementalClusters(stored, batchFunders)
        val rows = d.collect()
        rows
      }
      val allAddrs = funders.select(col("src_address").as("address")).distinct()
      val (full, tFull) = timed {
        graft.chain.WalletCluster.clusters(allAddrs, baseFunders.unionByName(batchFunders))
          .collect()
      }
      val storedMap = stored.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val upserted = storedMap ++ delta.map(r => r.getString(0) -> r.getString(1))
      val fullMap = full.map(r => r.getString(0) -> r.getString(1)).toMap
      stored.unpersist()
      Rehearsal.emit(f"""{"rehearsal":"wallet_incremental","scale":$scale,"delta_s":$tDelta%.2f,"full_s":$tFull%.2f,"delta_rows":${delta.length},"full_rows":${full.length},"exact":${upserted == fullMap}}""")
    }

    // Reorg REPAIR vs full re-cluster at corpus scale: stored labeling
    // covers the whole best chain; a depth-100 reorg then retracts the tip
    // blocks' co-spends. On this corpus the recurring address pool chains
    // most addresses into one component, so the affected set legitimately
    // spans most of the universe and repair cost approaches a full
    // recompute — the number worth watching here is `exact` (repair ==
    // recompute of the truncated chain, at 50k/500k-block scale) plus the
    // affected fraction; O(affected) cost scaling is property-gated on
    // random graphs whose components are small (PropertySpec).
    if (legOn("reorg")) Scope {
      import org.apache.spark.sql.functions._
      val rin = graft.chain.BlkCorpus.silver(spark, "rin")
      val ctx = graft.chain.BlkCorpus.silver(spark, "ctx")
      val tip = ctx.agg(max("height")).head.get(0).asInstanceOf[Number].intValue
      val forkH = tip - 100
      val funders = rin.join(ctx.select("tx_hash", "height"), "tx_hash")
        .select(col("tx_hash"), col("src_address"), col("height"))
      val allFunders = funders.drop("height")
      val keptFunders = funders.where(col("height") <= forkH).drop("height")
      val invFunders = funders.where(col("height") > forkH).drop("height")
      val allAddrs = allFunders.select(col("src_address").as("address")).distinct()
      val stored = graft.chain.WalletCluster.clusters(allAddrs, allFunders).persist()
      val nStored = stored.count()
      val keptAddrs = keptFunders.select(col("src_address").as("address")).distinct()
      // Warm once, measure once — the same protocol the bench applies to
      // every query. The one-shot r16 leg measured repair COLD (first touch
      // of the kept/invalidated frames) against a full recompute that ran
      // SECOND over just-warmed inputs, so the ratio carried the cold-start
      // asymmetry, not the routes' real costs.
      graft.chain.WalletCluster.repairAfterReorg(stored, invFunders, keptFunders)
        ._1.collect()
      graft.chain.WalletCluster.clusters(keptAddrs, keptFunders).collect()
      val (rep, tRepair) = timed {
        graft.chain.WalletCluster.repairAfterReorg(stored, invFunders, keptFunders)
          ._1.collect()
      }
      val (full, tFull) = timed {
        graft.chain.WalletCluster.clusters(keptAddrs, keptFunders).collect()
      }
      val storedMap = stored.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      stored.unpersist()
      val repaired = storedMap ++ rep.map(r => r.getString(0) -> r.getString(1))
      val fullMap = full.map(r => r.getString(0) -> r.getString(1)).toMap
      // repaired matches full on the post-reorg universe; orphans singleton
      val exact = fullMap.forall { case (a, w) => repaired.get(a).contains(w) } &&
        (repaired.keySet -- fullMap.keySet).forall(a => repaired(a) == a)
      // Comparator: on this giant-component corpus the affected fraction
      // makes mass the ONLY reachable distributed route (members·2 ≥ stored
      // routes mass at any floor), so the rejected alternative is the bare
      // recompute itself — full_s, measured above on identical warmed
      // inputs. In-leg economics assertion, 1.3× + 0.5 s slack.
      Rehearsal.emit(f"""{"rehearsal":"wallet_reorg_repair","scale":$scale,"depth":100,"repair_s":$tRepair%.2f,"comparator":"bare_recompute","full_s":$tFull%.2f,"repair_rows":${rep.length},"stored_rows":$nStored,"exact":$exact}""")
      // contention-robust: one retry of BOTH timings before failing the leg
      Rehearsal.assertEconomics("deep-reorg repair", "repair", tRepair,
        "bare_recompute", tFull, () => {
          stored.persist(); stored.count() // re-warm the shared input
          val (_, c) = timed {
            graft.chain.WalletCluster.repairAfterReorg(stored, invFunders, keptFunders)
              ._1.collect()
          }
          val (_, m) = timed {
            graft.chain.WalletCluster.clusters(keptAddrs, keptFunders).collect()
          }
          stored.unpersist()
          (c, m)
        })
    }

    // SHALLOW reorg repair on a many-small-components co-spend graph — the
    // contraction route's home turf, which the blk corpus (one giant
    // component from a recurring 1500-address pool) structurally never
    // exercises. The fixture is the typical production shape: millions of
    // small wallets, a reorg touching a handful. Each wallet has 5
    // addresses and 3 txs — {0,1}, {2,3}, and the BRIDGE {1,2,4} — and the
    // reorg retracts the bridge tx of every 200th wallet, so the affected
    // components genuinely split (repair emits real replacement rows) while
    // spanning only 0.5% of the store. The ROUTE is picked by economics:
    // below ~500k stored rows (WalletCluster.ContractionMinStoreRows) the
    // recompute-diff path wins (fixed job-ladder latency dominates), above
    // it contraction does — this leg's 1×/10×/30× runs are the calibration
    // evidence, with the router tracking the cheaper route at every scale.
    // Also timed: the no-op pre-route (a reorg of funder-less blocks).
    if (legOn("shallow")) Scope {
      import org.apache.spark.sql.functions._
      val nWallets = 20000L * scale
      val walletSize = 5
      val txs = spark.range(nWallets * 3).select(
        concat(lit("t"), col("id")).as("tx_hash"),
        (col("id") / 3).cast("long").as("wallet"),
        pmod(col("id"), lit(3)).as("j"))
      val funders = txs
        .select(col("tx_hash"), col("wallet"),
          explode(when(col("j") === 0, array(lit(0), lit(1)))
            .when(col("j") === 1, array(lit(2), lit(3)))
            .otherwise(array(lit(1), lit(2), lit(4)))).as("k"))
        .select(col("tx_hash"),
          concat(lit("a"), col("wallet") * walletSize + col("k")).as("src_address"))
      val allAddrs = funders.select(col("src_address").as("address")).distinct()
      val stored = graft.chain.WalletCluster.clusters(allAddrs, funders).persist()
      val nStored = stored.count()
      val bridgeTxs = txs.where(col("j") === 2 && col("wallet") % 200 === 0)
        .select("tx_hash")
      val invFunders = funders.join(bridgeTxs, Seq("tx_hash"), "left_semi")
      val keptFunders = funders.join(bridgeTxs, Seq("tx_hash"), "left_anti")
      val keptAddrs = keptFunders.select(col("src_address").as("address")).distinct()
      // warm once, measure once (see the deep leg above for why)
      graft.chain.WalletCluster.repairAfterReorg(stored, invFunders, keptFunders)
        ._1.collect()
      graft.chain.WalletCluster.clusters(keptAddrs, keptFunders).collect()
      val ((rep, route), tRepair) = timed {
        val (rows, route, _) =
          graft.chain.WalletCluster.repairAfterReorg(stored, invFunders, keptFunders)
        (rows.collect(), route.name)
      }
      val (full, tFull) = timed {
        graft.chain.WalletCluster.clusters(keptAddrs, keptFunders).collect()
      }
      val (noop, tNoop) = timed {
        graft.chain.WalletCluster.repairAfterReorg(
          stored, funders.where(lit(false)), keptFunders)._1.collect()
      }
      // Comparator: the route the router REJECTED, forced by moving the
      // economics floor and timed on identical inputs. chosen=replace/mass
      // → floor 0 forces the distributed contraction; chosen=contraction →
      // floor MaxValue forces the other side (genuinely "mass" once the
      // store exceeds the driver envelope — 30×; the driver-side "replace"
      // under it, in which case the bare recompute full_s is the honest
      // mass proxy — the label says which was asserted).
      val altFloor = if (route == "contraction") Long.MaxValue else 0L
      val (altRoute, tAlt) = timed {
        val (rows, route, _) = graft.chain.WalletCluster.repairAfterReorg(
          stored, invFunders, keptFunders, contractionMinStore = altFloor)
        rows.collect()
        route.name
      }
      val (compName, compS) =
        if (route == "contraction" && altRoute == "replace") ("bare_recompute", tFull)
        else (altRoute, tAlt)
      val storedMap = stored.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      stored.unpersist()
      val repaired = storedMap ++ rep.map(r => r.getString(0) -> r.getString(1))
      val fullMap = full.map(r => r.getString(0) -> r.getString(1)).toMap
      val exact = fullMap.forall { case (a, w) => repaired.get(a).contains(w) } &&
        (repaired.keySet -- fullMap.keySet).forall(a => repaired(a) == a)
      Rehearsal.emit(Rehearsal.json(
        "rehearsal" -> "wallet_reorg_repair_shallow", "scale" -> scale,
        "wallets" -> nWallets, "affected_wallets" -> nWallets / 200, "route" -> route,
        "repair_s" -> Rehearsal.round(tRepair, 2), "alt_route" -> altRoute,
        "alt_s" -> Rehearsal.round(tAlt, 2), "comparator" -> compName,
        "comparator_s" -> Rehearsal.round(compS, 2), "full_s" -> Rehearsal.round(tFull, 2),
        "noop_s" -> Rehearsal.round(tNoop, 2), "noop_rows" -> noop.length,
        "repair_rows" -> rep.length, "stored_rows" -> nStored, "exact" -> exact))
      // contention-robust: one retry of BOTH timings before failing the leg
      Rehearsal.assertEconomics("shallow-reorg router", route, tRepair,
        compName, compS, () => {
          stored.persist(); stored.count() // re-warm the shared input
          val (_, c) = timed {
            graft.chain.WalletCluster.repairAfterReorg(stored, invFunders, keptFunders)
              ._1.collect()
          }
          val m =
            if (compName == "bare_recompute") timed {
              graft.chain.WalletCluster.clusters(keptAddrs, keptFunders).collect()
            }._2
            else timed {
              graft.chain.WalletCluster.repairAfterReorg(
                stored, invFunders, keptFunders, contractionMinStore = altFloor)
                ._1.collect()
            }._2
          stored.unpersist()
          (c, m)
        })
    }
    spark.stop()
  }
}
