package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.chain.BestChain
import graft.operators.{ChainOps, Sampling}

/** Property-based invariants (SURVEY.md §5.2.3): chain resolution checked
  * against a driver-side brute-force reference on random forests, replay
  * idempotence, and reorg convergence.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic sampling loop (scalatest/scalacheck bridge not on the
    * offline classpath — raw Gen with fixed seeds is equivalent here).
    */
  private def forAllSeeded[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  /** Random parent-pointer forest: n nodes, each node's parent is a
    * lower-indexed node or none (acyclic by construction).
    */
  private val forestGen: Gen[Seq[(String, Option[String])]] =
    Gen.choose(1, 40).flatMap { n =>
      Gen.sequence[Seq[Option[Int]], Option[Int]](
        (0 until n).map { i =>
          if (i == 0) Gen.const(None)
          else Gen.frequency(
            (1, Gen.const(None)),
            (4, Gen.choose(0, i - 1).map(Some(_))))
        })
        .map(parents => parents.zipWithIndex.map { case (p, i) =>
          (s"n$i", p.map(j => s"n$j"))
        })
    }

  /** [[forestGen]] plus dangling parents: pointers to hashes never seen as
    * nodes (the reference dies on these, BlockchainToGraph.java:431; the
    * engine counts the one unresolvable hop — bk6-oracle-pinned semantics).
    */
  private val forestWithDanglingGen: Gen[Seq[(String, Option[String])]] =
    Gen.choose(1, 40).flatMap { n =>
      Gen.sequence[Seq[Option[Int]], Option[Int]](
        (0 until n).map { i =>
          if (i == 0) Gen.const(None)
          else Gen.frequency(
            (1, Gen.const(None)),
            (1, Gen.const(Some(-1))), // dangling pointer
            (4, Gen.choose(0, i - 1).map(Some(_))))
        })
        .map(parents => parents.zipWithIndex.map { case (p, i) =>
          (s"n$i", p.map(j => if (j < 0) s"phantom$i" else s"n$j"))
        })
    }

  private def bruteDepths(nodes: Seq[(String, Option[String])]): Map[String, Long] = {
    val parent = nodes.toMap
    def depth(id: String): Long = parent(id) match {
      case None => 0L
      case Some(p) if !parent.contains(p) => 1L // dangling: one unresolvable hop
      case Some(p) => 1L + depth(p)
    }
    nodes.map { case (id, _) => id -> depth(id) }.toMap
  }

  test("pointer-doubling depths equal brute-force recursion on random forests") {
    import spark.implicits._
    Seq(forestGen, forestWithDanglingGen).foreach(g =>
      forAllSeeded(g, 10) { nodes =>
        val df = nodes.toDF("id", "parent")
        val got = ChainOps.rootsAndDepths(df, "id", "parent")
          .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
        assert(got == bruteDepths(nodes))
      })
  }

  test("replay idempotence: duplicated bronze rows do not change the best chain") {
    import spark.implicits._
    forAllSeeded(forestGen, 5) { nodes =>
      val df = nodes.toDF("hash", "parent_hash")
      val doubled = df.union(df).dropDuplicates("hash")
      val a = BestChain.annotate(df).where(col("is_on_best_chain"))
        .select("hash").collect().map(_.getString(0)).toSet
      val b = BestChain.annotate(doubled).where(col("is_on_best_chain"))
        .select("hash").collect().map(_.getString(0)).toSet
      assert(a == b)
    }
  }

  test("driver-side and distributed best-chain paths agree (incl. dangling parents)") {
    import spark.implicits._
    Seq(forestGen, forestWithDanglingGen).foreach(g =>
      forAllSeeded(g, 6) { nodes =>
        val df = nodes.toDF("hash", "parent_hash")
        def norm(d: org.apache.spark.sql.DataFrame) = d
          .select("hash", "height", "is_on_best_chain").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSet
        assert(norm(BestChain.annotate(df)) == norm(BestChain.annotateDistributed(df)))
      })
  }

  test("above-envelope route (shuffle hops + loop membership) agrees with the walk route") {
    // Every local fixture fits the broadcast envelope, so the >BroadcastMaxRows
    // branches — shuffle-join hops in resolve and ancestor-doubling membership
    // — would otherwise never run. Force them by shrinking the envelope.
    import spark.implicits._
    sys.props("graft.broadcastMaxRows") = "4"
    try Seq(forestGen, forestWithDanglingGen).foreach(g =>
      forAllSeeded(g, 4) { nodes =>
        val df = nodes.toDF("hash", "parent_hash")
        def norm(d: org.apache.spark.sql.DataFrame) = {
          val rows = d.select("hash", "height", "is_on_best_chain").collect()
            .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2)))
          // one row per block, exactly: the membership union is
          // duplicate-free BY PROOF (hop outputs are injective on
          // distance-from-tip; only the saturate-at-root value repeats and
          // it is filtered) — a duplicate here would double-annotate a
          // block and the set-based comparison below would not see it
          assert(rows.length == rows.map(_._1).distinct.length,
            s"duplicate annotation rows: ${rows.length} rows, " +
              s"${rows.map(_._1).distinct.length} distinct hashes")
          rows.toSet
        }
        val loop = norm(BestChain.annotateDistributed(df))
        sys.props("graft.broadcastMaxRows") = (1L << 20).toString
        val walk = try norm(BestChain.annotateDistributed(df))
        finally sys.props("graft.broadcastMaxRows") = "4"
        assert(loop == walk)
      }) finally sys.props.remove("graft.broadcastMaxRows")
  }

  test("annotate's driver-built frame equals the doubling route (duplicates, null hashes, extra column)") {
    // The envelope route builds its result on the driver instead of joining
    // back to the input, so the join's semantics are pinned against the
    // doubling route's: replayed rows (same hash and parent, another ts)
    // keep one output row each, null-hash rows drop and never compete for
    // the tip, dangling parents count their one hop — and the frame has the
    // same columns in the same order, with the same types and nullability.
    import spark.implicits._
    Seq(forestGen, forestWithDanglingGen).foreach(g =>
      forAllSeeded(g, 6) { nodes =>
        val base = nodes.zipWithIndex.map { case ((h, p), i) => (h, p.orNull, i.toLong) }
        val replays = base.zipWithIndex.collect {
          case ((h, p, _), i) if i % 3 == 1 => (h, p, 1000L + i)
        }
        val nullHashes = Seq((null: String, base.last._1, 2000L), (null: String, null: String, 2001L))
        val df = (base ++ replays ++ nullHashes).toDF("hash", "parent_hash", "ts")
        def rows(d: org.apache.spark.sql.DataFrame) =
          d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        val walk = BestChain.annotateDistributed(df)
        sys.props("graft.broadcastMaxRows") = "1"
        val doubling = try BestChain.annotateDistributed(df)
        finally sys.props.remove("graft.broadcastMaxRows")
        assert(walk.schema == doubling.schema,
          s"${walk.schema.treeString} vs ${doubling.schema.treeString}")
        assert(rows(walk) == rows(doubling), s"nodes=$nodes")
        assert(rows(walk).length == base.length + replays.length)
      })
  }

  test("dangling-parent heights: all three routes count the unresolvable hop") {
    import spark.implicits._
    // b1's parent was never seen as a block; b3 is a true (null-parent) root.
    val df = Seq(("b1", "px"), ("b2", "b1"), ("b3", null.asInstanceOf[String]))
      .toDF("hash", "parent_hash")
    def norm(d: org.apache.spark.sql.DataFrame) = d
      .select("hash", "height", "is_on_best_chain").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSet
    val expected = Set(("b1", 1, true), ("b2", 2, true), ("b3", 0, false))
    assert(norm(BestChain.annotate(df)) == expected)           // driver route
    assert(norm(BestChain.annotateDistributed(df)) == expected) // walk route
    sys.props("graft.broadcastMaxRows") = "1"
    try assert(norm(BestChain.annotateDistributed(df)) == expected) // loop route
    finally sys.props.remove("graft.broadcastMaxRows")
  }

  test("union-find components match a brute-force closure on random edge lists") {
    // the driver leg of the adaptive CC route (WalletCluster/nearDupClusters)
    // vs an O(V·E) fixpoint reference: same partition, same min labels
    val edgesGen: Gen[List[(Int, Int)]] = for {
      n <- Gen.choose(1, 30)
      m <- Gen.choose(0, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1)
      } yield (a, b))
    } yield es
    forAllSeeded(edgesGen, 60) { edges =>
      val got = graft.operators.UnionFind.components(edges.iterator)
      // reference: iterate label = min(label, neighbors' labels) to fixpoint
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var label = verts.map(v => v -> v).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m) { label = label.updated(a, m); changed = true }
          if (label(b) != m) { label = label.updated(b, m); changed = true }
        }
      }
      assert(got == label, s"edges=$edges")
    }
  }

  test("best chain is a connected path from a root to the max-height tip") {
    import spark.implicits._
    forAllSeeded(forestGen, 10) { nodes =>
      val df = nodes.toDF("hash", "parent_hash")
      val ann = BestChain.annotate(df).collect()
        .map(r => r.getAs[String]("hash") ->
          ((r.getAs[String]("parent_hash"), r.getAs[Int]("height"), r.getAs[Boolean]("is_on_best_chain"))))
        .toMap
      val chain = ann.filter(_._2._3)
      val maxH = ann.values.map(_._2).max
      // exactly one chain member per height 0..tipHeight
      val tipH = chain.values.map(_._2).max
      assert(tipH == maxH)
      assert(chain.values.map(_._2).toSeq.sorted == (0 to tipH))
      // each non-root member's parent is also a member, one height below
      chain.foreach { case (_, (parent, h, _)) =>
        if (h > 0) assert(chain(parent)._2 == h - 1)
      }
    }
  }

  test("property: chunkDocuments tiles every doc — starts, coverage, texts") {
    import spark.implicits._
    val gen = for {
      nDocs <- Gen.choose(1, 8)
      sizes <- Gen.listOfN(nDocs, Gen.choose(1, 90))
      chunk <- Gen.choose(2, 40)
      stride <- Gen.choose(1, chunk)
    } yield (sizes, chunk, stride)
    forAllSeeded(gen, 8) { case (sizes, chunk, stride) =>
      val docs = sizes.zipWithIndex
        .map { case (n, i) => (i.toLong, (1 to n).map(t => s"w${i}_$t").mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextOps
        .chunkDocuments(docs, "doc_id", "text", chunk, stride)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      sizes.zipWithIndex.foreach { case (n, i) =>
        val mine = got.filter(_._1 == i.toLong).sortBy(_._2)
        // starts are exactly the stride multiples below n
        assert(mine.length == (n - 1) / stride + 1, s"doc $i n=$n c=$chunk s=$stride")
        mine.foreach { case (_, cid, nTok, text) =>
          val start = cid * stride
          val expected = (start + 1 to math.min(start + chunk, n)).map(t => s"w${i}_$t")
          assert(nTok == expected.length && text == expected.mkString(" "),
            s"doc $i chunk $cid")
        }
        // every token is covered by at least one chunk
        val covered = mine.flatMap { case (_, cid, nTok, _) =>
          cid * stride until cid * stride + nTok }.toSet
        assert(covered == (0 until n).toSet, s"doc $i coverage hole")
      }
    }
  }

  test("property: GlobalRank positions are the exact global permutation") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 120)
      card <- Gen.choose(1, 10) // heavy leading-column ties
      buckets <- Gen.choose(1, 9)
    } yield (n, card, buckets)
    forAllSeeded(gen, 6) { case (n, card, buckets) =>
      val df = (1 to n).map(i => (i.toLong, (i * 31 % card).toDouble)).toDF("id", "v")
      val got = graft.operators.GlobalRank
        .globalPositions(df, Seq("v", "id"), buckets = buckets)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("_pos")).toMap
      val expected = (1 to n).map(i => (i.toLong, (i * 31 % card).toDouble))
        .sortBy { case (id, v) => (v, id) }
        .zipWithIndex.map { case ((id, _), p) => id -> (p + 1).toLong }.toMap
      assert(got == expected, s"n=$n card=$card buckets=$buckets")
    }
  }

  test("property: spanDedup keeps exactly one occurrence per distinct line") {
    import spark.implicits._
    val gen = for {
      nDocs <- Gen.choose(2, 10)
      lines <- Gen.listOfN(nDocs, Gen.listOf(Gen.choose(0, 6)))
        .suchThat(_.exists(_.nonEmpty))
    } yield lines
    forAllSeeded(gen, 8) { lineIds =>
      val docs = lineIds.zipWithIndex
        .filter(_._1.nonEmpty)
        .map { case (ls, i) => (i.toLong, ls.map(l => s"line $l").mkString("\n")) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextOps.spanDedup(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // global uniqueness: each distinct line text appears exactly once
      val all = got.flatMap { case (_, text, _) =>
        if (text.isEmpty) Nil else text.split("\n").toSeq }
      assert(all.distinct.length == all.length, s"duplicate survived: $all")
      // and every distinct input line survives somewhere
      val wanted = lineIds.flatten.map(l => s"line $l").distinct.sorted
      assert(all.sorted.toSeq == wanted, s"lost lines: got $all wanted $wanted")
    }
  }

  test("property: mixToTarget hits exact floor proportions on random corpora") {
    import spark.implicits._
    val gen = for {
      nA <- Gen.choose(0, 80)
      nB <- Gen.choose(1, 80)
      nC <- Gen.choose(1, 80)
      pA <- Gen.choose(1L, 5L)
      pB <- Gen.choose(1L, 5L)
      buckets <- Gen.oneOf(2, 8, 64)
    } yield (nA, nB, nC, pA, pB, buckets)
    forAllSeeded(gen, 8) { case (nA, nB, nC, pA, pB, buckets) =>
      val corpus = ((0 until nA).map(i => (i.toLong, "A")) ++
        (1000 until 1000 + nB).map(i => (i.toLong, "B")) ++
        (2000 until 2000 + nC).map(i => (i.toLong, "C"))).toDF("id", "dom")
      val parts = Map("A" -> pA, "B" -> pB)
      val total = pA + pB
      val bigN = math.min(
        math.floor(nA.toLong * total / pA.toDouble),
        math.floor(nB.toLong * total / pB.toDouble)).toLong
      val expected = Map("A" -> pA * bigN / total, "B" -> pB * bigN / total)
        .filter(_._2 > 0)
      val got = Sampling.mixToTarget(corpus, "id", "dom", parts, buckets)
        .groupBy("dom").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"nA=$nA nB=$nB p=$pA:$pB buckets=$buckets: $got != $expected")
    }
  }

  test("property: labelPropagation equals the synchronous driver mirror") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(2, 14)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0, 13), Gen.choose(0, 13)))
    } yield edges.map { case (a, b) => (s"v${a % n}", s"v${b % n}") }
    forAllSeeded(gen, 6) { raw =>
      val und = raw.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .filter(e => e._1 != e._2).distinct
      if (und.nonEmpty) {
        val adj = (und ++ und.map(_.swap)).groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2) }
        var labels = adj.keys.map(v => v -> v).toMap
        for (_ <- 1 to 3) {
          labels = adj.map { case (v, nbs) =>
            val freq = nbs.groupBy(labels).map { case (l, g) => (l, g.size) }
            v -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
          }
        }
        val got = graft.graph.GraphAnalytics.labelPropagation(
            und.toDF("src", "dst").withColumn("value", lit(0L)), rounds = 3)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == labels, s"edges=$und")
      }
    }
  }

  test("property: semanticDedup keepers = min ids of brute-force cosine components") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(3, 24)
      seeds <- Gen.listOfN(n, Gen.choose(0, 5)) // few directions -> real groups
    } yield seeds
    forAllSeeded(gen, 6) { seeds =>
      // vectors near one of 6 fixed directions with a deterministic wobble
      val vecs = seeds.zipWithIndex.map { case (s, i) =>
        val base = Array.tabulate(8)(d => math.sin(s * 17 + d * 5).toFloat)
        (i.toLong, base.zipWithIndex.map { case (x, d) =>
          x + 0.02f * math.sin(i * 13 + d).toFloat })
      }
      def cos(a: Array[Float], b: Array[Float]): Double = {
        def dot(x: Array[Float], y: Array[Float]) =
          x.zip(y).map { case (p, q) => p.toDouble * q }.sum
        dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
      }
      // brute-force mirror: threshold graph -> union-find -> min per component
      val parent = scala.collection.mutable.Map(vecs.map(_._1 -> -1L): _*)
      def find(x: Long): Long = if (parent(x) < 0) x else { val r = find(parent(x)); parent(x) = r; r }
      for { (i, vi) <- vecs; (j, vj) <- vecs if i < j && cos(vi, vj) >= 0.95 } {
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
      }
      val comps = vecs.map(_._1).groupBy(find)
      val expected = comps.map { case (root, members) => root -> members.size.toLong }
      val got = graft.operators.Similarity.semanticDedup(
          vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", 0.95, exact = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seeds=$seeds")
    }
  }

  test("property: classifierScore is linear in token multiset") {
    import spark.implicits._
    val gen = Gen.listOfN(12, Gen.choose(0, 5)) // token ids with repeats
    forAllSeeded(gen, 6) { ids =>
      val words = ids.map(i => s"w$i")
      val doc = (1L, words.mkString(" "))
      val singles = words.distinct.zipWithIndex
        .map { case (w, i) => (100L + i, w) }
      val all = (doc +: singles).toDF("doc_id", "text")
      val scores = graft.operators.TextOps.classifierScore(all, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val wOf = singles.map { case (id, w) => w -> scores(id) }.toMap
      assert(scores(1L) == words.map(wOf).sum,
        s"doc score not the sum of token weights: $words")
    }
  }

  test("property: incremental wallet clustering upsert == full recompute") {
    import spark.implicits._
    import graft.chain.WalletCluster
    // random co-spend batches over a small address pool: each tx funds from
    // 1–3 addresses; base history then an incremental batch
    val txGen = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 14)).map(_.distinct.map(i => f"a$i%02d")))
    val txsGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, txGen))
    forAllSeeded(Gen.zip(txsGen, txsGen), 8) { case (baseTxs, batchTxs) =>
      def fundersDf(txs: Seq[Seq[String]], tag: String) =
        txs.zipWithIndex.flatMap { case (addrs, i) =>
          addrs.map(a => (s"$tag$i", a))
        }.toDF("tx_hash", "src_address")
      val baseFunders = fundersDf(baseTxs, "b")
      val batchFunders = fundersDf(batchTxs, "n")
      val baseAddrs = baseTxs.flatten.distinct.toDF("address")
      val allAddrs = (baseTxs.flatten ++ batchTxs.flatten).distinct.toDF("address")

      val stored = WalletCluster.clusters(baseAddrs, baseFunders)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val delta = WalletCluster.incrementalClusters(
          stored.toSeq.toDF("address", "wallet_id"), batchFunders)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val full = WalletCluster.clusters(allAddrs,
          baseFunders.unionByName(batchFunders))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(stored ++ delta == full,
        s"upsert != full: base=$baseTxs batch=$batchTxs delta=$delta")
      // minimality: every delta row is a real change (new or relabeled)
      assert(delta.forall { case (a, w) => !stored.get(a).contains(w) })
    }
  }

  test("property: incrementalClusters' driver route equals its distributed route (incl. null funders)") {
    import spark.implicits._
    import graft.chain.WalletCluster
    val txGen = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 14)).map(_.distinct.map(i => f"a$i%02d")))
    val txsGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, txGen))
    forAllSeeded(Gen.zip(txsGen, txsGen), 8) { case (baseTxs, batchTxs) =>
      def pairs(txs: Seq[Seq[String]], tag: String) =
        txs.zipWithIndex.flatMap { case (addrs, i) => addrs.map(a => (s"$tag$i", a)) }
      val base = pairs(baseTxs, "b").toDF("tx_hash", "src_address")
      // a null funder beside a real one, and one alone on its own tx
      val batch = (pairs(batchTxs, "n") ++ batchTxs.headOption.map(_ => ("n0", null: String)) ++
        Seq(("nz", null: String))).toDF("tx_hash", "src_address")
      val stored = WalletCluster.clusters(base.select(col("src_address").as("address")), base)
        .localCheckpoint(true)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))).sorted.toSeq
      val driver = rows(WalletCluster.incrementalClusters(stored, batch))
      sys.props("graft.broadcastMaxRows") = "0"
      val distributed = try rows(WalletCluster.incrementalClusters(stored, batch))
      finally sys.props.remove("graft.broadcastMaxRows")
      assert(driver == distributed, s"base=$baseTxs batch=$batchTxs")
    }
  }

  test("property: reorg repair + incremental == full recompute of the post-reorg chain") {
    import spark.implicits._
    import graft.chain.WalletCluster
    // three random co-spend batches over one small address pool: common
    // history, the branch reorged OUT (its edges retract — components may
    // split), and the replacement branch (its edges apply — components may
    // merge). The shared pool makes all interactions (split, re-merge via
    // replacement tx, pure add, orphaned address) reachable.
    val txGen = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 14)).map(_.distinct.map(i => f"a$i%02d")))
    val txsGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, txGen))
    forAllSeeded(Gen.zip(txsGen, txsGen, txsGen), 8) {
      case (commonTxs, oldBranchTxs, newBranchTxs) =>
        def fundersDf(txs: Seq[Seq[String]], tag: String) =
          txs.zipWithIndex.flatMap { case (addrs, i) =>
            addrs.map(a => (s"$tag$i", a))
          }.toDF("tx_hash", "src_address")
        val common = fundersDf(commonTxs, "c")
        val oldBr = fundersDf(oldBranchTxs, "o")
        val newBr = fundersDf(newBranchTxs, "n")
        val preAddrs = (commonTxs ++ oldBranchTxs).flatten.distinct.toDF("address")
        val postUniverse = (commonTxs ++ newBranchTxs).flatten.distinct

        val stored = WalletCluster.clusters(preAddrs, common.unionByName(oldBr))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val bestFunders = common.unionByName(newBr)
        // contraction forced past the economics floor: this property exists
        // to gate the O(affected) route on random graphs (tiny stores would
        // otherwise all route to the recompute-diff path, which ChainSpec
        // pins separately)
        val (repairRows, _, _) = WalletCluster.repairAfterReorg(
            stored.toSeq.toDF("address", "wallet_id"), oldBr, bestFunders,
            contractionMinStore = 0)
        val repair = repairRows.collect().map(r => r.getString(0) -> r.getString(1)).toMap
        // minimality: no emitted row re-asserts its stored label
        assert(repair.forall { case (a, w) => !stored.get(a).contains(w) },
          s"repair re-asserted stored labels: " +
            repair.filter { case (a, w) => stored.get(a).contains(w) })
        val afterRepair = stored ++ repair
        val delta = WalletCluster.incrementalClusters(
            afterRepair.toSeq.toDF("address", "wallet_id"), newBr)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val maintained = afterRepair ++ delta

        val full = WalletCluster.clusters(postUniverse.toDF("address"), bestFunders)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        postUniverse.foreach { a =>
          assert(maintained.get(a).contains(full(a)),
            s"label diverges at $a: maintained=${maintained.get(a)} full=${full(a)} " +
              s"common=$commonTxs old=$oldBranchTxs new=$newBranchTxs")
        }
        // addresses that existed only on the reorged-out branch stay as
        // documented singletons (label = self) until a full recompute
        (maintained.keySet -- postUniverse).foreach { a =>
          assert(maintained(a) == a,
            s"orphaned $a not a singleton: ${maintained(a)}")
        }
    }
  }

  test("property: the replace repair alone == full recompute of the post-reorg chain (every arm, null funder)") {
    import spark.implicits._
    import graft.chain.WalletCluster
    // the same random reorgs, repaired on the replace route with no
    // incremental pass after it: its one clustering of the post-reorg chain
    // must label every stored AND every new address. Run at the default
    // envelope (the pair-collect arm) and at an envelope equal to the store
    // size, which still routes to replace but sends cases with more pairs,
    // or more edges, than stored rows to the edge-collect and distributed
    // arms. The post-reorg chain carries a null funder on a tx of its own.
    val txGen = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 14)).map(_.distinct.map(i => f"a$i%02d")))
    val txsGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, txGen))
    val retractGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, txGen))
    forAllSeeded(Gen.zip(txsGen, retractGen, txsGen), 8) {
      case (commonTxs, oldBranchTxs, newBranchTxs) =>
        def funders(txs: Seq[Seq[String]], tag: String) =
          txs.zipWithIndex.flatMap { case (addrs, i) => addrs.map(a => (s"$tag$i", a)) }
        val common = funders(commonTxs, "c")
        val oldBr = funders(oldBranchTxs, "o").toDF("tx_hash", "src_address")
        val best = (common ++ funders(newBranchTxs, "n") :+ (("nz", null: String)))
          .toDF("tx_hash", "src_address")
        val postUniverse = (commonTxs ++ newBranchTxs).flatten.distinct
        val storedDf = WalletCluster.clusters(
          (commonTxs ++ oldBranchTxs).flatten.distinct.toDF("address"),
          (common.toDF("tx_hash", "src_address")).unionByName(oldBr))
          .localCheckpoint(true)
        val stored = storedDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val full = WalletCluster.clusters(postUniverse.toDF("address"), best)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        for (envelope <- Seq(None, Some(stored.size))) {
          envelope.foreach(e => sys.props("graft.broadcastMaxRows") = e.toString)
          val (rows, route, _) = try WalletCluster.repairAfterReorg(storedDf, oldBr, best)
            finally sys.props.remove("graft.broadcastMaxRows")
          val ctx = s"envelope=$envelope common=$commonTxs old=$oldBranchTxs new=$newBranchTxs"
          assert(route == WalletCluster.RepairRoute.Replace, ctx)
          val got = rows.collect().map(r => (Option(r.getString(0)), Option(r.getString(1))))
          assert(got.count(_._1.isEmpty) == 1 && got.contains((None, None)),
            s"null funder row: ${got.filter(_._1.isEmpty).toSeq} $ctx")
          val repair = got.collect { case (Some(a), w) => a -> w.orNull }.toMap
          assert(repair.forall { case (a, w) => !stored.get(a).contains(w) },
            s"replace re-asserted stored labels $ctx")
          val maintained = stored ++ repair
          postUniverse.foreach { a =>
            assert(maintained.get(a).contains(full(a)),
              s"label diverges at $a: maintained=${maintained.get(a)} full=${full(a)} $ctx")
          }
          (maintained.keySet -- postUniverse).foreach { a =>
            assert(maintained(a) == a, s"orphaned $a not a singleton: ${maintained(a)} $ctx")
          }
        }
    }
  }

  test("property: the multiset replace repair == the re-derived replace repair == full recompute (re-mined txs, null funders, T0 below and above the anchor)") {
    import spark.implicits._
    import graft.chain.WalletCluster
    import WalletCluster.{EdgeSource, PostEdges, RepairRoute}
    // random chains of blocks: a common prefix (anchor A = its last block),
    // the branch reorged OUT and the replacement branch. The stored multiset
    // is the prior chain's up to a tip T0, taken at or below A and above it.
    // The replacement branch re-mines the old branch's first tx on odd
    // seeds; null funders sit on a common tx, beside a real funder on the
    // old branch, and alone on the new branch.
    val txGen = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 14)).map(_.distinct.map(i => f"a$i%02d")))
    val blockGen = Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, txGen))
    val branchGen = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, blockGen))
    type Block = Seq[(String, Seq[String])]
    def tag(blocks: Seq[Seq[Seq[String]]], p: String): Seq[Block] =
      blocks.zipWithIndex.map { case (txs, b) =>
        txs.zipWithIndex.map { case (fs, t) => (s"$p$b.$t", fs) }
      }
    def pairs(blocks: Seq[Block]): Seq[(String, String)] =
      blocks.flatten.flatMap { case (t, fs) => fs.map(f => (t, f)) }
    def frame(ps: Seq[(String, String)]) = ps.toDF("tx_hash", "src_address")
    def labelRows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSeq
    forAllSeeded(Gen.zip(branchGen, branchGen, branchGen, Gen.choose(0, 99)), 10) {
      case (commonTxs, oldTxs, newTxs, pick) =>
        val common = tag(commonTxs, "c").updated(0, tag(commonTxs, "c").head :+ (("cz", Seq(null: String))))
        val old = tag(oldTxs, "o").updated(0, tag(oldTxs, "o").head :+ (("oz", Seq("a01", null: String))))
        val fresh = tag(newTxs, "n")
        val remined = if (pick % 2 == 1) fresh.updated(0, fresh.head :+ old.head.head) else fresh
        val repl = remined.updated(remined.size - 1, remined.last :+ (("nz", Seq(null: String))))
        val prior = common ++ old
        val post = common ++ repl
        val anchor = common.size
        val postPairs = pairs(post)
        val postUniverse = postPairs.map(_._2).filter(_ != null).distinct
        val storedDf = WalletCluster.clusters(
            pairs(prior).map(_._2).filter(_ != null).distinct.toDF("address"), frame(pairs(prior)))
          .localCheckpoint(true)
        val stored = storedDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val full = WalletCluster.clusters(postUniverse.toDF("address"), frame(postPairs))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val (headRows, headRoute, headPost) =
          WalletCluster.repairAfterReorg(storedDf, frame(pairs(old)), frame(postPairs))
        assert(headRoute == RepairRoute.Replace)
        val postEdges = WalletCluster.starEdges(postPairs)
        assert(headPost == Some(PostEdges(postEdges, stored = false)))
        val head = labelRows(headRows)
        for (t0h <- Seq(1 + pick % anchor, anchor + 1 + pick % old.size)) {
          val ctx = s"T0=$t0h A=$anchor common=$common old=$old new=$repl"
          val source = EdgeSource.Stored(WalletCluster.starEdges(pairs(prior.take(t0h))),
            frame(pairs(prior.slice(anchor, t0h))),
            frame(pairs(prior.slice(t0h, anchor) ++ repl)))
          // the stored source reads neither the invalidated pairs nor the chain
          val (rows, route, moved) = WalletCluster.repairAfterReorg(storedDf,
            sys.error("read the invalidated pairs"), sys.error("read the whole chain"),
            source = source)
          assert(route == RepairRoute.Replace, ctx)
          assert(moved == Some(PostEdges(postEdges, stored = true)), s"moved multiset $ctx")
          val got = labelRows(rows)
          // same rows as the re-derived route; the null row comes from the
          // null funder of the added blocks
          assert(got.filter(_._1.isDefined).toSet == head.filter(_._1.isDefined).toSet,
            s"multiset rows != re-derived rows $ctx")
          assert(got.filter(_._1.isEmpty) == Seq((None, None)), ctx)
          val repair = got.collect { case (Some(a), w) => a -> w.orNull }.toMap
          assert(repair.forall { case (a, w) => !stored.get(a).contains(w) },
            s"multiset repair re-asserted stored labels $ctx")
          val maintained = stored ++ repair
          postUniverse.foreach { a =>
            assert(maintained.get(a).contains(full(a)),
              s"label diverges at $a: maintained=${maintained.get(a)} full=${full(a)} $ctx")
          }
          (maintained.keySet -- postUniverse).foreach { a =>
            assert(maintained(a) == a, s"orphaned $a not a singleton: ${maintained(a)} $ctx")
          }
        }
    }
  }

  test("property: minhashBandAgreement == brute-force band comparison of the signatures") {
    import spark.implicits._
    import graft.operators.Dedup
    // random word-soup docs over a small vocabulary so band collisions at
    // every agreement level are reachable (identical docs → 8/8, shared
    // phrases → partial, disjoint → absent)
    val wordGen = Gen.choose(0, 11).map(i => s"w$i")
    val docGen = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val corpusGen = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, docGen))
    forAllSeeded(Gen.zip(corpusGen, corpusGen), 6) { case (incTexts, refTexts) =>
      val inc = incTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val ref = refTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
        .toDF("doc_id", "text")
      val incSigs = Dedup.minhashSignatures(inc, "doc_id", "text")
      val refSigs = Dedup.minhashSignatures(ref, "doc_id", "text")
      val got = Dedup.minhashBandAgreement(
          Dedup.bandedBuckets(incSigs, "doc_id"),
          Dedup.bandedBuckets(refSigs, "doc_id"), "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      // brute force: compare raw signature slots band by band
      val incRaw = incSigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val refRaw = refSigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val expected = (for {
        (i, si) <- incRaw; (j, sj) <- refRaw
        m = (0 until 8).count(b => (0 until 4).forall(r => si(b * 4 + r) == sj(b * 4 + r)))
        if m >= 1
      } yield (i, j) -> m).toMap
      assert(got.keySet == expected.keySet,
        s"pair sets differ: inc=$incTexts ref=$refTexts")
      expected.foreach { case (pair, m) =>
        val (gotM, gotEst) = got(pair)
        assert(gotM == m, s"matched_bands at $pair: $gotM vs $m")
        val est = BigDecimal(math.pow(m / 8.0, 0.25))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(gotEst == est, s"est_jaccard at $pair: $gotEst vs $est")
      }
    }
  }

  test("property: bigram_counts histogram == exploded substr on random unicode") {
    import spark.implicits._
    import graft.functions.BigramCountsOps.bigram_counts
    // char pool spanning 1–4 UTF-8 bytes, incl. spaces trim touches,
    // newlines, combining marks and astral-plane emoji
    val charGen = Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf(" ", "\n", "\t", "é", "ß", "日", "本", "́", "😀", "👍", "𝕏"))
    val docGen = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val corpusGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, docGen))
    forAllSeeded(corpusGen, 10) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val t = trim(col("text"))
      val exploded = docs.select(col("doc_id"),
          explode(when(length(t) >= 2,
              transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
            .otherwise(array().cast("array<string>"))).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("cd"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val hist = docs.select(col("doc_id"),
          explode(bigram_counts(trim(col("text")))).as(Seq("bg", "cd")))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(hist == exploded, s"histogram mismatch on ${texts.map(_.take(40))}")
    }
  }
}
