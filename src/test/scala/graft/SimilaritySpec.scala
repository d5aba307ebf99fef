package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.tables.Tables

/** Quality gates for the approximate similarity paths: approximate operators
  * pass rows-only correctness gates with ZERO recall, so recall against the
  * exact baseline is asserted here (memory: round 1 caught lshTopK at 0/50
  * from too-tight bands exactly this way).
  */
class SimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.1"

  /** Index memos of one kind held by the test's (outermost) scope. */
  private def memos(kind: String): Int = Scope.memoSlots.count(_.startsWith(s"$kind:"))

  private def topkSet(df: org.apache.spark.sql.DataFrame, idCol: String): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col(idCol).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("registered ANN queries hold their recall floors (the bench audit, spec-side)") {
    // The operator-parameter tests below pin the machinery; THIS pins the
    // four REGISTERED queries (sim5/sim6/sim7/p1) — the exact code path the
    // correctness gate dumps rows-only — against brute force via the same
    // RecallAudit the bench emits. Until r18 that audit ran only inside the
    // bench, so a contention-invalidated bench (r15, r17) left the round's
    // recall evidence stale; now `sbt test` asserts the floors regardless.
    RecallAudit.checks.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val r = fn(spark, sf)
      assert(r >= RecallAudit.floors(name),
        f"$name registered-query recall $r%.4f below floor ${RecallAudit.floors(name)}%.2f")
    }
  }

  test("pqTopKFor auto-routes to the IVF-PQ composition above the flat-scan ceiling") {
    import graft.operators.ProductQuantizer
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 3)
    // the test's own scope starts with no memoized index or routing count;
    // the route shows in which memo served the call: flat PQ or IVF-PQ
    def routes = (memos("pq"), memos("ivfpq"))
    ProductQuantizer.pqTopKFor(emb, queries, "vec_id", "embedding", k = 5).collect()
    assert(routes == ((1, 0)), "flat route expected")
    sys.props("graft.pqFlatScanMaxRows") = "10"
    try {
      Scope.reopen() // a scope boundary: the memos start over
      val rows = ProductQuantizer
        .pqTopKFor(emb, queries, "vec_id", "embedding", k = 5).collect()
      assert(routes == ((0, 1)), "IVF-PQ delegation expected")
      val perQuery = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      assert(perQuery.keySet.size == 3 && perQuery.values.forall(_ == 5))
    } finally sys.props.remove("graft.pqFlatScanMaxRows")
  }

  test("pqTopKFor memo re-keys when the corpus grows past the ceiling (r18 ask #7)") {
    import spark.implicits._
    import graft.operators.ProductQuantizer
    // The memoized routing count is keyed on (plan, data version): a corpus
    // that grows past the flat-scan ceiling between calls — appended files,
    // same path, semantically identical re-read — must NOT keep the stale
    // flat route. The file set is the data-version signal.
    val dir = java.nio.file.Files.createTempDirectory("graft_pqroute").toString
    def vecs(lo: Int, hi: Int) = (lo to hi)
      .map(i => (i.toLong, Array.tabulate(8)(d => math.sin(i * (d + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    vecs(1, 60).coalesce(1).write.mode("append").parquet(dir)
    val queries = vecs(1, 2)
    sys.props("graft.pqFlatScanMaxRows") = "100"
    try {
      // the test's own scope starts with no memo
      ProductQuantizer.pqTopKFor(
        spark.read.parquet(dir), queries, "vec_id", "embedding",
        k = 3, m = 4, ksub = 4).collect()
      // the route shows in which memo served the call: flat PQ or IVF-PQ
      assert(memos("pq") == 1 && memos("ivfpq") == 0, "flat route expected")
      // grow past the ceiling — NO scope boundary: the re-key alone must flip
      vecs(61, 220).coalesce(1).write.mode("append").parquet(dir)
      val rows = ProductQuantizer.pqTopKFor(
        spark.read.parquet(dir), queries, "vec_id", "embedding",
        k = 3, m = 4, ksub = 4, rerank = 12).collect()
      assert(memos("ivfpq") == 1, "stale memo kept the flat route after growth")
      // the grown corpus' row count replaced the stale one
      assert(memos("rows") == 1, "a re-keyed memo was added beside its stale entry")
      assert(rows.nonEmpty)
    } finally sys.props.remove("graft.pqFlatScanMaxRows") // the test's scope closes
  }

  test("IVF top-k recall >= 0.89 of brute force on sf0.1 embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = topkSet(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5), "vec_id")
    // the synthetic embeddings are measured structureless (random-vector
    // cosines), IVF's worst case — nprobe/nlist ≈ 0.6 is what 0.9 recall
    // costs here; clustered corpora reach it at a tenth of that
    val ivf = topkSet(
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nlist = 64, nprobe = 48), "vec_id")
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.89, s"IVF recall $recall (${(ivf & exact).size}/${exact.size})")
  }

  test("PQ top-k recall >= 0.91 of brute force; deterministic; codes bounded") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = topkSet(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5), "vec_id")
    // Structureless random vectors are PQ's worst case exactly as they are
    // IVF's (see sim5's 0.6 probe fraction): subspace quantization error is
    // maximal, so the worst case buys recall with bits — m=16 x 5-bit
    // codebooks (80-bit codes) + a 2% re-rank window. Clustered real-world
    // embeddings run 32-bit codes with far smaller windows.
    val model = graft.operators.ProductQuantizer.pqIndex(
      emb, "vec_id", "embedding", m = 16, ksub = 32)
    val pq = topkSet(
      graft.operators.ProductQuantizer.pqTopK(model, queries, k = 5, rerank = 100),
      "vec_id")
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.91, s"PQ recall $recall (${(pq & exact).size}/${exact.size})")
    // deterministic: rebuild + reprobe is bit-identical
    val model2 = graft.operators.ProductQuantizer.pqIndex(
      emb, "vec_id", "embedding", m = 16, ksub = 32)
    val pq2 = topkSet(
      graft.operators.ProductQuantizer.pqTopK(model2, queries, k = 5, rerank = 100),
      "vec_id")
    assert(pq2 == pq, "PQ must be deterministic across rebuilds")
    // every code addresses a real codeword
    val bad = model.encoded
      .where(exists(col("codes"), c => c < 0 || c >= 32)).count()
    assert(bad == 0, "codes out of codebook range")
    model.unpersist(); model2.unpersist()
  }

  test("IVF-PQ top-k recall >= 0.87 of brute force; scans only probed cells") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = topkSet(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5), "vec_id")
    // the two approximations compound (sim5's probe loss x sim6's code
    // loss), so the combined floor sits slightly under either parent's 0.9
    // on this structureless worst-case corpus
    val model = graft.operators.ProductQuantizer.ivfPqIndex(
      emb, "vec_id", "embedding", nlist = 64, m = 16, ksub = 32)
    val got = topkSet(
      graft.operators.ProductQuantizer.ivfPqTopK(model, queries, k = 5,
        nprobe = 48, rerank = 200), "vec_id")
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.87, s"IVF-PQ recall $recall (${(got & exact).size}/${exact.size})")
    // the scan provably touches only the probed slice: with nprobe=1 the
    // scanned fraction is bounded by the biggest single cell
    val one = graft.operators.ProductQuantizer.ivfPqTopK(model, queries, k = 5,
      nprobe = 1, rerank = 100)
    assert(one.count() > 0)
    val biggest = model.encoded.groupBy("cell").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(biggest < emb.count() / 4, s"degenerate cell of $biggest rows")
    model.unpersist()
  }

  test("p1 media pipeline: IVF over embedMedia output keeps recall >= 0.95") {
    // End-to-end gate for the mm→ANN composition p1_media_pipeline: the
    // byte-histogram×JL embeddings (REAL content structure — text blobs
    // cluster by language/byte distribution, unlike the structureless
    // synthetic embeddings above) must keep IVF recall against brute force
    // over the SAME vectors.
    import graft.operators.Multimodal
    val media = Tables.documents(spark, sf)
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"))
    val emb = Multimodal.embedMedia(media, dim = 16).cache()
    val queries = emb.filter(col("media_id") < 10)
    val exact = topkSet(
      Similarity.bruteForceTopK(emb, queries, "media_id", "embedding", k = 5), "media_id")
    val ivf = topkSet(
      Similarity.ivfTopK(emb, queries, "media_id", "embedding", k = 5,
        nlist = 64, nprobe = 40), "media_id")
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"media-pipeline recall $recall (${(ivf & exact).size}/${exact.size})")
    emb.unpersist()
  }

  test("embedMedia: unit-norm, deterministic, content-sensitive, poison-safe") {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Seq(
      (1L, "aaaa bbbb cccc dddd".getBytes("UTF-8")),
      (2L, "aaaa bbbb cccc dddd".getBytes("UTF-8")), // identical content
      (3L, "aaaa bbbb cccc dddx".getBytes("UTF-8")), // near-identical
      (4L, Array.tabulate(512)(i => (i * 37).toByte)), // different content
      (5L, Array.emptyByteArray),
      (6L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "bytes")
    val out = Multimodal.embedMedia(media, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    def norm(a: Array[Float]): Double = math.sqrt(cos(a, a))
    assert(math.abs(norm(out(1L)) - 1.0) < 1e-5)
    assert(out(1L).sameElements(out(2L))) // same bytes → same vector, exactly
    assert(cos(out(1L), out(3L)) > 0.9) // near-dup bytes → near-dup vectors
    assert(cos(out(1L), out(4L)) < 0.9) // different content separates
    assert(out(5L).forall(_ == 0f) && out(6L).forall(_ == 0f)) // poison rows inert
  }

  test("IVF scans a bounded corpus fraction (cell containment)") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 10)
    // candidate rows before re-rank ≈ nprobe/nlist of the corpus per query —
    // assert via the scored output cap: every query returns exactly k rows
    // and the plan joins on the cell id, not all-pairs
    val df = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
      nlist = 32, nprobe = 4)
    val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("cell"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val counts = df.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(counts.length == 10 && counts.forall(_ == 5L))
    assert(n > 1000) // the corpus is big enough for the fraction to matter
  }

  test("IVF memo is bounded: probing many distinct corpora evicts + unpersists") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 3)
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.size
    // six distinct corpora — each filter is a distinct canonical plan, so
    // each builds (and persists) its own index, memoized in the test's scope
    def probe(i: Int): Unit =
      Similarity.ivfTopK(emb.filter(col("vec_id") % 7 =!= i), queries, "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 4).write.format("noop").mode("overwrite").save()
    (0 until 6).foreach(probe)
    assert(memos("ivf") == 6)
    // a second probe of a corpus reuses its index: nothing more is persisted
    val built = sc.getPersistentRDDs.size
    probe(0)
    assert(memos("ivf") == 6 && sc.getPersistentRDDs.size == built)
    // each live model persists exactly one cells DataFrame
    assert(built - baseline <= 6, s"leaked persisted RDDs: $baseline -> $built")
    Scope.reopen() // the scope closes: every index is unpersisted
    assert(memos("ivf") == 0)
    assert(sc.getPersistentRDDs.size <= baseline,
      s"closing the scope left indexes persisted: $baseline -> ${sc.getPersistentRDDs.size}")
  }

  test("IVF save/load: identical probe results, partition-pruned scan") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    val built = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 16)
    val inMem = topkSet(Similarity.ivfProbe(built, queries, k = 5, nprobe = 4), "vec_id")

    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.saveIvfIndex(built, dir)
    val loaded = Similarity.loadIvfIndex(spark, dir, "vec_id", "embedding")
    assert(loaded.centroids.map(_.toSeq).toSeq == built.centroids.map(_.toSeq).toSeq)

    val probe = Similarity.ivfProbe(loaded, queries, k = 5, nprobe = 4)
    assert(topkSet(probe, "vec_id") == inMem)
    // the cell IN (...) filter reaches the partitioned scan: pruned partition
    // count < nlist (the probed-cell union of 5 queries × 4 probes)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || scan.contains("cell IN"),
      s"expected partition pruning in plan:\n${scan.take(2000)}")
    built.unpersist()
  }

  test("IVF append: O(new) incremental index == from-scratch assignment; untouched cells byte-identical") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val extra = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 400)
    val built = Similarity.ivfIndex(base, "vec_id", "embedding", nlist = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    Similarity.saveIvfIndex(built, dir)

    def fileSigs(): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "cells")).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          p.toString -> md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    val before = fileSigs()
    val stats = Similarity.appendToIvfIndex(spark, dir, extra, "vec_id", "embedding")
    val touched = stats.touchedCells
    val after = fileSigs()

    // pre-existing cell files untouched byte-for-byte; new files confined to
    // exactly the `touched` cell directories the append reported
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-existing file changed: $p")
    }
    val newCells = (after.keySet -- before.keySet)
      .map(p => p.split('/').find(_.startsWith("cell=")).get)
    assert(newCells.size == touched && touched > 0)

    // the appended index is bit-equivalent to assigning base UNION extra
    // against the same centroids (assignment is a pure function of them)
    val loaded = Similarity.loadIvfIndex(spark, dir, "vec_id", "embedding")
    val bc = spark.sparkContext.broadcast(built.centroids)
    val expected = base.unionByName(extra)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (Similarity.nearestCells(v, bc.value, 1)(0), id) }
      .collect().toSet
    val got = loaded.cells.select(col("cell").cast("int"), col("vec_id").cast("long"))
      .as[(Int, Long)].collect().toSet
    assert(got == expected)

    // probes reach the appended vectors: querying WITH an appended vector
    // (under a fresh id, so the self-exclusion doesn't hide it) returns the
    // appended id as the exact-cosine top hit
    val probeVec = extra.orderBy("vec_id").limit(1)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].head()
    val q = Seq((999999L, probeVec._2)).toDF("vec_id", "embedding")
    val hit = Similarity.ivfProbe(loaded, q, k = 1, nprobe = 4)
      .select("vec_id").as[Long].head()
    assert(hit == probeVec._1)

    // cell-balance stats: the rebuild trigger signal. Cross-check against a
    // direct count over the appended index, and the _cellstats.json mirror.
    val cellSizes = loaded.cells.groupBy("cell").count()
      .select(col("count")).as[Long].collect()
    assert(stats.newVectors == extra.count())
    assert(stats.nonEmptyCells == cellSizes.length)
    assert(stats.maxCell == cellSizes.max)
    assert(math.abs(stats.meanCell - cellSizes.sum.toDouble / cellSizes.length) < 1e-9)
    assert(stats.p99Cell <= stats.maxCell && stats.p99Cell > 0)
    assert(stats.skew >= 1.0)
    val sidecar = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_cellstats.json"))
    assert(sidecar.contains(s""""max_cell":${stats.maxCell}"""))
    assert(sidecar.contains(s""""touched_cells":$touched"""))
    built.unpersist()
  }

  test("rebuildIvfIndexIfSkewed: drift past the threshold triggers an in-place retrain that rebalances") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 250)
    val built = Similarity.ivfIndex(base, "vec_id", "embedding", nlist = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rebuild").toString
    Similarity.saveIvfIndex(built, dir)
    built.unpersist()
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    // drifted mass: a new angular region (around e1) with internal variance
    // borrowed from the base vectors, so a retrain CAN spread it over many
    // cells — under the old centroids it concentrates in very few
    val drift = base.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => (x * lit(0.3f) + when(i === 0, lit(1.0f)).otherwise(lit(0.0f)))
          .cast("float")).as("embedding"))
    val driftAll = drift.unionByName(
      drift.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    val stats = Similarity.appendToIvfIndex(spark, dir, driftAll, "vec_id", "embedding")
    assert(stats.skew > 4.0, s"fixture did not skew the index: ${stats.json}")

    // below the threshold: untouched
    assert(!Similarity.rebuildIvfIndexIfSkewed(spark, dir, "vec_id", "embedding",
      maxSkew = stats.skew + 1))
    // above: retrains in place, preserves the vector set, rebalances
    val before = spark.read.parquet(s"$dir/cells")
      .select("vec_id").as[Long].collect().toSet
    assert(Similarity.rebuildIvfIndexIfSkewed(spark, dir, "vec_id", "embedding",
      maxSkew = 4.0, nlist = 16))
    val after = spark.read.parquet(s"$dir/cells")
      .select("vec_id").as[Long].collect().toSet
    assert(after == before, "rebuild lost or invented vectors")
    val newSkew = """"skew":([0-9.eE+-]+)""".r
      .findFirstMatchIn(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_cellstats.json"))).get.group(1).toDouble
    assert(newSkew < stats.skew, s"retrain did not reduce skew: $newSkew vs ${stats.skew}")
    // signal cleared: the same threshold no longer triggers
    assert(!Similarity.rebuildIvfIndexIfSkewed(spark, dir, "vec_id", "embedding",
      maxSkew = math.max(4.0, newSkew + 0.01)))
  }

  test("cellstats sidecar + rebuild through the Hadoop FS API: file:-prefixed URI, running counts exact across appends") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 200)
    val built = Similarity.ivfIndex(base, "vec_id", "embedding", nlist = 16)
    // `file:`-prefixed absolute URI — the sidecar and swap paths must go
    // through the Hadoop FileSystem API (a java.nio path would throw or
    // silently miss here), the local stand-in for an object-store deployment
    val rawDir = java.nio.file.Files.createTempDirectory("graft-ivf-fsuri")
    val dir = "file:" + rawDir.toString
    Similarity.saveIvfIndex(built, dir)
    built.unpersist()

    def directCells(): Map[Int, Long] =
      spark.read.parquet(s"$dir/cells").groupBy("cell").count()
        .as[(Int, Long)].collect().toMap
    def sidecar(): String = java.nio.file.Files.readString(
      rawDir.resolve("_cellstats.json"))

    // two consecutive appends: the second one's sidecar counts must come
    // from MERGING the first sidecar's map (no full-index rescan) and still
    // agree exactly with a direct count over the on-disk index
    val extra1 = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    val extra2 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)
      .select((col("vec_id") + 600000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(spark, dir, extra1, "vec_id", "embedding")
    assert(sidecar().contains("\"cells\":{"), "sidecar must carry running counts")
    val stats2 = Similarity.appendToIvfIndex(spark, dir, extra2, "vec_id", "embedding")
    val direct = directCells()
    assert(stats2.nonEmptyCells == direct.size)
    assert(stats2.maxCell == direct.values.max)
    assert(math.abs(stats2.meanCell - direct.values.sum.toDouble / direct.size) < 1e-9)

    // rebuild through the same URI: swap machinery (sibling dir + renames)
    // must leave exactly one complete index behind, same vector set
    val before = spark.read.parquet(s"$dir/cells")
      .select("vec_id").as[Long].collect().toSet
    assert(Similarity.rebuildIvfIndexIfSkewed(spark, dir, "vec_id", "embedding",
      maxSkew = 0.5, nlist = 16)) // any index has skew >= 1 — forces the rebuild
    val after = spark.read.parquet(s"$dir/cells")
      .select("vec_id").as[Long].collect().toSet
    assert(after == before, "rebuild via file: URI lost or invented vectors")
    assert(!java.nio.file.Files.exists(rawDir.resolve("_rebuild")))
    assert(!java.nio.file.Files.exists(rawDir.resolve("_prev")))
    // post-rebuild sidecar refreshed with the rebuilt index's exact counts
    val rebuilt = directCells()
    assert(sidecar().contains(s""""non_empty_cells":${rebuilt.size}"""))
  }

  test("semanticDupsAgainst: batch re-embeds of indexed content flagged; fresh vectors pass") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val built = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 16)
    // batch: two exact re-embeds of indexed vectors under new ids + one
    // orthogonal-ish fresh vector (a basis vector is near-orthogonal to
    // unit-norm random embeddings — cosine far below tau)
    val copies = emb.filter(col("vec_id").isin(7L, 19L))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val fresh = Seq((2000000L, Array.tabulate(dim)(i => if (i == 0) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val dups = Similarity.semanticDupsAgainst(built, copies.unionByName(fresh),
        tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val flaggedIds = dups.map(_._1).toSet
    assert(flaggedIds == Set(1000007L, 1000019L))
    // the exact copy's top hit is its original at cosine ~1
    assert(dups.filter(_._1 == 1000007L).exists(d => d._2 == 7L && d._3 > 0.999))
    assert(dups.filter(_._1 == 1000019L).exists(d => d._2 == 19L && d._3 > 0.999))

    // REPLAYED ids: a batch re-checked under its ORIGINAL ids (crash-replay
    // of an already-appended feed) must still collide with its own indexed
    // rows — the probe here runs without ivfProbe's self-exclusion, so the
    // id-equal pair is reported instead of silently skipped and re-appended.
    val replay = emb.filter(col("vec_id").isin(7L, 19L))
    val replayDups = Similarity.semanticDupsAgainst(built, replay, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(replayDups.map(_._1).toSet == Set(7L, 19L))
    assert(replayDups.exists(d => d._1 == 7L && d._2 == 7L && d._3 > 0.999))
    built.unpersist()
  }

  test("semanticDedup: transitive groups collapse to the min id; singletons survive") {
    import spark.implicits._
    // group {1,2,3}: 1~2 and 2~3 at cos 1.0 (transitive via 2); {4,5}: a
    // pair; {6}: near-orthogonal singleton. Unit-ish 4-dim vectors.
    val v = Map(
      1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(1f, 0f, 0f, 0f),
      3L -> Array(1f, 0f, 0f, 0f), 4L -> Array(0f, 1f, 0f, 0f),
      5L -> Array(0f, 1f, 0f, 0f), 6L -> Array(0f, 0f, 1f, 0f))
    val df = v.toSeq.toDF("vec_id", "embedding")
    val exact = Similarity.semanticDedup(df, "vec_id", "embedding", 0.9, exact = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == Map(1L -> 3L, 4L -> 2L, 6L -> 1L), exact)
    // default banded path: identical vectors share every LSH band, so
    // exact-duplicate groups MUST collapse there too (keepers a subset of
    // the corpus, min-id law preserved)
    val banded = Similarity.semanticDedup(df, "vec_id", "embedding", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(banded == exact, banded)
  }

  test("k-means training is deterministic and centroids are unit-norm") {
    val sample = Array.tabulate(200)(i =>
      Array.tabulate(8)(j => math.sin(i * 31 + j * 7).toFloat))
    val a = Similarity.trainCentroids(sample, 8, 5)
    val b = Similarity.trainCentroids(sample, 8, 5)
    assert(a.length == 8)
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    a.foreach { c =>
      val norm = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"centroid norm $norm")
    }
  }

  test("rebuild crash mid-swap: the displaced _prev copy is restored, never deleted") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 200)
    val built = Similarity.ivfIndex(base, "vec_id", "embedding", nlist = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-crash").toString
    Similarity.saveIvfIndex(built, dir)
    built.unpersist()
    // a sidecar whose skew trips any reasonable gate
    Similarity.appendToIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 210)
        .select((col("vec_id") + 700000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val before = spark.read.parquet(s"$dir/cells")
      .select("vec_id").as[Long].collect().toSet

    // simulate a crash after the swap displaced the live copies but before
    // promotion: cells/centroids live under _prev/, _rebuild/ never promoted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.mkdirs(hp(s"$dir/_prev"))
    assert(fs.rename(hp(s"$dir/cells"), hp(s"$dir/_prev/cells")))
    assert(fs.rename(hp(s"$dir/centroids"), hp(s"$dir/_prev/centroids")))
    fs.mkdirs(hp(s"$dir/_rebuild")) // stale partial rebuild

    // the next run must RESTORE from _prev (not delete both copies and die),
    // then complete the rebuild with the exact same vector set
    assert(Similarity.rebuildIvfIndexIfSkewed(spark, dir, "vec_id", "embedding",
      maxSkew = 0.5, nlist = 16))
    val after = spark.read.parquet(s"$dir/cells")
      .select("vec_id").as[Long].collect().toSet
    assert(after == before, "crash recovery lost or invented vectors")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_prev")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_rebuild")))

    // with NEITHER a live copy nor _prev, the rebuild must refuse, not wipe
    assert(fs.rename(hp(s"$dir/cells"), hp(s"$dir/cells_hidden")))
    intercept[IllegalStateException] {
      Similarity.rebuildIvfIndexIfSkewed(spark, dir, "vec_id", "embedding",
        maxSkew = 0.5, nlist = 16)
    }
    assert(fs.rename(hp(s"$dir/cells_hidden"), hp(s"$dir/cells")))
  }

  test("empty-batch append: no-op with well-defined stats on fresh and populated indexes") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val empty = emb.where(lit(false)).select("vec_id", "embedding")

    // fresh index: centroids only, no cells/, no sidecar — must not throw
    val built = Similarity.ivfIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    Similarity.saveIvfIndex(built, dir)
    built.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(dir, "cells").toFile)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "_cellstats.json"))
    val fresh = Similarity.appendToIvfIndex(spark, dir, empty, "vec_id", "embedding")
    assert(fresh.newVectors == 0 && fresh.nonEmptyCells == 0 && fresh.skew == 0.0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "cells")),
      "empty append materialized an empty cells dir")

    // populated index: stats report the prior state, files stay untouched
    val built2 = Similarity.ivfIndex(emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", nlist = 8)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivf-empty2").toString
    Similarity.saveIvfIndex(built2, dir2)
    built2.unpersist()
    val seeded = Similarity.appendToIvfIndex(spark, dir2,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
        .select((col("vec_id") + 800000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val noop = Similarity.appendToIvfIndex(spark, dir2, empty, "vec_id", "embedding")
    assert(noop.newVectors == 0 && noop.touchedCells == 0)
    assert(noop.nonEmptyCells == seeded.nonEmptyCells && noop.maxCell == seeded.maxCell)
  }
}
