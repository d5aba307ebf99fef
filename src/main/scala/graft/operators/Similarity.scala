package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (array<float>). Two tiers:
  *
  *  - `bruteForceTopK`: exact cosine top-k. The query set is broadcast, the
  *    corpus streams once — O(|corpus| * |queries| * dim) FLOPs inside
  *    whole-stage codegen (zip_with + aggregate, no UDF). Correct baseline
  *    and still the right choice when |queries| is small even at 100 TB.
  *
  *  - `lshTopK`: random-hyperplane (SimHash-for-vectors) bucketing. Corpus
  *    and queries are hashed to a b-bit signature; candidates = bucket
  *    collisions on any band; exact cosine re-ranks candidates. Cheap to
  *    index, but band geometry caps recall for weakly-similar neighbors.
  *
  *  - `ivfTopK`: inverted-file index — spherical k-means centroids trained
  *    on a driver-side sample partition the corpus into nlist cells; a query
  *    exact-scores only its nprobe nearest cells. Scans ~nprobe/nlist of the
  *    corpus with recall >= 0.9 of brute force (spec-gated) — the 100 TB
  *    recall-at-scale path.
  */
object Similarity {

  import graft.functions.VecOps.vec_dot_f

  /** Cosine similarity of two array<float> columns, computed in double.
    * Uses the codegen'd [[graft.functions.VecDotF]] primitive loop — same
    * left-to-right double accumulation as the higher-order
    * `aggregate(zip_with(...))` form (bit-identical results), ~10× faster.
    */
  def cosine(a: Column, b: Column): Column =
    vec_dot_f(a, b) / (sqrt(vec_dot_f(a, a)) * sqrt(vec_dot_f(b, b)))

  /** Exact top-k by cosine for each query vector.
    *
    * @param corpus  (idCol, vecCol) — the big side, streamed.
    * @param queries (idCol, vecCol) — small; broadcast.
    * @return (query_id, id, score, rank) rows, k per query.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
    val scored = corpus
      .join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(
        col("query_id"), col(idCol),
        cosine(col(vecCol), col("_qv")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs: (a, b) with cosine >= threshold.
    *
    * DEFAULT path is scale-safe: hyperplane-LSH band buckets generate the
    * candidate pairs (an equi-join on (band, bucket), hot buckets star-capped
    * via [[Dedup.cappedBucketPairs]]) and exact cosine verifies each — the
    * O(n²) surface never materializes. `exact = true` switches to the
    * brute-force all-pairs theta join: full recall, quadratic cost — the
    * verification baseline, for bounded corpora only.
    */
  def exactNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String, threshold: Double,
      exact: Boolean = false,
      bits: Int = 16, bandBits: Int = 4, seed: Int = 42,
      maxBucketSize: Int = 1000): DataFrame = {
    if (exact) {
      val a = corpus.select(col(idCol).as("id1"), col(vecCol).as("_va"))
      val b = corpus.select(col(idCol).as("id2"), col(vecCol).as("_vb"))
      a.join(b, col("id1") < col("id2"))
        .select(col("id1"), col("id2"), cosine(col("_va"), col("_vb")).as("cos"))
        .where(col("cos") >= threshold)
    } else {
      val bands = bits / bandBits
      val sig = hyperplaneSignature(col(vecCol), bits, seed)
      val bandStructs = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("_sig"), b * bandBits)
            .bitwiseAND((1L << bandBits) - 1).as("bucket"))
      }
      val banded = corpus
        .select(col(idCol), col(vecCol).as("_v"), sig.as("_sig"))
        .select(col(idCol), col("_v"), explode(array(bandStructs: _*)).as("bb"))
        .select(col(idCol), col("bb.band"), col("bb.bucket"), col("_v"))
      Dedup.cappedBucketPairs(banded, idCol, Seq("band", "bucket"), Some("_v"), maxBucketSize)
        .select(col("id1"), col("id2"), cosine(col("_e1"), col("_e2")).as("cos"))
        .where(col("cos") >= threshold)
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., arXiv:2303.09540):
    * collapse each group of semantically near-identical documents to ONE
    * representative. Candidate pairs come from [[exactNearDupPairs]]
    * (banded hyperplane-LSH by default — the O(n²) surface never
    * materializes; `exact = true` is the full-recall baseline for bounded
    * corpora), the transitive closure from `Dedup.nearDupClusters`
    * (envelope-routed union-find / GraphX CC), and each component's keeper
    * is its MIN id — which is exactly the component label the closure
    * assigns, so "keep" is a filter (id == label), not another ranking.
    *
    * @return one row per KEPT document: (idCol, n_members) — n_members > 1
    *         marks a semantic group collapsed into this representative;
    *         the kept-corpus join key for the downstream pipeline.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exact: Boolean = false): DataFrame = {
    val pairs = exactNearDupPairs(corpus, idCol, vecCol, threshold, exact)
    val comps = Dedup.nearDupClusters(
      corpus.select(col(idCol)), pairs.select("id1", "id2"))
    val sizes = comps.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    comps.where(col("doc_id") === col("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id").as(idCol), col("n_members"))
  }

  // ------------------------------------------------------------------- IVF

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(dot(v, v))
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  /** Indices of the `n` centroids nearest to `v` by cosine (centroids are
    * unit-norm, so argmax dot ≡ argmax cosine). Deterministic tie-break on
    * the lower cell index.
    */
  private[graft] def nearestCells(v: Array[Float], centroids: Array[Array[Float]], n: Int): Array[Int] =
    centroids.indices
      .map(i => (i, dot(v, centroids(i))))
      .sortBy { case (i, d) => (-d, i) }
      .take(n).map(_._1).toArray

  /** Spherical k-means (Lloyd) on a driver-side sample: unit-normalize,
    * assign to argmax-dot centroid, recenter on the mean, renormalize.
    * Deterministic: evenly-spaced init over the (ordered) sample, no RNG.
    * The model is nlist×dim floats — kilobytes, broadcast to executors; only
    * the SAMPLE ever visits the driver, never the corpus.
    */
  private[graft] def trainCentroids(
      sample: Array[Array[Float]], nlist: Int, maxIter: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "empty centroid training sample")
    val data = sample.map(normalize)
    val k = math.min(nlist, data.length)
    var centroids = Array.tabulate(k)(i => data(i * data.length / k))
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](data(0).length))
      val counts = new Array[Int](k)
      data.foreach { v =>
        val c = nearestCells(v, centroids, 1)(0)
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else normalize(sums(c).map(_.toFloat))
      }
      iter += 1
    }
    centroids
  }

  /** A built IVF index: the centroid matrix + the cell-assigned (and
    * persisted) corpus. Build once, probe per query batch — at 100 TB the
    * cells DataFrame is the stored index; rebuilding it per query would pay
    * the full corpus pass that IVF exists to avoid.
    */
  final case class IvfModel(
      centroids: Array[Array[Float]], cells: DataFrame, idCol: String, vecCol: String) {
    def unpersist(): Unit = { cells.unpersist(); () }
  }

  /** Post-append health of an on-disk IVF index ([[appendToIvfIndex]]):
    * what the append touched plus the cell-size distribution of the WHOLE
    * index afterwards. maxCell (and maxCell/meanCell) climbing across
    * appends is the silent-skew signal that schedules the periodic
    * retrain-and-rebuild.
    */
  final case class IvfAppendStats(
      touchedCells: Int, newVectors: Long, nonEmptyCells: Int,
      maxCell: Long, meanCell: Double, p99Cell: Long) {
    def skew: Double = if (meanCell == 0.0) 0.0 else maxCell / meanCell
    def json: String =
      f"""{"touched_cells":$touchedCells,"new_vectors":$newVectors,"non_empty_cells":$nonEmptyCells,"max_cell":$maxCell,"mean_cell":$meanCell%.2f,"p99_cell":$p99Cell,"skew":$skew%.2f}"""
  }

  private def statsFromCells(
      touched: Int, newVecs: Long, cells: Map[Int, Long]): IvfAppendStats = {
    // empty map (an empty batch appended to a fresh index): well-defined
    // zero stats, not a sizes.last crash
    if (cells.isEmpty)
      return IvfAppendStats(touched, newVecs, 0, 0L, 0.0, 0L)
    val sizes = cells.values.toArray.sorted
    IvfAppendStats(
      touchedCells = touched, newVectors = newVecs,
      nonEmptyCells = sizes.length, maxCell = sizes.last,
      meanCell = sizes.sum.toDouble / sizes.length,
      p99Cell = sizes(((sizes.length - 1) * 99) / 100))
  }

  // ------------------------------------------------- sidecar I/O (Hadoop FS)
  // The `_cellstats.json` sidecar goes through the Hadoop FileSystem API
  // (graft.sinks.Hfs), not java.nio — an index on HDFS or an object store
  // gets the same skew signal a local one does. The sidecar also carries the
  // RUNNING per-cell counts, so each append can merge its own O(new) counts
  // instead of re-listing the whole (and growing) index.

  private def writeCellStats(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      stats: IvfAppendStats, cells: Map[Int, Long]): Unit = {
    val cellsJson = cells.toSeq.sortBy(_._1)
      .map { case (c, n) => "\"" + c + "\":" + n }.mkString("{", ",", "}")
    graft.sinks.Hfs.writeText(spark, s"$dir/_cellstats.json",
      stats.json.dropRight(1) + s""","cells":$cellsJson}""" + "\n")
  }

  /** The sidecar's running per-cell counts, if a sidecar exists and carries
    * them (pre-r14 sidecars were summary-only — those bootstrap via the
    * one-time partition-metadata scan).
    */
  private def readSidecar(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[String] =
    graft.sinks.Hfs.readText(spark, s"$dir/_cellstats.json")

  private def parseCells(sidecar: String): Option[Map[Int, Long]] =
    """"cells":\{([^}]*)\}""".r.findFirstMatchIn(sidecar).map { m =>
      m.group(1).split(",").iterator.filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split(":")
        k.replace("\"", "").trim.toInt -> v.trim.toLong
      }.toMap
    }

  /** Build an IVF index: train spherical k-means centroids on a driver-side
    * sample (deterministic, no RNG — kilobytes on the driver, never the
    * corpus), then assign every corpus row to its cell in ONE narrow typed
    * pass (broadcast centroid matrix, JIT'd argmax, no row blowup). The
    * result is persisted: the index survives across query batches.
    */
  def ivfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 64, maxIter: Int = 5): IvfModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val typed = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    // deterministic yet order-UNcorrelated sample: the nlist*20 smallest
    // md5(id) rows. Ids are usually assigned by crawl/ingest order, so a
    // plain first-N sample trains centroids on one temporal corner of the
    // corpus; hash order is a uniform draw that still needs no RNG state.
    // Same plan shape either way: TakeOrdered(N) — no extra shuffle.
    val sample = typed
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nlist * 20).collect().map(_._2)
    val centroids = trainCentroids(sample, nlist, maxIter)
    val bc = spark.sparkContext.broadcast(centroids)
    val cells = typed
      .map { case (id, v) => (nearestCells(v, bc.value, 1)(0), id, v) }
      .toDF("cell", idCol, vecCol)
      .persist()
    IvfModel(centroids, cells, idCol, vecCol)
  }

  /** Probe a built IVF index: each query exact-scores only its `nprobe`
    * nearest cells — a broadcast hash join on the cell id touching
    * ~nprobe/nlist of the corpus, then an exact cosine re-rank.
    *
    * Queries are collected driver-side (they are the BROADCAST side by
    * contract — a query batch is small) so the probed cell SET is known
    * before the plan runs: the `cell IN (...)` filter prunes statically —
    * against a [[saveIvfIndex]] cell-partitioned on-disk index, whole cell
    * directories are never even listed, the file-level form of IVF's
    * nprobe/nlist scan reduction.
    */
  def ivfProbe(model: IvfModel, queries: DataFrame, k: Int, nprobe: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    val spark = model.cells.sparkSession
    import spark.implicits._
    val idCol = model.idCol
    val qRows = queries.select(col(idCol).cast("long"), col(model.vecCol))
      .as[(Long, Array[Float])].collect()
    val probeRows = qRows.flatMap { case (qid, qv) =>
      nearestCells(qv, model.centroids, nprobe).map(c => (c, qid, qv))
    }
    val probes = spark.createDataset(probeRows.toSeq).toDF("cell", "query_id", "_qv")
    val probedCells = probeRows.map(_._1).distinct.map(Integer.valueOf).toSeq
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol).asc)
    // excludeSelf drops the id-equal pair — right when queries ARE corpus
    // rows (self is always the degenerate top-1). Cross-corpus probes
    // (semanticDupsAgainst) pass false: there id equality means a REPLAYED
    // id, and its indexed row is exactly the dup the caller must see.
    val base = model.cells.where(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), "cell")
    (if (excludeSelf) base.where(col(idCol) =!= col("query_id")) else base)
      .select(col("query_id"), col(idCol),
        cosine(col(model.vecCol), col("_qv")).as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Persist a built index: the cell assignment as parquet PARTITIONED BY
    * cell plus the kilobyte centroid matrix. Build once on the cluster that
    * can afford the corpus pass; every later session [[loadIvfIndex]]s and
    * probes with static cell-partition pruning — no rebuild, no full scan.
    */
  def saveIvfIndex(model: IvfModel, dir: String): Unit = {
    val spark = model.cells.sparkSession
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    model.cells.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Append new vectors to a [[saveIvfIndex]]-written on-disk index WITHOUT
    * a rebuild — the ANN-side analogue of the O(changed) streaming gold
    * sink: a growing corpus pays O(new vectors) per batch, never O(index).
    *
    * Cell assignment depends only on the saved centroid matrix (kilobytes,
    * loaded driver-side and broadcast), so append-then-load is equivalent to
    * assigning the unioned corpus against the same centroids — probes see
    * exactly the index a from-scratch assignment would produce (spec-gated).
    * The write is a partitioned parquet APPEND: new files land only in the
    * cell directories that actually receive vectors, untouched cells stay
    * byte-identical on disk (also spec-gated), and Spark's output-commit
    * protocol keeps the append atomic per job.
    *
    * Contract: ids must be NEW — dedup upstream (the d10 anti-join shape)
    * if the feed can replay. Centroids are NOT retrained here, which is the
    * point: cell balance slowly degrades as the embedding distribution
    * drifts, and the periodic retrain-and-rebuild remains the full-build
    * path — the same split as bulk-catch-up vs incremental gold.
    *
    * The returned [[IvfAppendStats]] carry the REBUILD TRIGGER SIGNAL for
    * that degradation: post-append max/mean/p99 cell sizes over the whole
    * index. A drifting feed shows up as maxCell (and maxCell/meanCell)
    * climbing append over append — probe cost is proportional to the probed
    * cells' sizes, so a hot cell is a latency cliff long before it is a
    * correctness problem. Monitor the ratio; rebuild when it crosses the
    * deployment's probe-latency budget (the stats are also mirrored to
    * `dir/_cellstats.json` so ops tooling can watch the index without a
    * Spark session).
    *
    * Cell sizes are RUNNING counts carried in the sidecar: each append
    * merges its own per-cell counts (an O(new) aggregate over the batch
    * being appended anyway) into the previous sidecar's map, so computing
    * the signal never re-lists the whole — and growing — index. The
    * one-time bootstrap (no sidecar, or a pre-running-count sidecar) reads
    * `cells/` partition metadata (cell is a partition column; the count
    * never reads vector data). A crash between the parquet append and the
    * sidecar write leaves the sidecar one batch behind — the next append's
    * merge under-counts by that batch; the rebuild path refreshes the map
    * exactly, so the drift never compounds past a rebuild.
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      newDocs: DataFrame, idCol: String, vecCol: String): IvfAppendStats = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("centroid"))
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = newDocs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (nearestCells(v, bc.value, 1)(0), id, v) }
      .toDF("cell", idCol, vecCol)
      .persist()
    try {
      // this batch's per-cell counts — O(new), ≤ nlist rows collected
      val batchCells = assigned.groupBy("cell").count()
        .as[(Int, Long)].collect().toMap
      val touched = batchCells.size
      val newVecs = batchCells.values.sum
      // prior counts BEFORE the append, so bootstrap-by-scan (sidecar absent)
      // cannot double-count the batch being written
      val prior: Map[Int, Long] = readSidecar(spark, dir).flatMap(parseCells)
        .getOrElse {
          if (!graft.sinks.Hfs.exists(spark, s"$dir/cells")) Map.empty[Int, Long]
          else spark.read.parquet(s"$dir/cells").groupBy("cell").count()
            .as[(Int, Long)].collect().toMap
        }
      // empty batch: nothing to append, no sidecar churn — report the prior
      // state (zero stats on a fresh index) instead of writing an empty
      // partition dir and crashing on the empty cell map
      if (batchCells.isEmpty) return statsFromCells(0, 0L, prior)
      assigned.write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
      val merged = (prior.keySet ++ batchCells.keySet).iterator
        .map(c => c -> (prior.getOrElse(c, 0L) + batchCells.getOrElse(c, 0L)))
        .toMap
      val stats = statsFromCells(touched, newVecs, merged)
      writeCellStats(spark, dir, stats, merged)
      stats
    } finally { assigned.unpersist(); () }
  }

  /** Semantic near-dups of a NEW batch against an already-indexed corpus —
    * the embedding-space member of the engine's incremental-against-history
    * family (exact = fingerprint sidecar, lexical = MinHash band index,
    * semantic = this): each batch vector probes its nprobe nearest cells of
    * the release's saved IVF index and keeps history neighbors with cosine
    * ≥ `tau` (SemDeDup's dup criterion, applied cross-corpus). Cost is the
    * probe join — O(batch × probed cells), never O(history²) and never a
    * rebuild. Drop flagged ids with a left_anti on `idCol`; the miss rate
    * is IVF's (1 − recall), the accepted approximation of the indexed path
    * (recall spec-gated in `SimilaritySpec`).
    *
    * Id reuse is safe here: the probe runs WITHOUT ivfProbe's self-exclusion
    * (that exclusion is for corpus-as-its-own-queries probes), so a replayed
    * batch re-checked under its original ids still collides with its own
    * indexed rows (cosine 1.0) and is flagged instead of re-appended.
    *
    * Pair-list cap: each batch doc reports at most `k` history dups (its k
    * nearest above `tau`) — raise `k` if a consumer needs the full pair set
    * for a doc with many dups. The DROP decision (left_anti on `idCol`) is
    * unaffected by the cap: a doc with >k dups still has ≥1 reported pair.
    *
    * @return (idCol, ref_id, score) — batch id, colliding history id,
    *         exact cosine; up to k rows per batch doc
    */
  def semanticDupsAgainst(model: IvfModel, batch: DataFrame,
      k: Int = 5, nprobe: Int = 8, tau: Double = 0.95): DataFrame =
    ivfProbe(model, batch, k, nprobe, excludeSelf = false)
      .where(col("score") >= tau)
      .select(col("query_id").as(model.idCol), col(model.idCol).as("ref_id"),
        col("score"))

  /** The acting half of [[appendToIvfIndex]]'s cell-balance signal: read
    * the `_cellstats.json` sidecar and, when the recorded skew
    * (maxCell/meanCell) exceeds `maxSkew`, rebuild the index IN PLACE from
    * its own stored vectors — centroids retrained on the drifted
    * distribution, every vector reassigned, stats sidecar refreshed. Wire
    * it after each append (or on a maintenance schedule) and the
    * append-only index becomes self-healing: appends stay O(new), and the
    * full-build cost is paid exactly when the drift signal says the probe
    * latency needs it.
    *
    * Crash-safe by construction: the rebuilt index is written COMPLETELY
    * into a sibling `_rebuild/` directory while the live `cells/` and
    * `centroids/` stay untouched (they are also the rebuild's input — no
    * checkpoint of the vectors is ever needed, reliable or otherwise), then
    * swapped in with directory renames (each asserted — a failed rename
    * aborts the swap with `_prev/` intact). A crash before the swap leaves
    * the live index untouched (a stale `_rebuild/` is deleted on the next
    * run); a crash mid-swap leaves the displaced copy under `_prev/`, which
    * the NEXT run restores before doing anything destructive — at no point
    * is the only copy of the vectors in volatile executor storage.
    *
    * @return true when a rebuild happened
    */
  def rebuildIvfIndexIfSkewed(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String, vecCol: String, maxSkew: Double,
      nlist: Int = 64, maxIter: Int = 5): Boolean = {
    val sidecar = readSidecar(spark, dir)
    if (sidecar.isEmpty) return false
    val skew = """"skew":([0-9.eE+-]+)""".r
      .findFirstMatchIn(sidecar.get).map(_.group(1).toDouble)
    if (!skew.exists(_ > maxSkew)) return false
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = hp(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // Every swap step must actually happen before anything is deleted: a
    // rename that silently returned false followed by the cleanup deletes
    // would destroy the only surviving copy.
    def mv(a: String, b: String): Unit =
      if (!fs.rename(hp(a), hp(b))) throw new java.io.IOException(
        s"IVF rebuild: rename $a -> $b failed; aborting swap ($dir/_prev left for recovery)")
    // Crash-mid-swap recovery BEFORE any cleanup: if a previous run renamed
    // the live copies to _prev/ but never promoted _rebuild/, the live
    // cells/centroids are missing and the displaced copy is the only one —
    // restore it (or abort) instead of deleting both and failing the read.
    def liveOk = fs.exists(hp(s"$dir/cells")) && fs.exists(hp(s"$dir/centroids"))
    if (!liveOk) {
      if (!(fs.exists(hp(s"$dir/_prev/cells")) && fs.exists(hp(s"$dir/_prev/centroids"))))
        throw new IllegalStateException(
          s"IVF index at $dir has neither a live copy nor a complete _prev/ — refusing to rebuild")
      if (!fs.exists(hp(s"$dir/cells"))) mv(s"$dir/_prev/cells", s"$dir/cells")
      if (!fs.exists(hp(s"$dir/centroids"))) mv(s"$dir/_prev/centroids", s"$dir/centroids")
    }
    fs.delete(hp(s"$dir/_rebuild"), true)
    fs.delete(hp(s"$dir/_prev"), true)
    // build the replacement entirely beside the live index, reading from it
    val vectors = spark.read.parquet(s"$dir/cells").select(col(idCol), col(vecCol))
    val model = ivfIndex(vectors, idCol, vecCol, nlist, maxIter)
    saveIvfIndex(model, s"$dir/_rebuild")
    import spark.implicits._
    val cellSizes = model.cells.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    model.unpersist()
    // swap: displace the live copies, promote the rebuilt ones, then clean
    // up — each step asserted, so a failure leaves _prev/ (and the sidecar
    // untouched) instead of refreshing stats for an index never promoted
    fs.mkdirs(hp(s"$dir/_prev"))
    mv(s"$dir/cells", s"$dir/_prev/cells")
    mv(s"$dir/centroids", s"$dir/_prev/centroids")
    mv(s"$dir/_rebuild/cells", s"$dir/cells")
    mv(s"$dir/_rebuild/centroids", s"$dir/centroids")
    fs.delete(hp(s"$dir/_prev"), true)
    fs.delete(hp(s"$dir/_rebuild"), true)
    val stats = statsFromCells(
      touched = cellSizes.size, newVecs = 0L, cells = cellSizes)
    writeCellStats(spark, dir, stats, cellSizes)
    true
  }

  /** Load a [[saveIvfIndex]]-written index. The cells stay DISK-BACKED (no
    * persist): probes read only the pruned cell partitions, which is the
    * point of the on-disk layout — callers probing the same cells repeatedly
    * can `.cells.persist()` themselves.
    */
  def loadIvfIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String, vecCol: String): IvfModel = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("centroid"))
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    IvfModel(centroids, spark.read.parquet(s"$dir/cells"), idCol, vecCol)
  }

  /** The memo slot of an index over `corpus` built with `params`: the
    * corpus' canonicalized analyzed plan, the index kind and its parameters.
    */
  private[operators] def memoSlot(kind: String, corpus: DataFrame, params: Any*): String =
    (kind +: corpus.queryExecution.analyzed.canonicalized.semanticHash().toString +:
      params.map(_.toString)).mkString(":")

  /** Data-version component of a memo entry. File-backed plans are keyed by
    * their input-file SET, so a corpus that grows (files appended, then
    * re-read over the same path — same semantic plan) re-keys and its entry
    * is rebuilt: a stale index cannot serve rows that no longer reflect the
    * corpus. Non-file plans (views, joins over memory) have no cheap version
    * signal and keep their entry for the life of the scope.
    */
  private[operators] def dataVersion(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) "v0"
    else s"v${files.length}:${files.sorted.toSeq.hashCode()}"
  }

  /** IVF approximate top-k: same output shape as [[bruteForceTopK]]. The
    * index for this corpus is built on first use and memoized in the
    * outermost open [[graft.Scope]], so repeated probes in that scope pay
    * only the probe join — the build-once/probe-many contract of an
    * inverted-file index. Explicit [[ivfIndex]]/[[IvfModel]] management is
    * the production API; its models are caller-owned.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 64, nprobe: Int = 8, maxIter: Int = 5): DataFrame = {
    val model = graft.Scope.memo(
        memoSlot("ivf", corpus, idCol, vecCol, nlist, maxIter), dataVersion(corpus))(
      ivfIndex(corpus, idCol, vecCol, nlist, maxIter))(_.unpersist())
    ivfProbe(model, queries, k, nprobe)
  }

  /** b-bit random-hyperplane signature of a vector column — the native
    * [[graft.functions.HyperplaneSigExpr]]: one primitive loop over a cached
    * ±1 plane matrix, vs bits× interpreted higher-order folds.
    */
  def hyperplaneSignature(vec: Column, bits: Int, seed: Int = 42): Column =
    graft.functions.HyperplaneSigOps.hyperplane_sig(vec, bits, seed)

  /** LSH-bucketed approximate top-k: same output shape as bruteForceTopK but
    * only scores candidates colliding with the query on >=1 signature band.
    * Band geometry is the recall/cost dial: for cos≈0.4 neighbors (weakly
    * similar), P(bit agree) ≈ 0.63, so 4-bit bands collide at ~16% each
    * (≈50% recall over 4 bands) while 8-bit bands collide at ~2.5%
    * (near-zero recall). Tighten bands (8+ bits) only when true neighbors
    * are near-duplicates (cos > 0.9).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 16, bandBits: Int = 4, seed: Int = 42): DataFrame = {
    val bands = bits / bandBits
    def banded(df: DataFrame, idAs: String, keepVec: Boolean): DataFrame = {
      val sig = hyperplaneSignature(col(vecCol), bits, seed)
      val base = df.select(
        (Seq(col(idCol).as(idAs), sig.as("_sig")) ++
          (if (keepVec) Seq(col(vecCol).as(s"_v_$idAs")) else Nil)): _*)
      val bandStructs = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("_sig"), b * bandBits)
            .bitwiseAND((1L << bandBits) - 1).as("bucket"))
      }
      base.select(
        (Seq(col(idAs), explode(array(bandStructs: _*)).as("bb")) ++
          (if (keepVec) Seq(col(s"_v_$idAs")) else Nil)): _*)
        .select(
          (Seq(col(idAs), col("bb.band"), col("bb.bucket")) ++
            (if (keepVec) Seq(col(s"_v_$idAs")) else Nil)): _*)
    }
    val c = banded(corpus, "id", keepVec = true)
    val qTagged = banded(queries, "query_id", keepVec = true)
    val cands = c.join(broadcast(qTagged), Seq("band", "bucket"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        col("_v_id").as("_cv"), col("_v_query_id").as("_qv"))
      .distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("id").asc)
    cands
      .select(col("query_id"), col("id"), cosine(col("_cv"), col("_qv")).as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
