package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Product quantization (Jégou/Douze/Schmid, TPAMI 2011) — the
  * memory-bound ANN scale path: split each d-dim vector into `m` subvectors,
  * vector-quantize every subspace against its own `ksub`-word codebook, and
  * rank candidates with an ADC (asymmetric distance computation) scan — the
  * query stays exact, each corpus vector is its m code words, and a
  * candidate's approximate score is m table lookups instead of d multiplies.
  * 64-dim floats (256 B) become m=8 codes (+ one stored norm): the code
  * table for a trillion vectors fits where raw vectors cannot.
  *
  * Same determinism contract as [[Similarity.ivfIndex]]: codebooks train on
  * a hash-ordered driver-side sample with deterministic Lloyd iterations
  * (evenly-spaced init, no RNG), so the index, the scan, and the final
  * ranking are reproducible run to run. The scan itself is pure built-in
  * higher-order functions over a broadcast query batch — fully codegen'd,
  * no UDF in the hot path; approximate top-`rerank` per query is a
  * WindowGroupLimit, and an exact cosine re-rank of those survivors fixes
  * the final order (the standard PQ + re-rank layout).
  */
object ProductQuantizer {

  /** A built PQ index: per-subspace codebooks (m × ksub × d/m floats —
    * kilobytes) + the encoded corpus (id, vec, codes, norm), persisted.
    */
  final case class PqModel(
      codebooks: Array[Array[Array[Float]]],
      encoded: DataFrame, idCol: String, vecCol: String) {
    def unpersist(): Unit = { encoded.unpersist(false); () }
  }

  private def sub(v: Array[Float], j: Int, dsub: Int): Array[Float] =
    java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)

  private def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic Euclidean Lloyd on one subspace: evenly-spaced init over
    * the (hash-ordered) sample, argmin-L2 assignment (ties → lowest index),
    * mean recenter; an empty cell keeps its codeword.
    */
  private[operators] def trainSubCodebook(
      sample: Array[Array[Float]], ksub: Int, maxIter: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "empty PQ training sample")
    val k = math.min(ksub, sample.length)
    var words = Array.tabulate(k)(i => sample(i * sample.length / k))
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](sample(0).length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestWord(v, words)
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      words = Array.tabulate(k) { c =>
        if (counts(c) == 0) words(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }
      iter += 1
    }
    words
  }

  private[operators] def nearestWord(v: Array[Float], words: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < words.length) {
      val d = l2sq(v, words(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Sample + train the m sub-codebooks for a corpus — the ONE definition
    * both [[pqIndex]] and [[ivfPqIndex]] build from, so the two paths can
    * never silently train on different codebooks for the same corpus.
    */
  private def trainCodebooksFor(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, maxIter: Int): Array[Array[Array[Float]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(ksub * 40).collect().map(_._2)
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val dsub = d / m
    Array.tabulate(m)(j =>
      trainSubCodebook(sample.map(sub(_, j, dsub)), ksub, maxIter))
  }

  /** Encode one vector against the codebooks: (codes, L2 norm). */
  private def codesAndNorm(
      v: Array[Float], cb: Array[Array[Array[Float]]]): (Array[Int], Double) = {
    val dsub = cb(0)(0).length
    val codes = Array.tabulate(cb.length)(j => nearestWord(sub(v, j, dsub), cb(j)))
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    (codes, math.sqrt(n))
  }

  /** Per-query ADC lookup table (m × ksub sub-dot-products) + query norm. */
  private def adcTable(
      qv: Array[Float], cb: Array[Array[Array[Float]]]): (Seq[Seq[Double]], Double) = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val table = Array.tabulate(m) { j =>
      cb(j).map { w =>
        var s = 0.0; var i = 0
        while (i < dsub) { s += qv(j * dsub + i).toDouble * w(i); i += 1 }
        s
      }
    }
    var qn = 0.0; var i = 0
    while (i < qv.length) { qn += qv(i).toDouble * qv(i); i += 1 }
    (table.map(_.toSeq).toSeq, math.sqrt(qn))
  }

  /** Build the index: train m sub-codebooks on the sample, encode the whole
    * corpus in ONE narrow typed pass (broadcast codebooks, JIT'd argmin).
    * Codes are kept as array<int> for plan readability — the storage-layer
    * packing to m bytes is a writer concern, not a plan concern.
    */
  def pqIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, maxIter: Int = 5): PqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val codebooks = trainCodebooksFor(corpus, idCol, vecCol, m, ksub, maxIter)
    val bc = spark.sparkContext.broadcast(codebooks)
    val encoded = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (codes, norm) = codesAndNorm(v, bc.value)
        (id, v, codes, norm)
      }
      .toDF(idCol, vecCol, "codes", "norm")
      .persist(StorageLevel.MEMORY_AND_DISK)
    PqModel(codebooks, encoded, idCol, vecCol)
  }

  /** ADC top-k: per query, precompute the m×ksub table of
    * dot(query_subvector, codeword) driver-side (kilobytes), broadcast the
    * query batch with its tables, and score each corpus row with m array
    * lookups (`zip_with` + `aggregate` — codegen'd, no UDF). The top
    * `rerank` per query by approximate cosine re-rank exactly on the stored
    * vectors; false approximations die there, exactly like the bloom
    * prefilter's false positives.
    */
  def pqTopK(model: PqModel, queries: DataFrame, k: Int, rerank: Int = 0): DataFrame = {
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val nRerank = if (rerank > 0) rerank else math.max(4 * k, 20)
    val idCol = model.idCol
    val qRows = queries.select(col(idCol).cast("long"), col(model.vecCol))
      .as[(Long, Array[Float])].collect()
    val probes = qRows.toSeq.map { case (qid, qv) =>
      val (table, qnorm) = adcTable(qv, model.codebooks)
      (qid, qv, table, qnorm)
    }
    val q = broadcast(spark.createDataset(probes)
      .toDF("query_id", "_qv", "_tbl", "_qnorm"))
    val approx = model.encoded
      .crossJoin(q)
      .where(col(idCol) =!= col("query_id"))
      .withColumn("_approx",
        aggregate(
          zip_with(col("codes"), col("_tbl"),
            (c, t) => element_at(t, c + 1)),
          lit(0.0), (acc, x) => acc + x) / (col("norm") * col("_qnorm")))
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("_approx").desc, col(idCol).asc)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol).asc)
    approx
      .withColumn("_arn", row_number().over(wApprox))
      .where(col("_arn") <= nRerank)
      .select(col("query_id"), col(idCol),
        Similarity.cosine(col(model.vecCol), col("_qv")).as("score"))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
  }

  /** Flat-PQ corpus ceiling, rows (`graft.pqFlatScanMaxRows` overrides):
    * flat ADC is a whole-corpus scan PER QUERY BATCH — the right default at
    * fixture/feature-store scale (no cell-assignment recall loss, one fewer
    * index), the wrong one at 100 TB where an IVF-PQ composition prunes
    * ~nprobe/nlist of the scan statically. Above the ceiling [[pqTopKFor]]
    * auto-routes to [[ivfPqTopKFor]].
    */
  def PqFlatScanMaxRows: Long =
    sys.props.get("graft.pqFlatScanMaxRows").map(_.toLong).getOrElse(10000000L)

  /** Memoizing front (the [[Similarity.ivfTopK]] shape): one encoded corpus
    * per (plan, params) in the outermost open [[graft.Scope]], and with it
    * the corpus row count the route is picked on, so the routing probe costs
    * one count per (plan, params, data version) — not one per query batch.
    *
    * ROUTING: flat ADC up to [[PqFlatScanMaxRows]] corpus rows; above it the
    * call delegates to the IVF-PQ composition (same k / m / ksub / rerank,
    * default cell geometry) with a logged diagnostic — a 100 TB corpus must
    * never take a whole-corpus scan per query batch just because the caller
    * reached for the simpler operator. Callers that genuinely want the flat
    * scan at scale call [[pqTopK]] with an explicit model.
    */
  def pqTopKFor(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, maxIter: Int = 5, rerank: Int = 0): DataFrame = {
    val slot = Similarity.memoSlot("pq", corpus, idCol, vecCol, m, ksub, maxIter)
    val version = Similarity.dataVersion(corpus)
    val nCorpus = graft.Scope.memo(s"rows:$slot", version)(corpus.count())(_ => ())
    if (nCorpus > PqFlatScanMaxRows) {
      org.slf4j.LoggerFactory.getLogger("graft.pq").warn(
        s"pqTopK: corpus has $nCorpus rows > flat-scan ceiling $PqFlatScanMaxRows — " +
          "delegating to the IVF-PQ pruned composition (ivfPqTopKFor)")
      ivfPqTopKFor(corpus, queries, idCol, vecCol, k,
        m = m, ksub = ksub, maxIter = maxIter, rerank = rerank)
    } else {
      pqTopK(graft.Scope.memo(slot, version)(
        pqIndex(corpus, idCol, vecCol, m, ksub, maxIter))(_.unpersist()), queries, k, rerank)
    }
  }

  // ----------------------------------------------------------------- IVF-PQ

  /** A built IVF-PQ index: IVF centroids for cell pruning + per-subspace PQ
    * codebooks + the encoded cell-assigned corpus (cell, id, vec, codes,
    * norm), persisted. The raw IVF cell table is released once the encoded
    * form is materialized — one resident copy of the corpus.
    */
  final case class IvfPqModel(
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      encoded: DataFrame, idCol: String, vecCol: String) {
    def unpersist(): Unit = { encoded.unpersist(false); () }
  }

  /** The FAISS-IVFPQ-shaped index (Jégou/Douze/Schmid, TPAMI 2011 §V;
    * Johnson/Douze/Jégou, arXiv:1702.08734 §3): [[Similarity.ivfIndex]]'s
    * cell assignment prunes WHICH rows a probe scans (~nprobe/nlist of the
    * corpus, statically), PQ codes shrink WHAT a scanned row costs (m table
    * lookups + m bytes instead of d multiplies + d floats). The two
    * reductions compose multiplicatively — the layout that serves
    * billion-vector corpora. Same determinism contract as both parents:
    * hash-ordered samples, RNG-free Lloyd, reproducible end to end.
    */
  def ivfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 64, m: Int = 8, ksub: Int = 16, maxIter: Int = 5): IvfPqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val ivf = Similarity.ivfIndex(corpus, idCol, vecCol, nlist, maxIter)
    val codebooks = trainCodebooksFor(corpus, idCol, vecCol, m, ksub, maxIter)
    val bc = spark.sparkContext.broadcast(codebooks)
    val encoded = ivf.cells
      .select(col("cell"), col(idCol).cast("long"), col(vecCol))
      .as[(Int, Long, Array[Float])]
      .map { case (cell, id, v) =>
        val (codes, norm) = codesAndNorm(v, bc.value)
        (cell, id, v, codes, norm)
      }
      .toDF("cell", idCol, vecCol, "codes", "norm")
      .persist(StorageLevel.MEMORY_AND_DISK)
    encoded.count() // materialize before releasing the raw cell table
    ivf.cells.unpersist(blocking = false)
    IvfPqModel(ivf.centroids, codebooks, encoded, idCol, vecCol)
  }

  /** IVF-PQ probe: per query, ADC-score ONLY the `nprobe` nearest cells
    * (the probed-cell set is known driver-side, so the cell filter prunes
    * statically — including whole directories against a cell-partitioned
    * on-disk layout), keep the approximate top `rerank` per query, and
    * exact-re-rank those on the stored vectors. The scan is the same
    * codegen'd zip_with/aggregate lookup as [[pqTopK]], restricted to the
    * probed slice.
    */
  def ivfPqTopK(
      model: IvfPqModel, queries: DataFrame, k: Int,
      nprobe: Int = 8, rerank: Int = 0): DataFrame = {
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val nRerank = if (rerank > 0) rerank else math.max(4 * k, 20)
    val idCol = model.idCol
    val qRows = queries.select(col(idCol).cast("long"), col(model.vecCol))
      .as[(Long, Array[Float])].collect()
    val probeRows = qRows.toSeq.flatMap { case (qid, qv) =>
      val (table, qnorm) = adcTable(qv, model.codebooks)
      Similarity.nearestCells(qv, model.centroids, nprobe)
        .map(c => (c, qid, qv, table, qnorm))
    }
    val probes = spark.createDataset(probeRows)
      .toDF("cell", "query_id", "_qv", "_tbl", "_qnorm")
    val probedCells = probeRows.map(_._1).distinct.map(Integer.valueOf)
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("_approx").desc, col(idCol).asc)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol).asc)
    model.encoded.where(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), "cell")
      .where(col(idCol) =!= col("query_id"))
      .withColumn("_approx",
        aggregate(
          zip_with(col("codes"), col("_tbl"), (c, t) => element_at(t, c + 1)),
          lit(0.0), (acc, x) => acc + x) / (col("norm") * col("_qnorm")))
      .withColumn("_arn", row_number().over(wApprox))
      .where(col("_arn") <= nRerank)
      .select(col("query_id"), col(idCol),
        Similarity.cosine(col(model.vecCol), col("_qv")).as("score"))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
  }

  /** Memoizing front (the [[pqTopKFor]] shape): one encoded+celled corpus
    * per (plan, params) in the outermost open [[graft.Scope]].
    */
  def ivfPqTopKFor(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 64, nprobe: Int = 8,
      m: Int = 8, ksub: Int = 16, maxIter: Int = 5, rerank: Int = 0): DataFrame = {
    val model = graft.Scope.memo(
        Similarity.memoSlot("ivfpq", corpus, idCol, vecCol, nlist, m, ksub, maxIter),
        Similarity.dataVersion(corpus))(
      ivfPqIndex(corpus, idCol, vecCol, nlist, m, ksub, maxIter))(_.unpersist())
    ivfPqTopK(model, queries, k, nprobe, rerank)
  }
}
