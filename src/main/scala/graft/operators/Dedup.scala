package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale shapes:
  *   - exact:        one hash-aggregate shuffle on the dedup key
  *   - minhash LSH:  ONE narrow typed pass per doc for the signature (the
  *                   shingle set lives in the row — no explode, no exchange),
  *                   then explode(bands) → 1 band self-join (bucketed by
  *                   band hash; candidate pairs only, shared via AQE
  *                   exchange reuse)
  *   - simhash:      same narrow signature pass → band self-join on 16-bit
  *                   chunks
  *   - ngram jaccard: exact verification on candidate pairs (quadratic only
  *                   within a bucket, never globally)
  * Candidate generation and verification are declarative (codegen'd
  * functions); the per-doc signature passes are JIT'd `mapPartitions` whose
  * hash families stay bit-identical to their SQL forms (spec-pinned), so
  * the DuckDB oracles can recompute every pair.
  */
object Dedup {

  private def tokensCol(textCol: Column): Column =
    split(lower(trim(textCol)), "\\s+")

  /** Word k-shingles of a text column, distinct, as array<string>. */
  def shingles(textCol: Column, k: Int): Column = {
    val toks = tokensCol(textCol)
    array_distinct(
      when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
  }

  /** Exploded (id, shingle) rows via a typed flatMap. Semantically identical
    * to `explode(shingles(...))` but ~7x faster: the higher-order
    * transform/slice lambdas are interpreted per element, while this is one
    * JIT-compiled closure per row. Locale.ROOT lowercase matches Spark's
    * locale-independent `lower`. Requires a long-castable id. Null-text
    * rows are dropped — the SQL form's explode/unnest of a null token
    * array emits nothing, and `null.trim` would kill the task.
    */
  private[operators] def shingleRows(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .where(col(textCol).isNotNull)
      .as[(Long, String)]
      .flatMap { t =>
        val toks = t._2.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        val sh: Iterator[String] =
          if (toks.length < k) Iterator.single(toks.mkString(" "))
          else toks.sliding(k).map(_.mkString(" "))
        sh.toSet.iterator.map((s: String) => (t._1, s))
      }
      .toDF(idCol, "_sh")
  }

  /** The portable md5-derived 60-bit hash pair of a shingle, assembled
    * straight from the raw digest bytes. Bit-identical to the SQL form
    * `conv(substring(md5(s), 1, 15), 16, 10)` /
    * `conv(substring(md5(s), 17, 15), 16, 10)` (nibbles 0–14 and 16–30 of
    * the digest, big-endian) — pinned by OperatorsSpec — but ~2× faster:
    * the SQL chain allocates a 32-char hex string per shingle and runs
    * NumberConverter twice.
    */
  private def md5Pair(md: java.security.MessageDigest, s: String): (Long, Long) = {
    val dg = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h1 = 0L; var i = 0
    while (i < 7) { h1 = (h1 << 8) | (dg(i) & 0xFFL); i += 1 }
    h1 = (h1 << 4) | ((dg(7) & 0xFFL) >>> 4)
    var h2 = 0L; i = 8
    while (i < 15) { h2 = (h2 << 8) | (dg(i) & 0xFFL); i += 1 }
    h2 = (h2 << 4) | ((dg(15) & 0xFFL) >>> 4)
    (h1, h2)
  }

  /** The xxhash64 pair of a shingle — bit-identical to the SQL columns
    * `xxhash64(s)` and `xxhash64(lit(7), s)` (seed 42; multi-arg xxhash64
    * chains each argument's hash as the next seed, so the second value
    * hashes the int 7 first) — pinned by OperatorsSpec.
    */
  private def xxPair(s: String): (Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString(s)
    val h1 = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    val h2 = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes,
      XXH64.hashInt(7, 42L))
    (h1, h2)
  }

  /** Exact dedup: keep one representative (min of idCol) per identical key.
    * ≙ the reference's dedupe-before-insert existence probes
    * (BlockchainToGraph.java:176–179, 212–215).
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Cross-corpus exact dedup — the INCREMENTAL form of [[exact]]: keep the
    * rows of `incoming` whose content fingerprint does not appear in
    * `reference` (the previously-released corpus; see
    * `sinks.CorpusRelease`). This is the "dedup tonight's crawl against
    * everything already shipped" step of a rolling curation pipeline —
    * within-batch duplicates are [[exact]]'s job, this one keeps the new
    * batch from re-shipping old content.
    *
    * Scale shape: the anti-join ships 32-hex fingerprints, never document
    * bodies, and the reference side pre-distincts (its fingerprint set is
    * bounded by the release, not the crawl); AQE broadcasts it when small.
    */
  def exactAgainst(incoming: DataFrame, reference: DataFrame,
      textCol: String): DataFrame =
    incoming.join(
      reference.select(md5(col(textCol)).as("_ref_fp")).distinct(),
      md5(incoming(textCol)) === col("_ref_fp"), "left_anti")

  /** MinHash signature: for each row, `numHashes` min-hashes over its
    * word-k-shingle set, computed in ONE narrow typed pass — a document's
    * whole shingle set lives in its row, so the signature needs no explode,
    * no exchange and no 32-buffer hash aggregate (the previous shape; at
    * corpus scale the id-grain shuffle it carried was pure overhead). The
    * hash family derives all numHashes values from TWO string hashes per
    * shingle — h_i = (h1 XOR rotl(h2, i)) with the sign bit cleared —
    * instead of hashing the string numHashes times; `portable = true` uses
    * the md5-derived pair ([[md5Pair]], bit-identical to the SQL oracle's
    * conv/substring form), the default the xxhash64 pair ([[xxPair]],
    * bit-identical to the previous SQL columns). Clearing bit 63 makes
    * min() order-agree between signed and unsigned engines, which the
    * portable oracle relies on. Default is 32 hashes / 8 bands of 4 — the
    * common near-dup setting. Null-text rows are dropped (no shingles, no
    * signature — same as the SQL form's explode of a null array).
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, shingleK: Int = 3,
      portable: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = shingleK
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .where(col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = if (portable) java.security.MessageDigest.getInstance("MD5") else null
        it.map { t =>
          val toks = t._2.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          val sh: Iterator[String] =
            if (toks.length < k) Iterator.single(toks.mkString(" "))
            else toks.sliding(k).map(_.mkString(" "))
          val mins = Array.fill(numHashes)(Long.MaxValue)
          sh.toSet.foreach { s: String =>
            val (h1, h2) = if (portable) md5Pair(md, s) else xxPair(s)
            var i = 0
            while (i < numHashes) {
              val v = (h1 ^ java.lang.Long.rotateLeft(h2, i)) & Long.MaxValue
              if (v < mins(i)) mins(i) = v
              i += 1
            }
          }
          (t._1, mins.toSeq)
        }
      }
      .toDF(idCol, "signature")
  }

  /** Cap-aware band self-join shared by minhash/simhash banding. A bucket of
    * m rows yields m² all-pairs join rows — one degenerate bucket (a corpus
    * of near-empty docs collapsing to one signature) is the skew bomb. Over
    * `maxBucketSize`, the bucket switches to STAR pairs (bucket-min id ↔
    * each member): m−1 candidates instead of m², and because near-dup
    * consumers cluster candidates transitively (connected components), the
    * star keeps every member reachable — unlike dropping the bucket, which
    * would silently un-dedup exactly the most duplicated documents.
    * `extraCols` ride along (e.g. simhash signatures for verification).
    */
  private[operators] def cappedBucketPairs(
      banded: DataFrame, idCol: String, keyCols: Seq[String],
      extraCol: Option[String], maxBucketSize: Int): DataFrame = {
    val keys = keyCols.map(col)
    // Bucket stats ride a window over the SAME partitioning the self-join
    // shuffles by — one exchange total, instead of a groupBy + rejoin that
    // would shuffle the banded table twice. The three consumers (two
    // self-join sides + the hot-bucket star path) all sit ABOVE that one
    // exchange, so ReuseExchange computes the upstream signature pipeline
    // once and each consumer re-reads the shuffle files — deliberately NOT
    // persisted: a cache would hold a second corpus×bands copy and its fill
    // barrier measurably regressed minhash (d4 +44% in round 7), while the
    // shuffle files already are the shared materialization. PlanSpec pins
    // the ReusedExchange shape.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    val hub = min(struct(col(idCol) +: extraCol.map(col).toSeq: _*)).over(w)
    val tagged = banded
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_hub", hub)
      .withColumn("_minid", col(s"_hub.$idCol"))
      .withColumn("_mine", extraCol.map(e => col(s"_hub.$e")).getOrElse(lit(null)))
      .drop("_hub")
    val normal = tagged.where(col("_n") <= maxBucketSize)
    def side(n: Int) = normal.select(
      (keys :+ col(idCol).as(s"id$n")) ++
        extraCol.map(e => col(e).as(s"_e$n")): _*)
    val allPairs = side(1).join(side(2), keyCols)
      .where(col("id1") < col("id2"))
    val hot = tagged.where(col("_n") > maxBucketSize && col(idCol) =!= col("_minid"))
      .select(
        (Seq(col("_minid").as("id1"), col(idCol).as("id2")) ++
          extraCol.map(e => Seq(col("_mine").as("_e1"), col(e).as("_e2")))
            .getOrElse(Nil)): _*)
    val cols = Seq("id1", "id2") ++ extraCol.map(_ => Seq("_e1", "_e2")).getOrElse(Nil)
    allPairs.select(cols.map(col): _*).union(hot.select(cols.map(col): _*)).distinct()
  }

  /** LSH banding: candidate pairs whose signatures collide on at least one
    * band of `rowsPerBand` consecutive signature slots. The self-join keys on
    * (band index, band hash) so it is an equi-join Catalyst shuffles by
    * bucket — candidate generation is linear in collisions, never all-pairs.
    * Degenerate buckets above `maxBucketSize` degrade to star pairs
    * ([[cappedBucketPairs]]) so one hot signature cannot go quadratic.
    */
  def minhashCandidatePairs(
      signatures: DataFrame, idCol: String,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000): DataFrame =
    cappedBucketPairs(bandedBuckets(signatures, idCol, numHashes, rowsPerBand),
      idCol, Seq("band", "bucket"), None, maxBucketSize)

  /** (id, band, bucket) rows of a signature table — the equi-join-key form
    * of LSH banding, shared by the within-corpus self-join
    * ([[minhashCandidatePairs]]) and the cross-corpus incremental path
    * ([[minhashPairsAgainst]]). Bands are unrolled statically — each is a
    * literal slice, keeping the whole projection inside one codegen stage.
    */
  def bandedBuckets(
      signatures: DataFrame, idCol: String,
      numHashes: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandStructs = (0 until numBands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(lit(b),
          concat_ws(",", slice(col("signature"), b * rowsPerBand + 1, rowsPerBand)))
          .as("bucket"))
    }
    signatures
      .select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** Cross-corpus NEAR-dup candidates — the MinHash complement of
    * [[exactAgainst]], and the dedup-side instance of the engine's O(new)
    * contract (the partitioned gold sink, the IVF append): tonight's crawl
    * is checked against everything already shipped WITHOUT re-shingling the
    * shipped corpus. The release's banded signature table is computed once
    * at freeze time ([[writeMinhashBandIndex]] — ~numBands rows of 24 bytes
    * per released doc, not its text) and each batch equi-joins its own
    * banded signatures against it on (band, bucket): linear in collisions,
    * reference text never read again.
    *
    * @param incomingBanded [[bandedBuckets]] of the new batch's signatures
    * @param refBanded      the persisted release index ([[readMinhashBandIndex]])
    * @return distinct (idCol, ref_id) candidate pairs — verify with
    *         [[ngramJaccardPairs]] on the pair texts, or drop incoming ids
    *         via a left_anti join on idCol (never row-multiplying)
    */
  def minhashPairsAgainst(
      incomingBanded: DataFrame, refBanded: DataFrame, idCol: String): DataFrame =
    incomingBanded.join(
        refBanded.select(col(idCol).as("ref_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col(idCol), col("ref_id")).distinct()

  /** [[minhashPairsAgainst]] with a VERIFICATION signal, for when the
    * reference text is unavailable by design (the band index stores 24-byte
    * signature rows, not documents): the fraction of agreeing bands is
    * itself a similarity estimate — P(band match) = J^r for rowsPerBand=r,
    * so Ĵ = (matched/numBands)^(1/r). A FALSE-POSITIVE collision (two
    * dissimilar docs sharing one 64-bit band bucket by accident) estimates
    * Ĵ = (1/B)^(1/r) — e.g. 0.59 at the default 32/4 — while genuine
    * near-dups agree on most bands and estimate near 1; thresholding on Ĵ
    * separates them without ever reading reference text. The estimate is
    * quantized to B+1 levels (at 32/4: 0.59, 0.71, 0.78, 0.84, …, 1.0), so
    * pick `tau` consciously against that grid.
    *
    * `numHashes`/`rowsPerBand` must MATCH the banding that produced both
    * inputs (the [[bandedBuckets]] defaults, and therefore any
    * [[writeMinhashBandIndex]]-persisted index built with them) — a
    * mismatched B silently rescales every estimate.
    *
    * Same join as the unverified form plus a (id, ref) count — still linear
    * in collisions, still O(new) in history.
    *
    * @return (idCol, ref_id, matched_bands, est_jaccard)
    */
  def minhashBandAgreement(
      incomingBanded: DataFrame, refBanded: DataFrame, idCol: String,
      numHashes: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    val numBands = numHashes / rowsPerBand
    incomingBanded.join(
        refBanded.select(col(idCol).as("ref_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      // countDistinct, not count: an append-mode index replaying a freeze
      // can hold duplicate (ref, band, bucket) rows — a band still agrees
      // at most once.
      .groupBy(col(idCol), col("ref_id"))
      .agg(countDistinct("band").as("matched_bands"))
      .withColumn("est_jaccard",
        round(pow(col("matched_bands").cast("double") / lit(numBands.toDouble),
          lit(1.0 / rowsPerBand)), 6))
  }

  /** Persist a release's banded signature index next to the shipped corpus
    * (freeze-time; `mode=append` lets successive releases extend it — the
    * band key is stable across batches, so appended batches are immediately
    * joinable). Layout: plain parquet (id, band, bucket).
    *
    * `capPerBucket = Some((idCol, m))` bounds join fan-out against the
    * index: only the `m` smallest-id members of each (band, bucket) are
    * written, so one degenerate bucket (a release full of near-empty docs
    * collapsing to one signature) cannot multiply an incoming batch by the
    * bucket's population — the write-time analogue of the self-join's
    * star cap. Detection is preserved: an incoming doc is flagged by
    * colliding with ANY member, and ≥1 member always survives; only the
    * per-ref-id provenance list is truncated for degenerate signatures.
    * Deterministic (min-id keep), so rebuilds reproduce the index exactly.
    * Under `append` the cap applies per written batch; a global re-cap is
    * the rebuild path.
    */
  def writeMinhashBandIndex(banded: DataFrame, dir: String,
      append: Boolean = false,
      capPerBucket: Option[(String, Int)] = None): Unit = {
    val out = capPerBucket match {
      case Some((idCol, m)) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket").orderBy(col(idCol))
        banded.withColumn("_rn", row_number().over(w))
          .where(col("_rn") <= m).drop("_rn")
      case None => banded
    }
    out.write.mode(if (append) "append" else "overwrite").parquet(dir)
  }

  /** Load a [[writeMinhashBandIndex]]-written index; disk-backed, no scan
    * until joined.
    */
  def readMinhashBandIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle —
    * the verification stage of MinHash, or standalone exact near-dup on
    * moderate corpora. Shuffles on the shingle, so hot shingles (stopword
    * runs appearing in a large fraction of documents) are the skew risk:
    * a shingle shared by m docs produces m² join rows. `maxShingleDf` caps
    * document frequency — shingles above it are dropped from candidate
    * GENERATION only (set sizes keep them, so Jaccard values of surviving
    * pairs shift at most by the capped shingles' contribution; pairs sharing
    * ONLY ultra-common shingles are by construction not near-duplicates).
    * None (default) keeps exact semantics.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.0,
      maxShingleDf: Option[Long] = None): DataFrame = {
    // Cache the shingle stream for the query: the candidate join (one
    // reused exchange), the hot-shingle census and the set sizes all read
    // it, and each would otherwise re-run the tokenize+shingle flatMap over
    // the full corpus. Columnar MEMORY_AND_DISK (spills, never OOMs),
    // pinned to the caller's scope like every other engine cache.
    val shAll = graft.Scope.pin(shingleRows(df, idCol, textCol, shingleK)
      .withColumnRenamed(idCol, "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sh = maxShingleDf match {
      case None => shAll
      case Some(cap) =>
        val hot = shAll.groupBy("_sh").agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select("_sh")
        shAll.join(hot, Seq("_sh"), "left_anti")
    }
    val sizes = shAll.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a._sh") === col("b._sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), "id2")
      .select(
        col("id1"), col("id2"),
        (col("i").cast("double") / (col("n1") + col("n2") - col("i"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Transitive near-duplicate clusters from a candidate-pair table: each
    * document maps to the MIN doc id of its connected component (keep that
    * one, drop the rest — the group-assignment step every dedup pipeline
    * ends with). GraphX connectedComponents — O(diameter) supersteps — with
    * the same join-based dense-id assignment and scope-pinned result as
    * [[graft.chain.WalletCluster]]. Pairs from ANY generator
    * compose: minhash/simhash candidates, verified Jaccard/cosine pairs.
    *
    * @param docs  one-column DF of all doc ids (singletons cluster alone)
    * @param pairs (id1, id2) near-dup pairs
    * @return (doc_id, cluster_id)
    */
  def nearDupClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val spark = docs.sparkSession
    import spark.implicits._
    val idCol = docs.columns.head
    val universe = docs.select(col(idCol).cast("long").as("doc_id")).distinct()
    // Materialize the candidate pairs once: the route decision needs the
    // count, and vertex derivation, edge construction and GraphX's own
    // internal scans would otherwise each re-run the (expensive)
    // pair-generation plan.
    val (p, pRdd, nPairs) = ChainOps.rebaseCounted(pairs
      .select(col(pairs.columns.head).cast("long").as("id1"),
        col(pairs.columns(1)).cast("long").as("id2")))
    // Envelope route (mirror of WalletCluster/BestChain): after
    // dedup-quality candidate generation the pair list is a small fraction
    // of the corpus — when it fits the broadcast envelope, driver
    // union-find resolves the components in one pass instead of GraphX's
    // ~6 jobs of fixed Pregel latency; the distributed path remains for
    // genuinely large pair sets.
    val envelope = ChainOps.driverEnvelope
    if (nPairs <= envelope) {
      val labels = UnionFind.components(
        p.collect().iterator.map(r => (r.getLong(0), r.getLong(1))))
      pRdd.unpersist(blocking = false)
      val labelDf = labels.toSeq.toDF("doc_id", "cluster_id")
      return universe
        .join(broadcast(labelDf), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
    // CC runs over PAIR MEMBERS only — a doc with no near-dup candidate is a
    // singleton component by construction and labels itself via the final
    // left join. After dedup-quality candidate generation the pair-member
    // set is a small fraction of the corpus, so the Pregel graph shrinks by
    // orders of magnitude.
    val members = p.select(col("id1").as("doc_id"))
      .unionByName(p.select(col("id2").as("doc_id"))).distinct()
    val vertices = members.rdd.map(_.getLong(0))
    val edges = p.rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    // doc ids are already longs — no zipWithUniqueId indirection needed; the
    // component label GraphX picks is the min VERTEX id = min doc id.
    val graph = Graph(vertices.map(_ -> ()), edges)
    val ccGraph = graph.connectedComponents()
    val out = universe
      .join(ccGraph.vertices.toDF("doc_id", "cluster_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val (outDf, _) = ChainOps.rebase(out)
    ccGraph.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    pRdd.unpersist(blocking = false)
    outDf
  }

  /** 64-bit SimHash: sign-aggregated token hashes (per occurrence, not per
    * distinct token), computed in ONE narrow typed pass — like
    * [[minhashSignatures]], a document's token stream lives in its row, so
    * the 64 ±1 bit-sums need no explode, no exchange and no 64-buffer
    * aggregate. Bit-identical to the previous explode+agg form (integer
    * counting, sign threshold — OperatorsSpec and the d5 oracle pin it).
    * With `portable = true` the token hash is the md5-derived 60-bit value
    * ([[md5Pair]]): bits 60–63 of the signature are then always 0 (a
    * 60-bit SimHash — recall guarantees of the 16-bit-chunk banding are
    * unchanged) and the whole computation is reproducible in any engine.
    * Null-text rows are dropped, matching the explode of a null token array.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .where(col(textCol).isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = if (portable) java.security.MessageDigest.getInstance("MD5") else null
        it.map { t =>
          val counts = new Array[Int](64)
          t._2.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { tk =>
            val h = if (portable) md5Pair(md, tk)._1 else xxPair(tk)._1
            var j = 0
            while (j < 64) {
              if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
              j += 1
            }
          }
          var sig = 0L; var j = 0
          while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
          (t._1, sig)
        }
      }
      .toDF(idCol, "simhash")
  }

  /** SimHash near-dup candidates: pairs agreeing exactly on >=1 of the four
    * 16-bit chunks (guarantees recall for Hamming distance <= 3), verified by
    * full Hamming distance <= maxHamming. Chunk buckets above `maxBucketSize`
    * degrade to star pairs ([[cappedBucketPairs]]) — the star hub's signature
    * rides along so verification still sees real Hamming distances.
    */
  def simhashCandidatePairs(
      sigs: DataFrame, idCol: String, maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val chunkStructs = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("key"))
    }
    val chunked = sigs
      .select(col(idCol), col("simhash"), explode(array(chunkStructs: _*)).as("cc"))
      .select(col(idCol), col("simhash"), col("cc.chunk"), col("cc.key"))
    cappedBucketPairs(chunked, idCol, Seq("chunk", "key"), Some("simhash"), maxBucketSize)
      .select(col("id1"), col("id2"),
        bit_count(col("_e1").bitwiseXOR(col("_e2"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
