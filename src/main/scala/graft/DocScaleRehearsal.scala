package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Scale rehearsal for the LLM-pipeline operators (not part of the API):
  * replicates the sf0.1 documents/embeddings tables K× and times the
  * registered dedup / decontamination / text / ANN queries at 1× vs K× —
  * the same class of evidence [[ScaleRehearsal]] buys for the blockchain
  * pipeline, pointed at the §2.11 surface.
  *
  * Replication preserves INPUT scale without inflating the answer: replica
  * i>0 interleaves a replica-unique salt token between every pair of words
  * (`regexp_replace(text, ' ', ' r<i> ')`), so every 3-gram shingle changes
  * and replicas are NOT near-duplicates of each other — within-replica
  * duplicate/near-dup structure mirrors the original, total true pairs grow
  * ~K× (a corpus of K exact copies would instead grow candidate pairs K²
  * per group and measure output explosion, not operator scaling).
  * Embeddings get a per-replica constant offset — distinct vectors, same
  * geometry class; the vec_id<10 query set stays replica-0 only.
  */
object DocScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val k = sys.env.getOrElse("SPARK_GRAFT_DOC_SCALE", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = s"target/docscale_x$k"
    if (!Files.exists(Paths.get(s"$dir/_DONE"))) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val n = docs.agg(max("doc_id")).head.getLong(0) + 1
      (0 until k).map { i =>
        docs.select(
          (col("doc_id") + lit(i * n)).as("doc_id"),
          (if (i == 0) col("text")
           else regexp_replace(col("text"), " ", s" r$i ")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val m = emb.agg(max("vec_id")).head.getLong(0) + 1
      (0 until k).map { i =>
        emb.select(
          (col("vec_id") + lit(i * m)).as("vec_id"),
          (if (i == 0) col("embedding")
           else transform(col("embedding"),
             x => (x + lit(i * 0.01f)).cast("float"))).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      Files.write(Paths.get(s"$dir/_DONE"), Array.emptyByteArray)
    }
    // SPARK_GRAFT_DOC_LEGS selects a subset by substring (mirrors
    // StreamRehearsal's SPARK_GRAFT_STREAM_LEGS) so a single-operator
    // campaign doesn't pay for the whole list.
    val legFilter = sys.env.get("SPARK_GRAFT_DOC_LEGS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = Seq("d1_exact_dedup", "d3b_ngram_jaccard_capped",
      "d4_minhash_pairs", "d7_neardup_clusters",
      "t13_decontaminate_bloom", "t15_bigram_surprisal", "t16_sequence_packing",
      "sim5_ivf_topk")
      .filter(n => legFilter.forall(_.exists(n.contains)))
    Seq(("1x", src), (s"${k}x", dir)).foreach { case (tag, d) =>
      names.foreach { name => Scope {
        def once(): Double = {
          val t0 = System.nanoTime()
          Scope(SparkEntry.queries(name)(spark, d)
            .write.format("noop").mode("overwrite").save())
          (System.nanoTime() - t0) / 1e9
        }
        val warm = once()
        val s1 = once()
        val s2 = once()
        Rehearsal.emit(f"""{"rehearsal":"$name","docs":"$tag","warm":$warm%.2f,"s1":$s1%.2f,"s2":$s2%.2f}""")
      }}
    }

    // ------------------------------------------------------------------
    // Incremental-maintenance leg: the O(new) contract under load. Both
    // paths maintain a persisted artifact of the K× corpus and then absorb
    // a small batch; the claim worth rehearsing is that batch cost tracks
    // the BATCH, not the history. SPARK_GRAFT_DOC_INCR=0 skips these (a
    // core-scaling campaign re-running only the query legs at several CPU
    // counts must not re-pay the index builds per run).
    // ------------------------------------------------------------------
    if (sys.env.get("SPARK_GRAFT_DOC_INCR").contains("0")) { spark.stop(); return }
    import graft.operators.{Dedup, Similarity}
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val docsK = spark.read.parquet(s"$dir/documents.parquet")
    val batch = spark.read.parquet(s"$src/documents.parquet")
      .limit(500).select((col("doc_id") + lit(900000000L)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))

    // (a) near-dup band index: freeze-time build over K× docs vs per-batch
    // join of a 500-doc crawl against the persisted index
    val bandDir = s"target/docscale_x${k}_bandidx"
    val (_, tFreeze) = timed {
      Dedup.writeMinhashBandIndex(
        Dedup.bandedBuckets(
          Dedup.minhashSignatures(docsK, "doc_id", "text"), "doc_id"), bandDir)
    }
    val (nPairs, tBatch) = timed {
      Dedup.minhashPairsAgainst(
        Dedup.bandedBuckets(
          Dedup.minhashSignatures(batch, "doc_id", "text"), "doc_id"),
        Dedup.readMinhashBandIndex(spark, bandDir), "doc_id").count()
    }
    Rehearsal.emit(f"""{"rehearsal":"bandidx_incremental","docs":"${k}x","freeze_s":$tFreeze%.2f,"batch500_s":$tBatch%.2f,"batch_pairs":$nPairs}""")

    // (b) IVF index: full build+save over K× embeddings vs appending a
    // 500-vector batch (fresh ids) to the saved index
    val embK = spark.read.parquet(s"$dir/embeddings.parquet")
    val ivfDir = s"target/docscale_x${k}_ivf"
    val (_, tBuild) = timed {
      val m = Similarity.ivfIndex(embK, "vec_id", "embedding")
      Similarity.saveIvfIndex(m, ivfDir)
      m.unpersist()
    }
    val vBatch = spark.read.parquet(s"$src/embeddings.parquet")
      .limit(500).select((col("vec_id") + lit(900000000L)).as("vec_id"),
        col("embedding"), col("label"))
    val (stats, tAppend) = timed {
      Similarity.appendToIvfIndex(spark, ivfDir, vBatch, "vec_id", "embedding")
    }
    Rehearsal.emit(f"""{"rehearsal":"ivf_incremental","docs":"${k}x","build_s":$tBuild%.2f,"append500_s":$tAppend%.2f,"cells_touched":${stats.touchedCells},"max_cell":${stats.maxCell},"skew":${stats.skew}%.2f}""")
    // semantic dup check of the same 500-vector batch against the saved
    // K× index — probe-join cost, no rebuild
    val loaded = Similarity.loadIvfIndex(spark, ivfDir, "vec_id", "embedding")
    val (nSemDups, tSem) = timed {
      Similarity.semanticDupsAgainst(loaded, vBatch, tau = 0.95).count()
    }
    Rehearsal.emit(f"""{"rehearsal":"semantic_dups_against","docs":"${k}x","check500_s":$tSem%.2f,"dups":$nSemDups}""")
    // DRIFTED append (runs LAST against this index — it deliberately skews
    // it): near-copies of one history vector all land in one cell, so the
    // cell-balance stats must move (maxCell/skew jump) where the uniform
    // batch above left them flat. This is the silent-skew signal
    // appendToIvfIndex exists to surface; a monitoring loop alerts on the
    // skew delta and schedules the retrain-and-rebuild. The batch is sized
    // past the current max cell (this corpus's replica structure already
    // gives one centroid a whole replica) so the DELTA is visible in
    // maxCell itself, not just in the target cell's private growth.
    import spark.implicits._
    val seedVec = embK.select(col("embedding")).head().getSeq[Float](0).toArray
    val nDrift = stats.maxCell + 5000
    val drifted = spark.range(nDrift).map { i =>
      val v = seedVec.clone(); v(0) = v(0) + 1e-6f * i  // near-identical: one cell
      (950000000L + i, v)
    }.toDF("vec_id", "embedding")
    val (dStats, tDrift) = timed {
      Similarity.appendToIvfIndex(spark, ivfDir, drifted, "vec_id", "embedding")
    }
    Rehearsal.emit(f"""{"rehearsal":"ivf_drifted_append","docs":"${k}x","n_drift":$nDrift,"append_s":$tDrift%.2f,"cells_touched":${dStats.touchedCells},"max_cell":${dStats.maxCell},"skew":${dStats.skew}%.2f,"max_cell_delta":${dStats.maxCell - stats.maxCell}}""")

    // (c) the full nightly loop: absorb a 500-doc crawl batch into a rolling
    // corpus whose history is the K× corpus (sidecars seeded once)
    val rollDir = s"target/docscale_x${k}_rolling"
    if (!Files.exists(Paths.get(s"$rollDir/_seeded2"))) {
      docsK.select(col("doc_id"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(s"$rollDir/docs")
      graft.sinks.RollingCuration.rebuildSidecars(spark, rollDir)
      Files.write(Paths.get(s"$rollDir/_seeded2"), Array.emptyByteArray)
    }
    // fresh content (salted like the replicas) so the batch runs the FULL
    // path — signature compute, both history joins, and the 3-artifact
    // append — not just the exact-dup short-circuit
    val jsonl = s"target/docscale_x${k}_batch.jsonl"
    if (!Files.exists(Paths.get(jsonl))) {
      val lines = batch.select(to_json(struct(
          col("doc_id"),
          regexp_replace(col("text"), " ", " zq ").as("text"),
          col("lang"), col("source"))))
        .collect().map(_.getString(0))
      Files.write(Paths.get(jsonl),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val (report, tAbsorb) = timed {
      graft.sinks.RollingCuration.absorbBatch(spark, jsonl, rollDir)
    }
    Rehearsal.emit(f"""{"rehearsal":"rolling_absorb","docs":"${k}x","absorb500_s":$tAbsorb%.2f,"appended":${report.appended},"near_dropped":${report.nearDups},"exact_dropped":${report.historyDups},"collisions":${report.historyCollisions},"weak_collisions":${report.historyWeakCollisions}}""")
    // VERIFIED absorb of a second fresh batch (new ids, different salt):
    // same full path plus the exact-Jaccard confirm within batch and the
    // band-agreement confirm against history — the measured overhead of
    // verifyTau over the drop-on-collision default above.
    val jsonl2 = s"target/docscale_x${k}_batch2.jsonl"
    if (!Files.exists(Paths.get(jsonl2))) {
      val lines = batch.select(to_json(struct(
          (col("doc_id") + lit(500000L)).as("doc_id"),
          regexp_replace(col("text"), " ", " zr ").as("text"),
          col("lang"), col("source"))))
        .collect().map(_.getString(0))
      Files.write(Paths.get(jsonl2),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val (reportV, tAbsorbV) = timed {
      graft.sinks.RollingCuration.absorbBatch(spark, jsonl2, rollDir,
        verifyTau = Some(0.7))
    }
    Rehearsal.emit(f"""{"rehearsal":"rolling_absorb_verified","docs":"${k}x","absorb500_s":$tAbsorbV%.2f,"appended":${reportV.appended},"near_dropped":${reportV.nearDups},"exact_dropped":${reportV.historyDups},"collisions":${reportV.historyCollisions},"weak_collisions":${reportV.historyWeakCollisions}}""")
    spark.stop()
  }
}
