package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Height-bucket-partitioned gold storage with DYNAMIC partition overwrite —
  * the physical mechanism behind "reorg = recompute the affected height
  * range" (SURVEY.md §2.9 T4). A reorg at depth d rewrites only the
  * partitions covering the fork range; every other partition's files are
  * untouched, so the operation is O(reorg depth), not O(history).
  * This replaces the reference's per-vertex delete-and-reverse walk
  * (BlockchainToGraph.java:568–777) with an idempotent bulk overwrite.
  */
object PartitionedGold {

  val BucketCol = "height_bucket"

  /** Per-bucket signature sidecar, stored INSIDE the table directory. The
    * leading underscore makes it invisible to parquet readers of the table
    * (Spark filters `_`/`.`-prefixed paths), so the table stays a plain
    * partitioned dataset. The sidecar is what keeps steady-state sync cost
    * independent of history size: without it every sync would re-scan all
    * on-disk gold just to learn "nothing but the tip bucket changed".
    */
  def sidecarPath(path: String): String = s"$path/_bucket_sigs"

  /** Attach the partition column: height / bucketSize. */
  def withBucket(df: DataFrame, heightCol: String, bucketSize: Int = 10000): DataFrame =
    df.withColumn(BucketCol, (col(heightCol) / bucketSize).cast("int"))

  /** Diff-and-overwrite: write `gold` (carrying `heightCol`) to `path`,
    * rewriting ONLY the height buckets whose CONTENT differs from what is on
    * disk — the composition of a full logical recompute with an O(changed)
    * physical write. Change detection is a per-bucket signature compare
    * (row count + bit_xor of xxhash64 over all columns — order-independent,
    * so it is insensitive to task scheduling). The on-disk side's signatures
    * come from the [[sidecarPath]] sidecar written after every sync and
    * read with the schema that wrote it, so a steady-state sync reads KBs
    * of sidecar, not the table, and starts no schema-inference job: both
    * the write AND the change-detection read are O(new work), not
    * O(history). Both
    * signature sets hold one row per bucket (maxHeight/bucketSize rows), so
    * they are collected and compared as maps on the driver, and the changed
    * buckets are selected by a predicate on the bucket column. A missing,
    * empty or unreadable sidecar (pre-sidecar table, manual deletion, crash
    * mid-sidecar-write) degrades to a one-time full table scan; a
    * STALE sidecar (crash between data write and sidecar write) merely
    * re-marks the already-written buckets as changed — the rewrite is
    * idempotent, so every failure mode converges. A replayed batch
    * (exactly-once resume) produces identical signatures and writes
    * nothing. If a bucket exists on disk but vanished from `gold`
    * (shrinking history — cannot happen under append-only bronze, but a
    * changed bucketSize produces it), dynamic overwrite could never delete
    * it, so the whole table is rewritten once instead.
    *
    * Returns the overwritten bucket ids (null bucket ⇒ null element).
    */
  def syncAffected(
      gold: DataFrame, path: String,
      heightCol: String = "height", bucketSize: Int = 10000): Seq[Any] = {
    val spark = gold.sparkSession
    val bucketed = withBucket(gold, heightCol, bucketSize)
    val dataCols = bucketed.columns.filterNot(_ == BucketCol).toSeq
    def sig(df: DataFrame): Array[Row] =
      df.groupBy(col(BucketCol)).agg(
        count(lit(1)).as("n"),
        expr(s"bit_xor(xxhash64(struct(${dataCols.map(c => s"`$c`").mkString(",")})))").as("sig"))
        .collect()
    def sigMap(rows: Array[Row]): Map[Any, (Long, Long)] =
      rows.iterator.map(r => r.get(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val sidecarSchema = StructType(Seq(
      StructField(BucketCol, bucketed.schema(BucketCol).dataType),
      StructField("n", LongType), StructField("sig", LongType)))
    def writeSidecar(sigs: Array[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(sigs.toSeq, 1), sidecarSchema)
        .write.mode(SaveMode.Overwrite).parquet(sidecarPath(path))

    if (!Hfs.exists(spark, path)) {
      overwriteAffected(bucketed, path)
      val sigs = sig(bucketed)
      writeSidecar(sigs)
      return sigs.map(_.get(0)).toSeq
    }
    val newSigRows = sig(bucketed)
    val newSig = sigMap(newSigRows)
    // the sidecar is read with the schema that wrote it (no inference job);
    // a directory without data files counts as missing, like a half-written
    // one — read as "no buckets on disk" it would rewrite every bucket
    val sidecarRows: Option[Array[Row]] =
      if (!Hfs.exists(spark, sidecarPath(path))) None
      else scala.util.Try {
        val df = spark.read.schema(sidecarSchema).parquet(sidecarPath(path))
        if (df.inputFiles.isEmpty) None else Some(df.collect())
      }.toOption.flatten
    val oldSig = sigMap(sidecarRows.getOrElse(
      sig(spark.read.parquet(path)
        .select(BucketCol, dataCols: _*)))) // no/bad sidecar: one-time table scan
    val changed: Seq[Any] =
      if (oldSig.keys.exists(b => !newSig.contains(b))) {
        // cannot express deletion via dynamic overwrite: rewrite the table
        // (static overwrite clears the dir, sidecar included — rewritten below)
        bucketed.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(path)
        newSigRows.map(_.get(0)).toSeq
      } else {
        val diff = newSigRows.iterator.map(_.get(0))
          .filter(b => !oldSig.get(b).contains(newSig(b))).toSeq
        if (diff.nonEmpty) {
          val (nulls, keys) = diff.partition(_ == null)
          val inKeys = if (keys.isEmpty) lit(false) else col(BucketCol).isin(keys: _*)
          overwriteAffected(bucketed.where(
            if (nulls.isEmpty) inKeys else inKeys || col(BucketCol).isNull), path)
        }
        diff
      }
    // Sidecar LAST: data-then-sigs ordering is the crash-safety contract.
    // Also (re)written when it had to be derived by table scan, so a
    // missing/corrupt sidecar costs ONE scan, not one per sync.
    if (changed.nonEmpty || sidecarRows.isEmpty) writeSidecar(newSigRows)
    changed
  }

  /** Overwrite ONLY the partitions present in `df` (dynamic mode); all
    * other partitions keep their files byte-identical. `partitionCol`
    * defaults to the height bucket; any discrete column works (the wallet
    * label store partitions by address hash slot).
    */
  def overwriteAffected(df: DataFrame, path: String,
      partitionCol: String = BucketCol): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      df.write
        .mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
