package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed bronze persistence — the physical layout that makes the outpoint
  * join (SURVEY.md §2.3 J13: every input ⋈ its source output, both sides the
  * full history) co-partitioned and shuffle-free across gold rebuilds.
  *
  * Writing `tx_outputs` bucketed by `tx_hash` and `tx_inputs` bucketed by
  * `prev_tx_hash` with the same bucket count lets Catalyst plan the join
  * with NO Exchange on either side (asserted in ScaleSpec, "bucketed
  * outpoint join plans with zero exchanges") — at 100 TB that is the
  * difference between re-shuffling the whole history every gold rebuild and
  * reading co-located buckets. Bucket count should be sized so one bucket ≈
  * one task's worth of data (e.g. 4096 buckets for 100 TB).
  */
object BronzeWriter {

  def writeBucketed(
      df: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
