package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** A dense-long-id dictionary over a set of vertex values — the vertex
  * relation every encoded graph loop joins against. `frame` is
  * (oid: the value, vid: its dense id).
  *
  * The assignment is persisted and pinned by the count that yields `n`:
  * zipWithUniqueId / zipWithIndex over a shuffle output is NOT stable across
  * re-evaluations (fetch order varies), so an unpinned dictionary joined
  * twice could hand one value two ids. Every consumer reads the cached rows.
  */
final class VertexDictionary private (
    val frame: DataFrame, rdd: RDD[Row], val n: Long) {

  /** `df` with value column `c` replaced, in place, by its vid. `bcast`
    * ships the dictionary broadcast; a left `joinType` keeps rows whose
    * value is null (their vid is null).
    */
  def encode(df: DataFrame, c: String, bcast: Boolean = false,
      joinType: String = "inner"): DataFrame =
    swap(df, c, frame.select(col("oid").as(c), col("vid").as("_vd_swap")), bcast, joinType)

  /** `df` with vid column `c` replaced, in place, by its value. */
  def decode(df: DataFrame, c: String, bcast: Boolean = false): DataFrame =
    swap(df, c, frame.select(col("vid").as(c), col("oid").as("_vd_swap")), bcast, "inner")

  private def swap(df: DataFrame, c: String, side: DataFrame, bcast: Boolean,
      joinType: String): DataFrame =
    df.join(if (bcast) broadcast(side) else side, Seq(c), joinType)
      .select(df.columns.map(x => if (x == c) col("_vd_swap").as(c) else col(x)): _*)

  def unpersist(): Unit = rdd.unpersist(blocking = false)
}

object VertexDictionary {

  /** Dictionary over the distinct values of `values`' one column.
    *
    * @param orderPreserving vid order equals value order (ids are sorted
    *                        ranks), so a min over vids is the min over
    *                        values — for loops whose tie-breaks read the
    *                        order. Costs a sort; otherwise ids are only
    *                        unique.
    * @param level           storage of the pinned assignment; string-heavy
    *                        dictionaries pass MEMORY_AND_DISK_SER (see
    *                        [[ChainOps.rebaseCounted]])
    */
  def build(values: DataFrame, orderPreserving: Boolean = false,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): VertexDictionary = {
    val v = values.select(col(values.columns.head).as("oid")).distinct()
    val rows =
      if (orderPreserving) v.orderBy("oid").rdd.zipWithIndex()
      else v.rdd.zipWithUniqueId()
    val rdd = rows.map { case (r, i) => Row(r.get(0), i) }
    graft.Scope.pin(rdd.persist(level))
    val frame = values.sparkSession.createDataFrame(rdd, StructType(Seq(
      StructField("oid", v.schema("oid").dataType),
      StructField("vid", LongType, nullable = false))))
    new VertexDictionary(frame, rdd, frame.count())
  }
}
