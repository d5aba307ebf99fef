package chainbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent digest of a table: its row count and the sum of a
  * 64-bit hash of every row, with the columns taken in name order and each
  * value cast to its string form, so a DuckDB-written oracle table and the
  * engine's own output digest alike whatever their integer widths. Computing
  * the digest is also the action that runs a lazy query.
  */
final case class Digest(rows: Long, sum: java.math.BigDecimal) {
  override def toString: String = s"$rows/$sum"
}

object Digest {

  def of(df: DataFrame): Digest = {
    val cols = df.columns.sorted.toSeq
    val h = xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(BigDecimal(0)))).head()
    Digest(r.getLong(0), r.getDecimal(1))
  }

  /** Digest of an oracle result written as parquet by the preparation
    * step, kept beside it after the first run computes it.
    */
  def oracle(spark: SparkSession, oracleDir: String, name: String): Digest = {
    val cache = java.nio.file.Paths.get(s"$oracleDir/$name.digest")
    if (java.nio.file.Files.exists(cache)) {
      val Array(rows, sum) = new String(java.nio.file.Files.readAllBytes(cache), "UTF-8").trim.split("/")
      Digest(rows.toLong, new java.math.BigDecimal(sum))
    } else {
      val d = of(spark.read.parquet(s"$oracleDir/$name.parquet"))
      java.nio.file.Files.write(cache, d.toString.getBytes("UTF-8"))
      d
    }
  }
}
