package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Scale rehearsal for the relational (TPC-H-shaped) query family (not part
  * of the API): replicates the sf0.1 `orders`/`lineitem` fact tables K× and
  * times the registered queries at 1× vs K× — the same class of evidence
  * [[ScaleRehearsal]] buys for the blockchain pipeline and
  * [[DocScaleRehearsal]] for the document pipeline, pointed at the
  * lineitem/orders surface (the sub-second bench floor at sf0.1 hides any
  * data-bound signal; see the round-20 core-scaling block).
  *
  * Replication preserves JOIN structure without inflating per-key output
  * shape: replica i offsets `o_orderkey`/`l_orderkey` by i·(max+1) so every
  * lineitem still matches exactly its order, while `o_custkey`,
  * `l_partkey`, grouping columns and all measures are left untouched —
  * group-by cardinality stays constant and per-group volume grows K×,
  * which is how a bigger day of the same business looks. Dimension tables
  * (customer, part, …) are symlinked from the source dir unscaled.
  */
object RelScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val k = sys.env.getOrElse("SPARK_GRAFT_REL_SCALE", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = s"target/relscale_x$k"
    if (!Files.exists(Paths.get(s"$dir/_DONE"))) {
      val orders = spark.read.parquet(s"$src/orders.parquet")
      val nOrd = orders.agg(max("o_orderkey")).head.getLong(0) + 1
      (0 until k).map { i =>
        orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * nOrd))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      (0 until k).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * nOrd))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      graft.tables.Tables.all.filterNot(t => t == "orders" || t == "lineitem")
        .foreach { t =>
          val link = Paths.get(s"$dir/$t.parquet")
          if (!Files.exists(link))
            Files.createSymbolicLink(link, Paths.get(s"$src/$t.parquet"))
        }
      Files.write(Paths.get(s"$dir/_DONE"), Array.emptyByteArray)
    }
    // SPARK_GRAFT_REL_LEGS selects a subset by substring (mirrors
    // DocScaleRehearsal's SPARK_GRAFT_DOC_LEGS).
    val legFilter = sys.env.get("SPARK_GRAFT_REL_LEGS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = Seq("a1_count_group", "a3_sum_group", "j5_big_join_agg",
      "j6_multihop_agg", "j8_range_join", "w1_rank", "w3_running_sum")
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
        Rehearsal.emit(f"""{"rehearsal":"$name","rel":"$tag","warm":$warm%.2f,"s1":$s1%.2f,"s2":$s2%.2f}""")
      }}
    }
    spark.stop()
  }
}
