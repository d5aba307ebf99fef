package graft

import org.apache.spark.sql.functions._

import graft.operators.{ChainOps, VertexDictionary}

class VertexDictionarySpec extends SparkSpec {

  private def values = {
    import spark.implicits._
    Seq("d9", "a1", "c3", "a1", "b2", "e0", "c3", "b10").toDF("x")
  }

  test("encode then decode is the identity and ids are dense unique longs") {
    val dict = VertexDictionary.build(values)
    try {
      assert(dict.n == 6)
      val enc = dict.encode(values, "x")
      assert(enc.schema("x").dataType == org.apache.spark.sql.types.LongType)
      val ids = dict.frame.collect().map(_.getLong(1))
      assert(ids.distinct.length == 6)
      val back = dict.decode(enc, "x").collect().map(_.getString(0)).sorted
      assert(back.toSeq == values.collect().map(_.getString(0)).sorted.toSeq)
      val backB = dict.decode(dict.encode(values, "x", bcast = true), "x", bcast = true)
        .collect().map(_.getString(0)).sorted
      assert(backB.toSeq == back.toSeq)
    } finally dict.unpersist()
  }

  test("orderPreserving: vid order equals value order, ids are ranks 0..n-1") {
    // the LPA min-label tie-break reads this: min over vids = min over values
    val dict = VertexDictionary.build(values.repartition(3), orderPreserving = true)
    try {
      val byVid = dict.frame.collect().map(r => r.getLong(1) -> r.getString(0)).sortBy(_._1)
      assert(byVid.map(_._1).toSeq == (0L until 6L))
      assert(byVid.map(_._2).toSeq == Seq("a1", "b10", "b2", "c3", "d9", "e0"))
    } finally dict.unpersist()
  }

  test("two encodes against one dictionary agree (the assignment is pinned)") {
    import spark.implicits._
    // a shuffle output: re-evaluating it can change fetch order, which is
    // what would re-number an unpinned assignment
    val many = (1 to 400).map(i => s"v${i % 97}").toDF("x").repartition(7)
    val dict = VertexDictionary.build(many)
    try {
      val a = dict.encode(many.distinct().withColumn("v", col("x")), "x")
      val b = dict.encode(many.distinct().withColumn("v", col("x")), "x")
      val joined = a.join(b.withColumnRenamed("x", "y"), "v")
      assert(joined.count() == 97)
      assert(joined.where(col("x") =!= col("y")).isEmpty)
    } finally dict.unpersist()
  }

  test("resolve: a dangling parent gets its own id and decodes back") {
    import spark.implicits._
    // b1 -> b0 (root); c1 -> ghost, a parent never seen as an id
    val nodes = Seq(("b0", null), ("b1", "b0"), ("c1", "ghost"))
      .toDF("hash", "parent_hash")
    val r = ChainOps.resolve(nodes, "hash", "parent_hash", keepTables = false)
    try {
      assert(r.dict.n == 4)
      assert(r.dict.frame.where(col("oid") === "ghost").count() == 1)
      val got = r.result.collect().map(x => x.getString(0) -> (x.getString(1), x.getLong(2))).toMap
      assert(got == Map("b0" -> ("b0", 0L), "b1" -> ("b0", 1L), "c1" -> ("ghost", 1L)))
    } finally {
      r.resultRdd.unpersist(blocking = false)
      r.dict.unpersist()
    }
  }
}
