package graft

import graft.io.Sinks
import org.apache.spark.sql.functions._

/** Bucketed co-located joins: writing both sides bucketed on the join key
  * removes the query-time shuffle entirely — verified on the physical plan.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned write enables partition pruning on read") {
    val out = tempDir("graft-part").toString
    Sinks.parquetSink(Tables.load(spark, sf0, "lineitem"), out,
      partitionCols = Seq("l_returnflag"))
    val pruned = spark.read.parquet(out).filter(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"no partition pruning:\n$plan")
    val full = Tables.load(spark, sf0, "lineitem")
      .filter(col("l_returnflag") === "R").count()
    assert(pruned.count() == full)
  }

  test("IVF corpus partitioned by cell: a probe scans only nProbe cells") {
    // the 100 TB claim behind Similarity.ivfKnn: with the assigned corpus
    // written partitioned by cell, probing nProbe cells is a PRUNED scan —
    // unprobed cells never leave the file index
    val e = Tables.load(spark, sf0, "embeddings")
    val centroids = e.filter(col("vec_id") < 3).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val out = tempDir("graft-ivf").toString
    Sinks.parquetSink(
      graft.sim.Similarity.ivfAssign(e, "embedding", centroids),
      out, partitionCols = Seq("cell"))
    val probed = spark.read.parquet(out).filter(col("cell").isin(0, 2))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"no cell pruning:\n$plan")
    // pruning is semantic too: only the probed cells' rows come back
    val cells = probed.select("cell").distinct()
      .as[Int].collect().toSet
    assert(cells.subsetOf(Set(0, 2)), s"unprobed cells leaked: $cells")
  }

  test("join of two tables bucketed on the key plans without a shuffle") {
    val orders = Tables.load(spark, sf0, "orders")
    val lineitem = Tables.load(spark, sf0, "lineitem")
    Sinks.writeBucketed(orders, "orders_b", 4, Seq("o_orderkey"), Seq("o_orderkey"))
    Sinks.writeBucketed(lineitem, "lineitem_b", 4, Seq("l_orderkey"), Seq("l_orderkey"))

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles:\n$plan")
      // and the result matches the unbucketed join
      val expected = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      assert(joined.as[(String, Long)].collect().toMap == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
