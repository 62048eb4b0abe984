package graft

import graft.tools.ScanAudit
import org.apache.spark.sql.functions._

/** ScanAudit counts the operators a cached relation actually executes. */
class ScanAuditSpec extends SparkSpec {

  test("ScanAudit: a shuffle inside a cached relation is counted once") {
    val agg = spark.range(0L, 1000L, 1L, 4)
      .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
      .cache()
    try {
      // the consumer adds no exchange of its own: the only shuffle is
      // the aggregation inside the cache, read by two scans
      val df = agg.filter(col("n") > 0).union(agg.filter(col("k") > 3))
      val c = ScanAudit.Counts()
      ScanAudit.tally(df.queryExecution.executedPlan, c,
        scala.collection.mutable.Set.empty[AnyRef])
      assert(c.im == 2 && c.cachedRels == 1, c)
      assert(c.ex == 1,
        s"expected the cached aggregation's one exchange, counted ${c.ex}")
    } finally agg.unpersist(blocking = true)
  }
}
