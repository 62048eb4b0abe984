package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.Assertions._

/** Both paths of `Dedup.jaccardPairsExact`: the call itself, which joins
  * small inputs on the driver, and the distributed join it falls back to.
  * Asserts which path the call took, equal schemas and equal rows, with
  * `jaccard` compared bit for bit. */
object PairPaths {

  /** The call's result, after asserting that both paths agree on it. */
  def jaccard(df: DataFrame, textCol: String, idCol: String,
              blockCols: Seq[String] = Nil, shingleSize: Int = 3,
              threshold: Double = 0.5, onDriver: Boolean = true): DataFrame = {
    val fast = Dedup.jaccardPairsExact(df, textCol, idCol, blockCols,
      shingleSize, threshold)
    val dist = Dedup.jaccardPairsDistributed(df, textCol, idCol, blockCols,
      shingleSize, threshold)
    assert(fast.queryExecution.logical.isInstanceOf[LocalRelation] == onDriver,
      s"expected the ${if (onDriver) "driver" else "distributed"} path")
    assert(fast.schema == dist.schema, s"${fast.schema} vs ${dist.schema}")
    def rows(p: DataFrame) = p.collect().toSeq
      .map(r => (r.get(0), r.get(1), r.getDouble(2)))
      .sortBy(_.toString)
    assert(rows(fast) == rows(dist), "driver and distributed pairs differ")
    fast
  }
}
