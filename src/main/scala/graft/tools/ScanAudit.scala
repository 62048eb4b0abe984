package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Whole-board plan audit (optimization rounds): for EVERY registered
  * batch query, count parquet scans per input table, exchanges, joins and
  * cached-relation reads in the physical plan — the systematic "which
  * query recomputes a corpus-sized subtree" sweep (guide §2.4/§7.2).
  * Streaming gates are skipped (their returned frame is a memory-sink
  * scan; plan cost lives in the run). Output: one TSV row per query on
  * stdout. Run at sf0.001 — plan SHAPE is what's audited.
  *
  * Counting is a TREE WALK, not a plan-string grep (round 22): the
  * string form prints every cached relation's child plan once PER
  * CONSUMER, so a subtree that was deliberately cached to run once
  * (q11/q17/p_pack_* after r21) still read as a duplicate scan — the
  * audit flagged exactly the rows its previous round had fixed. The
  * walk visits each DISTINCT InMemoryRelation's cachedPlan once (that
  * is what executes: one materialization per cache, however many
  * consumers), so `dup_table_scans` now counts only files genuinely
  * scanned more than once per invocation. `inmem` counts
  * InMemoryTableScan consumers; `cached_rels` the distinct relations.
  *
  * Usage: sbt "runMain graft.tools.ScanAudit [dataDir] [prefix]"
  */
object ScanAudit {

  final case class Counts(var ex: Int = 0, var bc: Int = 0, var smj: Int = 0,
                          var bnl: Int = 0, var im: Int = 0,
                          var cachedRels: Int = 0,
                          files: scala.collection.mutable.Map[String, Int] =
                            scala.collection.mutable.Map.empty)

  /** Walk `p`, visiting each distinct InMemoryRelation's cachedPlan once
    * (keyed on the relation's cache builder identity — two scans of the
    * same cache share storage, so its subtree executes once). */
  def tally(p: SparkPlan, c: Counts,
            seen: scala.collection.mutable.Set[AnyRef]): Unit = {
    p match {
      case f: FileSourceScanExec =>
        val path = f.relation.location.rootPaths.headOption
          .map(_.toString).getOrElse("?")
        c.files(path) = c.files.getOrElse(path, 0) + 1
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        // a leaf until executed; initialPlan (inputPlan +
        // EnsureRequirements) is the first shape that carries exchanges
        tally(a.initialPlan, c, seen)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        c.im += 1
        val rel = im.relation.cacheBuilder
        if (!seen.contains(rel)) {
          seen += rel
          c.cachedRels += 1
          // an adaptive cached plan is walked through its initialPlan
          // like the top level, so its exchanges and sorts count too
          tally(im.relation.cachedPlan, c, seen)
        }
      case _ => ()
    }
    p.getClass.getSimpleName match {
      case "ShuffleExchangeExec" => c.ex += 1
      case "BroadcastExchangeExec" => c.bc += 1
      case "SortMergeJoinExec" => c.smj += 1
      case "BroadcastNestedLoopJoinExec" => c.bnl += 1
      case _ => ()
    }
    p.children.foreach(tally(_, c, seen))
    p.subqueries.foreach(tally(_, c, seen))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val prefix = args.drop(1).headOption.getOrElse("")
    val spark = graft.Sessions.build("local[8]", "8", None, Map.empty)
    spark.sparkContext.setLogLevel("ERROR")
    println("query\tparquet_scans\tdup_table_scans\tdup_max\texchanges\tbcast\tsmj\tbnl\tinmem\tcached_rels")
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if !name.startsWith("x_stream") && name.startsWith(prefix)) {
      try {
        val df = fn(spark, dir)
        val c = Counts()
        tally(df.queryExecution.executedPlan, c,
          scala.collection.mutable.Set.empty[AnyRef])
        val scans = c.files.values.sum
        val dup = c.files.count(_._2 > 1)
        val dupMax = if (c.files.isEmpty) 0 else c.files.values.max
        println(s"$name\t$scans\t$dup\t$dupMax\t${c.ex}\t${c.bc}\t${c.smj}\t${c.bnl}\t${c.im}\t${c.cachedRels}")
      } catch { case e: Throwable =>
        // padded to the 10-column header so TSV parsers stay aligned
        // across an audit containing a failed query (ADVICE r21)
        println(s"$name\tERR\t${e.getClass.getSimpleName}\t-\t-\t-\t-\t-\t-\t-")
      }
      graft.CacheScope.releaseAll()
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
