package graft

import graft.dedup.Dedup
import graft.pack.Packing
import graft.text.CorpusStats
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the operators compose into the pipeline a
  * training-data team would actually run — quality gate → exact dedup →
  * near-dup cluster pick → LM-band filter → sequence packing — with the
  * stage invariants asserted at each step. Everything here is the public
  * library surface; no test-only seams.
  */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("filter → dedup → cluster-pick → LM band → pack composes end-to-end") {
    val docs = Tables.load(spark, sf0, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val n0 = docs.count()

    // 1. curation gate (the p_filter_pipeline verdict chain)
    val verdicts = SparkEntry.queries("p_filter_pipeline")(spark, sf0)
    val kept1 = docs.join(verdicts.filter(col("verdict") === "keep")
      .select("doc_id"), Seq("doc_id"))
    val n1 = kept1.count()
    assert(n1 > 0 && n1 <= n0)

    // 2. exact dedup (digest-keyed, min-id survivor)
    val kept2 = Dedup.exact(kept1, "text", "doc_id")
    val n2 = kept2.count()
    assert(n2 <= n1)
    assert(kept2.select(md5(col("text"))).distinct().count() == n2,
      "exact dedup left identical texts")

    // 3. near-dup clusters: drop every clustered doc that is not its
    // cluster's canonical (minimum-id) representative
    val pairs = Dedup.jaccardPairsExact(kept2, "text", "doc_id",
        Seq("source", "lang"), shingleSize = 3, threshold = 0.2)
      .select(col("id_a"), col("id_b"))
    val labels = Dedup.dedupClusters(pairs)
    val losers = labels.filter(col("id") =!= col("label")).select(col("id"))
    val kept3 = kept2.join(losers.withColumnRenamed("id", "doc_id"),
      Seq("doc_id"), "left_anti")
    val n3 = kept3.count()
    assert(n3 <= n2 && n3 > 0)

    // 4. LM perplexity band: drop the worst-scoring decile (noise tail)
    val scored = CorpusStats.unigramNll(kept3, "text", "doc_id")
    val p90 = scored.agg(expr("percentile(avg_nll, 0.9)")).head().getDouble(0)
    val kept4 = kept3.join(scored.filter(col("avg_nll") <= p90)
      .select(col("id").as("doc_id")), Seq("doc_id"))
    val n4 = kept4.count()
    assert(n4 <= n3 && n4 >= n3 * 8 / 10, s"LM band cut too much: $n3 -> $n4")

    // 5. pack the surviving corpus into 1024-token training sequences
    val packed = Packing.packSequences(kept4, "text", "doc_id", capacity = 1024)
      .orderBy("id").as[(Long, Long, Long, Long)].collect()
    assert(packed.length == n4)
    var off = 0L
    packed.foreach { case (_, nToks, bin, binOff) =>
      assert(off / 1024 == bin, "bin assignment broke the tape invariant")
      assert(off % 1024 == binOff)
      off += nToks
    }
    // the funnel is real: every stage is populated and ordered
    assert(n0 >= n1 && n1 >= n2 && n2 >= n3 && n3 >= n4 && n4 > 0)

    // 6. write the curated corpus as deterministic training shards
    // (p_shard_shuffle assignment), partitioned parquet on disk, and read
    // it back: the artifact a dataloader actually consumes
    val draw = Packing.stableDraw(col("doc_id"))
    val outDir = tempDir("graft-curated-shards").toString
    kept4.withColumn("shard", (draw % 4).cast("int"))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    val back = spark.read.parquet(outDir)
    assert(back.count() == n4, "shard write lost rows")
    assert(back.select("shard").distinct().count() == 4)
    // shard assignment is content-deterministic: re-deriving it from the
    // read-back rows reproduces the on-disk partition exactly
    val mismatch = back.withColumn("expect",
      (Packing.stableDraw(col("doc_id")) % 4).cast("int"))
      .filter(col("shard") =!= col("expect")).count()
    assert(mismatch == 0)
    CacheScope.releaseAll()
  }
}
