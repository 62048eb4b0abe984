package graft

/** Plan-shape regression tests: the scale properties documented in PLANS.md,
  * asserted on the physical plans so a refactor can't silently lose them.
  */
class PlanAssertionsSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0).queryExecution.executedPlan.toString

  test("q1: shipdate predicate pushed to the parquet scan, columns pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushdown in:\n$p")
    assert(!p.contains("l_orderkey"), "scan reads unneeded columns")
  }

  test("q5: every dimension joins as broadcast, fact side never shuffled for joins") {
    val p = plan("q5_local_supplier")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), "a dimension join fell back to SMJ")
  }

  test("q6: every predicate reaches the parquet scan; one-row result, no wide shuffle") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters: ["), s"no pushdown in:\n$p")
    // shipdate range, discount band, and quantity cap all push
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(p.substring(p.indexOf("PushedFilters")).take(400).contains(c),
        s"$c not pushed:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"scan-aggregate grew a hash shuffle:\n$p")
  }

  test("q13: orders aggregate BEFORE the customer join (never join-then-count)") {
    val p = SparkEntry.queries("q13_customer_orders")(spark, sf0)
      .queryExecution.optimizedPlan
    // walk the optimized tree: the outer join's right child must already
    // contain the per-custkey aggregate — if counting happened after the
    // join, the first Aggregate above the scan would sit above the Join
    val joins = p.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, s"no join in:\n$p")
    val aggUnderJoin = joins.head.right.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggUnderJoin.nonEmpty,
      s"orders not pre-aggregated below the join:\n$p")
  }

  test("q19: disjunctive bands pre-extracted — part broadcasts, both scans pruned") {
    val p = plan("q19_discounted_revenue")
    assert(p.contains("BroadcastHashJoin"), s"part join not broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"disjunction degenerated the join:\n$p")
    // the quantity hull [1,30] is a pushed scan filter on lineitem
    val scanSection = p.substring(p.indexOf("PushedFilters"))
    assert(scanSection.take(400).contains("l_quantity"),
      s"quantity hull not pushed to lineitem scan:\n$p")
  }

  test("q22: anti join stays keyed; the stats row broadcasts") {
    val p = plan("q22_global_sales")
    assert(p.contains("LeftAnti"), s"anti join missing:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the one-row stats join must be a broadcast, not cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"stats row not broadcast:\n$p")
  }

  test("scan-stage transforms are shuffle-free: rand_proj, span_corrupt, fim") {
    // the only exchange these may contain is the output orderBy's range
    // partitioning — a hash exchange means the per-row transform grew a
    // shuffle it doesn't need
    for (q <- Seq("s_rand_proj", "p_span_corrupt", "p_fim_transform")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q grew a hash shuffle:\n$p")
    }
  }

  test("line dedup: the lines array never enters an exchange") {
    // digests and id-keyed position sets shuffle; line text must not
    val p = plan("d_line_dedup")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, s"expected shuffles in:\n$p")
    exchanges.foreach(l =>
      assert(!l.contains("lines#"), s"lines array shuffled: $l\n$p"))
  }

  test("pagerank: iteration joins carry (node, long) pairs — never vectors") {
    val p = plan("s_pagerank")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges.foreach { l =>
      assert(!l.contains("embedding#") && !l.contains(" v#"),
        s"vectors entered an iteration shuffle: $l")
    }
  }

  test("range join is a keyed join, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated:\n$p")
  }

  test("exact dedup shuffles digests (not text) with map-side group limit") {
    val p = plan("d_dedup_exact")
    assert(p.contains("WindowGroupLimit"), "no partial top-1 before shuffle")
    // the exchange's input schema is (doc_id, _w0 digest) — text is projected
    // away before the shuffle
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(_w0")
    assert(exchangeIdx >= 0, s"unexpected shuffle key:\n$p")
  }

  test("as-of join is one windowed pass — no self-join") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), s"as-of join materialized a join:\n$p")
  }

  test("ngram jaccard: no self-join keyed only on coarse (source, lang) blocks") {
    // d_ngram_jaccard's small sf0 corpus is joined on the driver, a local
    // relation with no join; the distributed entry on the same input is
    // the plan larger corpora run, so that is the one inspected: its
    // ANALYZED plan, which carries the join tree as constructed
    import org.apache.spark.sql.functions.{col, round}
    val docs = Tables.load(spark, sf0, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val df = graft.dedup.Dedup.jaccardPairsDistributed(docs, "text", "doc_id",
      Seq("source", "lang"), shingleSize = 3, threshold = 0.2)
    val joins = df.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.sql).getOrElse("")
    }
    // every equi-join that matches block columns must also key on a shingle
    // (candidate generation) — never on the block alone
    joins.filter(c => c.contains("source") && c.contains("lang")).foreach { c =>
      assert(c.contains("tok"), s"join keyed only on coarse block: $c")
    }
    assert(joins.exists(_.contains("tok")), s"no shingle-keyed candidate join in: $joins")
    // and the query returns that entry's rows
    val query = SparkEntry.queries("d_ngram_jaccard")(spark, sf0).collect().toSeq
    val dist = df.select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jac"))
      .filter(col("jac") >= 0.2).orderBy("id_a", "id_b").collect().toSeq
    assert(query.nonEmpty && query == dist, s"$query vs $dist")
  }

  test("embed neardup: exact tier is gated by the block-size guard") {
    val p = SparkEntry.queries("d_embed_neardup")(spark, sf0)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("__blk_n"), s"block-size guard missing from plan:\n$p")
    // both tiers present: a guard <= cap (exact) and > cap (LSH bucket join)
    assert(p.contains("bucket"), s"LSH bucket tier missing from plan:\n$p")
  }

  // --- single-pass dispatch: the per-schema fan-outs must compile to ONE
  // scan of the input (a chained-when projection), never a branch-per-schema
  // union of filtered scans — at batch scale N branches = N full re-scans.

  private def assertSingleScan(df: org.apache.spark.sql.DataFrame,
                               what: String): Unit = {
    val plan = df.queryExecution.optimizedPlan
    val unions = plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }
    assert(unions.isEmpty, s"$what still unions per-schema branches:\n$plan")
    assert(plan.collectLeaves().size == 1,
      s"$what scans its input more than once:\n$plan")
  }

  test("conformByField compiles to a single scan of the input") {
    import spark.implicits._
    val sA = """{"type":"record","name":"A","fields":[{"name":"id","type":"long"}]}"""
    val sB = """{"type":"record","name":"B","fields":[{"name":"id","type":"long"}]}"""
    val rows = Seq((1L, Some(sA)), (2L, Some(sB)), (3L, None))
      .toDF("id", "schema")
    assertSingleScan(
      graft.functions.Conform.conformByField(rows, "schema", keep = Seq("id")),
      "conformByField")
  }

  test("conformBySubject compiles to a single scan of the input") {
    import spark.implicits._
    val t = """{"type":"record","name":"T","fields":[{"name":"v","type":"long"}]}"""
    val reg = new graft.schema.InMemoryRegistry(
      Map("a" -> Seq(t), "b" -> Seq(t)))
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "unknown"))
      .toDF("v", "subj")
      .select(org.apache.spark.sql.functions.struct($"v").as("value"), $"subj")
    assertSingleScan(
      graft.functions.Conform.conformBySubject(rows, "subj", "value", reg),
      "conformBySubject")
  }

  test("curation filter is shuffle-free: no Exchange anywhere in the plan") {
    val p = plan("p_filter_pipeline")
    // every signal is a scan-stage expression; the orderBy in the query
    // surface is the only allowed exchange (a rangepartitioning for output
    // ordering, not a hash shuffle for computation)
    assert(!p.contains("Exchange hashpartitioning"),
      s"curation filter hash-shuffles:\n$p")
  }

  test("sequence packing never funnels the corpus through one task") {
    val p = plan("p_pack_sequences")
    // the classic bug is Window.orderBy(id) with NO partition spec —
    // Spark plans that as Exchange SinglePartition + a global Sort. The
    // two-level prefix sum must instead window PARTITIONED BY range.
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0)
    assert(p.contains("windowspecdefinition(rng"),
      s"window not partitioned by id-range:\n$p")
    // the only SinglePartition exchange allowed is for the bounded
    // (range, prefix) driver relation, never under the corpus window
    assert(!p.substring(0, winIdx).contains("Exchange SinglePartition"),
      s"corpus window runs in one task:\n$p")
  }

  test("LM scorer joins the model by token — document text never joins") {
    val df = SparkEntry.queries("t_lm_score")(spark, sf0)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.sql).getOrElse("")
    }
    assert(joins.nonEmpty)
    joins.foreach(c => assert(!c.contains("text"),
      s"LM join keyed on document text: $c"))
  }

  test("span removal shuffles digests and positions — never n-gram strings") {
    val p = plan("d_remove_dup_spans")
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    // shuffle keys must be the xxhash64 digest (h), ids, or positions —
    // if a raw gram string (g) becomes a shuffle key the 100 TB shape is lost
    exchanges.foreach { e =>
      assert(!e.matches(".*hashpartitioning\\(g[#,].*"),
        s"gram string used as shuffle key: $e")
    }
    assert(exchanges.nonEmpty)
  }

  test("scan-stage text signals are shuffle-free: line quality, NFC, SQL surface") {
    Seq("t_line_quality", "t_normalize_text", "x_sql_surface").foreach { q =>
      val p = plan(q)
      // the only exchange allowed is the final presentation orderBy
      val exchanges = p.split("\n").filter(_.contains("Exchange"))
        .filterNot(_.contains("rangepartitioning"))
      assert(exchanges.isEmpty, s"$q has a non-sort shuffle:\n$p")
    }
  }

  test("semantic dedup: pair join is cell-keyed, never a cartesian product") {
    val p = plan("d_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup degenerated to all-pairs:\n$p")
    // the assignment expression is one plan node, not a k-branch least()
    assert(!p.contains("least("), s"k-branch centroid assignment resurfaced:\n$p")
  }

  test("shard shuffle: one hash shuffle on the shard key plus the output sort") {
    val p = plan("p_shard_shuffle")
    val hashEx = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.length == 1, s"expected exactly one hash shuffle:\n$p")
  }

  test("bloom decontamination probes via a broadcast join — the filter ships, not the eval set") {
    val p = plan("d_bloom_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"bloom probe not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"bloom probe degenerated:\n$p")
  }

  test("pq/mips/triplets: the query/anchor side broadcasts; corpus never shuffles vectors") {
    for (q <- Seq("s_knn_pq", "s_knn_mips", "s_hard_triplets")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$q: query side not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: non-broadcast cartesian:\n$p")
    }
  }

  test("dimension-sized map joins stay broadcast despite inherited scan estimates") {
    // the size-estimate lapse (PLANS.md round-9): a bounded aggregate
    // carries its child scan's estimate, so these joins MUST carry an
    // explicit broadcast hint — assert the plan so a refactor can't lose it
    for (q <- Seq("p_length_buckets", "p_budget_select", "t_dsir_weight")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: map join not broadcast:\n$p")
    }
  }

  test("eval overlap: the corpus streams through a broadcast semi join") {
    val p = plan("d_eval_overlap")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"corpus side must probe a broadcast eval set:\n$p")
  }

  test("tfIdfTopK: doc-keyed plan — exploded tokens never re-shuffle unbounded") {
    // The round-10 plan: repartition(id) up front, so the (id, term)
    // aggregate runs exchange-free on the exploded token stream. The
    // window's ENSURE_REQUIREMENTS exchange survives only because an
    // AQE-wrapped cached plan hides its output partitioning at plan
    // time — but it must be fed by a PARTIAL WindowGroupLimit, so it
    // carries at most k rows per (partition, id), never the token stream.
    val p = plan("t_tfidf_topk")
    val exchangeIds = "Exchange hashpartitioning[^\\n]*plan_id=(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchangeIds.size <= 3,
      s"unexpected exchange count ${exchangeIds.size}:\n$p")
    assert(p.contains("row_number(), 3, Partial"),
      s"window exchange must be capped by a map-side group limit:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dfreq join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a join fell back to SMJ:\n$p")
  }

  test("bpeEncode: scan-stage merge chain — only the per-doc partial-agg exchange") {
    val enc = graft.text.CorpusStats.bpeEncode(
      Tables.load(spark, sf0, "documents"), "text", "doc_id",
      Seq(("t", "h"), ("th", "e")))
    val p = enc.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly the aggregate exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"encoding must not join:\n$p")
  }

  test("perplexityBuckets: thresholds broadcast back onto the scored relation") {
    val p = plan("t_ppl_buckets")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join must broadcast (corpus-side shuffle otherwise):\n$p")
  }

  test("q7: both nation role aliases and every dimension broadcast; one fact shuffle") {
    val p = plan("q7_volume_shipping")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q7 degenerated:\n$p")
  }

  test("q18: the HAVING aggregate never shuffles text and joins orders keyed") {
    val p = plan("q18_large_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q18 degenerated:\n$p")
  }

  test("wordpiece encode: segmentation is scan-stage; only the per-doc agg exchanges") {
    val df = graft.text.CorpusStats.wordpieceEncode(
      graft.Tables.load(spark, sf0, "documents"), "text", "doc_id",
      Seq("th", "the", "er"))
    val p = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges (partial+final agg), got $exchanges:\n$p")
    assert(!p.contains("Join"), s"encode must not join a vocab table:\n$p")
  }

  test("kafkaProduceBySchemaField compiles to a single scan of the input") {
    import spark.implicits._
    val sA = """{"type":"record","name":"A","fields":[{"name":"id","type":"long"}]}"""
    val sB = """{"type":"record","name":"B","fields":[{"name":"id","type":"long"}]}"""
    val rows = Seq((1L, """{"id":1}""", Some(sA)), (2L, """{"id":2}""", Some(sB)),
        (3L, """{"id":3}""", None))
      .toDF("id", "value", "schema")
    assertSingleScan(
      graft.io.Sinks.kafkaProduceBySchemaField(rows,
        org.apache.spark.sql.functions.lit("t"),
        $"id".cast("string").cast("binary"), "value", "schema"),
      "kafkaProduceBySchemaField")
  }

  test("partsupp TPC-H shapes: dims broadcast, self-joins keyed, no cartesian") {
    // The derived partsupp builds via a deliberate 4-row broadcast cross
    // (BroadcastNestedLoopJoin over a 4-row local relation — constant
    // fan-out, scale-safe), so only a true CartesianProduct is a defect.
    for (q <- Seq("q2_min_cost_supplier", "q9_product_profit",
        "q11_important_stock", "q16_parts_supplier_cnt",
        "q20_promotion_suppliers", "q21_waiting_suppliers")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
    }
    // Q9: part/supplier/nation broadcast; the composite-key
    // lineitem⋈partsupp join may shuffle (both fact-sized at scale)
    val p9 = plan("q9_product_profit")
    assert("BroadcastHashJoin".r.findAllIn(p9).length >= 3,
      s"q9 dimensions not broadcast:\n$p9")
    // Q21: the triple self-join keeps the semi and anti forms, keyed on
    // l_orderkey — never a nested loop over lineitem
    val p21 = plan("q21_waiting_suppliers")
    assert(p21.contains("LeftSemi"), s"q21 lost the semi join:\n$p21")
    assert(p21.contains("LeftAnti"), s"q21 lost the anti join:\n$p21")
    // Q2: the per-part min must be a window over the keyed partition,
    // and the part prune must precede it (broadcast join below window)
    val p2 = plan("q2_min_cost_supplier")
    assert(p2.contains("Window"), s"q2 lost the min window:\n$p2")
  }
}
