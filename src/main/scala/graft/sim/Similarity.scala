package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design: the corpus side stays distributed; query vectors are the
  * small side and are always broadcast. Brute force is the exactness
  * baseline (one narrow pass + a top-k per query); the LSH/IVF variants cut
  * the scanned fraction at 100 TB by routing each query to a bucket subset.
  */
object Similarity {

  /** Default candidate-pair budget for the EXACT similarity tiers
    * ([[knnGraph]], [[cosinePairsBlocked]]'s exact blocks): 10^9 pairs ≈
    * n = 31k vectors all-pairs — comfortably above any evaluation slice,
    * far below corpus scale. Exceeding it fails fast with the ANN-tier
    * escape hatch, so "evaluation slices only" is an enforced contract,
    * not a doc comment. Callers that intend the n² cost pass a larger
    * budget explicitly. */
  val DefaultPairsBudget: Long = 1000000000L

  /** Default driver-held vector budget for model state ([[kmeansFit]]'s
    * training sample, [[collectModelVectors]]' centroid/codebook pulls):
    * 2^18 vectors ≈ 134 MB of 64-dim doubles — far above any sane
    * centroid set or fit sample, far below a corpus. Exceeding it fails
    * fast (the [[DefaultPairsBudget]] pattern): a misconfigured 100 TB
    * run throws with the intended knob named instead of OOMing the
    * driver. Callers that intend a bigger pull pass a larger budget
    * explicitly. */
  val DefaultDriverVectorBudget: Int = 1 << 18

  /** The guarded driver-side model-vector pull: the first `n` vectors in
    * `idCol` order, as the ONE construction IVF/PQ index builders take
    * their centroid/codebook seeds from. `orderBy+limit` plans as a
    * per-partition top-N merge (no global sort shuffle), and the
    * enforced `maxDriverVectors` budget makes "model small, data never
    * collected" a contract rather than a convention.
    */
  def collectModelVectors(df: DataFrame, idCol: String, vecCol: String,
                          n: Int,
                          maxDriverVectors: Int = DefaultDriverVectorBudget): Seq[Seq[Double]] = {
    if (n > maxDriverVectors)
      throw new IllegalArgumentException(
        s"collectModelVectors: n=$n exceeds maxDriverVectors=" +
          s"$maxDriverVectors. Model vectors are driver-held; raise " +
          "maxDriverVectors explicitly if a pull this size is intended.")
    df.filter(col(idCol) < n).orderBy(idCol)
      .select(asDouble(col(vecCol)).as("v"))
      .limit(n) // structural bound even under duplicate ids
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
  }

  /** Elementwise dot product of two double arrays — native single-loop
    * expression ([[graft.exprs.HashExprs.VecDot]]); same sequential
    * accumulation order as `aggregate(zip_with(...))`, no per-row zipped
    * array allocation.
    */
  def dot(a: Column, b: Column): Column =
    graft.exprs.HashExprs.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NULL-safe cosine division: a zero-norm vector (failed encoder
    * output, padding row) yields NULL cosine instead of an ANSI
    * DIVIDE_BY_ZERO that aborts the whole job — under Spark 4's default
    * ANSI mode even DOUBLE division by zero throws, so ONE degenerate
    * embedding in 100 TB would kill the stage. NULL sorts last under the
    * desc rankings used here and fails every threshold predicate, so a
    * degenerate row can never BEAT a real neighbour; the rankers
    * additionally filter NULL scores out (the [[knnGraph]] zero-norm
    * exclusion contract, applied uniformly).
    */
  // NULL on zero-norm AND on non-finite norm product: an Inf- or
  // NaN-component vector has nProd = Inf/NaN, so it never reaches the
  // division. The heavy O(dim) dot `d` is referenced exactly ONCE (the
  // division) — the previous shape also tested !isnan(d) in the
  // predicate, and Spark's codegen does no CSE between a conditional's
  // predicate and its branches (the b2979ff digest finding), so the dot
  // could evaluate twice per pair on the quadratic paths. The residual
  // escape — d overflowing to ±Inf/NaN while nProd rounds to a finite
  // value near Double.MaxValue — makes the QUOTIENT non-finite; that is
  // closed by [[finiteScore]] at the consuming filter, where the score
  // is a resolved attribute (evaluated once in the projection, tested
  // as a variable — single-eval by operator boundary, not by CSE luck).
  // !isnan(nProd) is load-bearing: Spark compares NaN under a TOTAL ORDER
  // where NaN is largest, so `NaN > 0` is TRUE — a NaN-component vector
  // (nProd = NaN) would otherwise reach the division and emit NaN.
  private def safeCos(d: Column, nProd: Column): Column =
    when(nProd > 0 && !isnan(nProd) &&
      nProd =!= lit(Double.PositiveInfinity), d / nProd)

  /** Keep-predicate for a computed score: non-NULL (zero-norm /
    * non-finite-vector rows, nulled by [[safeCos]]) and finite — NaN/±Inf
    * quotients from the dot-overflow edge can never rank (descending sort
    * treats NaN as LARGEST, and both Spark and DuckDB evaluate
    * `NaN >= threshold` as TRUE, so a threshold filter alone keeps them).
    * Together with [[safeCos]] this makes "every kept score is finite"
    * hold by construction.
    *
    * The predicate references `c` exactly ONCE — load-bearing for cost,
    * not style: the optimizer collapses Project+Filter and substitutes
    * the FULL score expression (containing the O(dim) dot) into the
    * filter condition once per reference, and neither FilterExec nor
    * cross-operator codegen eliminates the copies (counted in the
    * whole-stage generated code: an `isNotNull && !isnan && abs=!=Inf`
    * spelling inlines the dot loop 3× in the filter + 1× in the project).
    * `abs(c) <= Double.MaxValue` is a TOTAL finiteness test under Spark's
    * NaN-is-largest comparison order: NULL → NULL (dropped), NaN → false
    * (NaN is greater than every value), +Inf → false, -Inf → abs → +Inf
    * → false, finite → true. One reference = one substituted copy. */
  private def finiteScore(c: Column): Column =
    abs(c) <= lit(Double.MaxValue)

  def cosine(a: Column, b: Column): Column =
    safeCos(dot(a, b), norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Brute-force exact top-k cosine neighbours for a set of query vectors.
    *
    * `queries`: (qid, qvec) — must be small (broadcast side).
    * `corpus`: (id, vec) — arbitrarily large.
    * Output: (qid, id, cosine, rank) with rank ≤ k per qid.
    *
    * Plan: broadcast nested-loop join (narrow over the corpus), then one
    * shuffle on qid for the per-query top-k window. The shuffle carries only
    * (qid, id, score) triples — never the vectors.
    */
  def bruteForceKnn(corpus: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, qidCol: String, qvecCol: String,
                    k: Int): DataFrame = {
    // Norms once per row on each side (not per pair) — same float-op
    // sequence as inline recomputation, so scores are bit-identical.
    val scored = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", norm(col("v")))
      .crossJoin(broadcast(
        queries.select(col(qidCol).as("qid"), asDouble(col(qvecCol)).as("q"))
          .withColumn("qn", norm(col("q")))))
      .select(col("qid"), col("id"),
        safeCos(dot(col("v"), col("q")), col("vn") * col("qn")).as("cosine"))
      .filter(finiteScore(col("cosine"))) // zero-norm/non-finite excluded
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Exact top-k by INNER PRODUCT (MIPS) — the retrieval scoring used by
    * dot-product-trained dual encoders (DPR-style), where cosine's norm
    * division would reorder results. Same plan shape as
    * [[bruteForceKnn]]: broadcast queries, narrow scan, (qid, id, score)
    * top-k shuffle. For sub-linear MIPS, compose with the norm-
    * augmentation reduction (Bachrach et al., RecSys 2014: append
    * sqrt(M²−‖x‖²) to corpus vectors, 0 to queries) and feed the
    * augmented column to [[lshKnn]]/[[ivfKnn]].
    */
  def bruteForceMips(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int): DataFrame = {
    val scored = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(
        queries.select(col(qidCol).as("qid"), asDouble(col(qvecCol)).as("q"))))
      .select(col("qid"), col("id"), dot(col("v"), col("q")).as("ip"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("ip").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "ip", "rank")
  }

  /** Triplet mining for contrastive training data: per anchor, the
    * hardest positive (LOWEST-cosine vector sharing the anchor's label)
    * and hardest negative (HIGHEST-cosine vector with a different
    * label) — the batch-mining step behind triplet/InfoNCE embedding
    * training (Schroff et al., CVPR 2015 "FaceNet" semi-hard mining).
    * Anchors exclude themselves; ties break to the smallest id on the
    * positive side and largest on the negative (struct min/max order,
    * mirrored exactly by the oracle).
    *
    * Scale: anchors are the broadcast side; one narrow corpus scan, one
    * (qid, label, cosine, id)-scalar shuffle for the per-anchor min/max
    * — the same shape as [[bruteForceKnn]]. For a full-corpus mining
    * pass (every vector an anchor), compose with [[ivfAssign]] and mine
    * within cells instead of broadcasting.
    */
  def hardTriplets(corpus: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, anchors: DataFrame): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        col(labelCol).as("lbl"))
      .withColumn("vn", norm(col("v")))
    val a = anchors.select(col(idCol).as("qid"),
        asDouble(col(vecCol)).as("q"), col(labelCol).as("qlbl"))
      .withColumn("qn", norm(col("q")))
    val scored = c.crossJoin(broadcast(a))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("qlbl"), col("id"), col("lbl"),
        safeCos(dot(col("v"), col("q")), col("vn") * col("qn")).as("cos"))
      // a NULL cos inside the min/max structs would outrank real rows
      // (struct ordering) — degenerate vectors are excluded, not ranked
      .filter(finiteScore(col("cos")))
    scored.groupBy(col("qid"))
      .agg(
        min(when(col("lbl") === col("qlbl"),
          struct(col("cos"), col("id")))).as("hp"),
        max(when(col("lbl") =!= col("qlbl"),
          struct(col("cos"), col("id")))).as("hn"))
      .select(col("qid"),
        col("hp.id").as("pos_id"), round(col("hp.cos"), 6).as("pos_cos"),
        col("hn.id").as("neg_id"), round(col("hn.cos"), 6).as("neg_cos"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the LASER
    * pipeline that mined WikiMatrix/CCMatrix translation pairs): for each
    * X-side vector, the best Y-side match by RATIO MARGIN —
    * cos(x,y) / ((avgTopK(x→Y) + avgTopK(y→X)) / 2) — which normalizes
    * away hubness: a candidate that is "everyone's neighbour" has a high
    * denominator and stops winning, the failure mode of raw cosine
    * mining. Returns (xid, yid, margin), one row per X vector.
    *
    * Ranking uses the 6-decimal-ROUNDED margin (ties then by id) so the
    * selection is stable across engines and summation orders — the same
    * rule as [[graft.text.CorpusStats.gumbelTopK]]. Scale: X is the
    * bounded query batch (broadcast); at full-corpus scale the candidate
    * sets come from [[lshKnn]]/[[ivfKnn]] instead of the dense cross —
    * the margin arithmetic is unchanged.
    */
  def bitextMarginMine(x: DataFrame, y: DataFrame, idCol: String,
                       vecCol: String, k: Int = 4): DataFrame = {
    val xs = x.select(col(idCol).as("xid"), asDouble(col(vecCol)).as("xv"))
      .withColumn("xn", norm(col("xv")))
    val ys = y.select(col(idCol).as("yid"), asDouble(col(vecCol)).as("yv"))
      .withColumn("yn", norm(col("yv")))
    // (xid, yid, cos) feeds both top-k windows and the final join —
    // cached (caller-released via [[graft.CacheScope.releaseAll]])
    val scored = graft.CacheScope.cache(
      ys.crossJoin(broadcast(xs))
        .select(col("xid"), col("yid"),
          safeCos(dot(col("xv"), col("yv")), col("xn") * col("yn")).as("cos"))
        .filter(finiteScore(col("cos")))) // zero-norm rows excluded
    val wx = Window.partitionBy(col("xid")).orderBy(col("cos").desc, col("yid"))
    val wy = Window.partitionBy(col("yid")).orderBy(col("cos").desc, col("xid"))
    val ax = scored.withColumn("r", row_number().over(wx))
      .filter(col("r") <= k).groupBy(col("xid")).agg(avg(col("cos")).as("axv"))
    val ay = scored.withColumn("r", row_number().over(wy))
      .filter(col("r") <= k).groupBy(col("yid")).agg(avg(col("cos")).as("ayv"))
    val m = scored.join(ax, Seq("xid")).join(ay, Seq("yid"))
      .withColumn("margin",
        round(col("cos") / ((col("axv") + col("ayv")) / 2), 6))
    val wm = Window.partitionBy(col("xid"))
      .orderBy(col("margin").desc, col("yid"))
    m.withColumn("rm", row_number().over(wm)).filter(col("rm") === 1)
      .select(col("xid"), col("yid"), col("margin"))
  }

  /** Random-hyperplane LSH bucket id: sign bits of `nBits` fixed pseudo-random
    * hyperplanes, as a single-pass native expression
    * ([[graft.exprs.HashExprs.HyperplaneLsh]] — the column formulation is an
    * nBits×dim-term interpreted tree). Hyperplanes derive deterministically
    * from the seed → no stored model, reproducible across runs.
    */
  def lshBucket(vec: Column, dim: Int, nBits: Int, seed: Long = 42L): Column =
    graft.exprs.HashExprs.hyperplane_lsh(vec, nBits, seed)

  /** LSH-bucketed approximate NN with OR-amplification: `tables`
    * independent hyperplane sets (distinct seeds), each multi-probed with
    * all 1-bit flips — a true neighbour is found if ANY table buckets it
    * near the query, which is what lifts recall from a single table's
    * ~0.4-0.6 to ≥0.8 at the same per-table occupancy.
    *
    * 100 TB shape: the corpus relation is exploded ×`tables` (the standard
    * LSH-forest storage trade), but it stays narrow — no shuffle; the query
    * side (tables × (nBits+1) probe rows per query) is broadcast, and only
    * (qid, id, cosine) triples reach the top-k shuffle. Per query the
    * scanned fraction is ≤ tables·(nBits+1)/2^nBits of the corpus.
    */
  def lshKnn(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qidCol: String, qvecCol: String,
             k: Int, dim: Int, nBits: Int = 8, tables: Int = 4,
             seed: Long = 42L): DataFrame = {
    // Seeds spaced by a prime so table hyperplanes are independent.
    def tableSeed(t: Int): Long = seed + t * 7919L
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("tb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"),
          lshBucket(col("v"), dim, nBits, tableSeed(t)).as("bucket"))
      }: _*)))
      .select(col("id"), col("v"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    // Query probes: per table, own bucket + all 1-bit flips.
    val probes = (0 until tables).flatMap { t =>
      val qb = lshBucket(col("q"), dim, nBits, tableSeed(t))
      (qb +: (0 until nBits).map(b =>
        qb.bitwiseXOR(shiftleft(lit(1L), b))))
        .map(p => struct(lit(t).as("t"), p.as("bucket")))
    }
    val q = queries.select(col(qidCol).as("qid"), asDouble(col(qvecCol)).as("q"))
      .withColumn("tb", explode(array(probes: _*)))
      .select(col("qid"), col("q"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    // A pair can surface through several tables; identical float-op sequence
    // ⇒ identical cosine bits, so distinct collapses duplicates before the
    // top-k window (without it row_number would rank the same id twice).
    val scored = c.join(broadcast(q), Seq("t", "bucket"))
      .select(col("qid"), col("id"), cosine(col("v"), col("q")).as("cosine"))
      .filter(finiteScore(col("cosine"))) // zero-norm/non-finite excluded
      .distinct()
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Catalyst-stats row-count estimate — a plan-time lookup, never a job
    * (the `df.count()` alternative scans the table once per invocation just
    * to size a parameter). Parquet exposes sizeInBytes; when exact rowCount
    * stats are absent, divide by the caller's average-row-size estimate.
    * Sizing knobs (LSH occupancy) only need the order of magnitude.
    *
    * Sources with NO real stats report the `spark.sql.defaultSizeInBytes`
    * sentinel (Long.MaxValue by default) as sizeInBytes; treating that as a
    * measurement would estimate n≈10^16 rows and size LSH to ~2^50 buckets,
    * silently collapsing recall. Such plans fall back to `fallbackRows`
    * (a deliberately modest default: under-partitioned LSH scans more than
    * needed but stays correct, over-partitioned loses recall).
    */
  def approxRowCount(df: DataFrame, avgRowBytes: Long,
                     fallbackRows: Long = 1L << 20): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    val default = BigInt(
      df.sparkSession.conf.get("spark.sql.defaultSizeInBytes",
        Long.MaxValue.toString))
    stats.rowCount.map(_.toLong).getOrElse {
      if (stats.sizeInBytes >= default) fallbackRows
      else math.max(1L, stats.sizeInBytes.toLong / math.max(1L, avgRowBytes))
    }
  }

  /** Cosine-threshold near-duplicate pairs within blocks, with a hard guard
    * against quadratic blow-up. Blocks holding at most `maxExactBlock`
    * vectors are verified exactly (all pairs within the block — the
    * verification-stage shape); larger blocks are routed through
    * hyperplane-LSH bucket candidates (multi-probe, 1-bit flips) with exact
    * cosine verification.
    *
    * Dense vectors admit no exact sub-quadratic threshold join, so the
    * oversized-block tier trades recall (documented < 1, tunable via
    * `nBits`) for a hard bound: no block can cost more than
    * max(maxExactBlock², n·(nBits+1)/2^nBits) comparisons. At 100 TB a hot
    * label with millions of vectors costs ~n·candidates-per-bucket instead
    * of n².
    *
    * Returns (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold-1e-6
    * (callers round and apply the exact threshold).
    */
  def cosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
                         blockCol: String, threshold: Double,
                         maxExactBlock: Int = 4096, nBits: Int = 8,
                         seed: Long = 42L,
                         maxPairsBudget: Long = Similarity.DefaultPairsBudget): DataFrame = {
    val tEff = threshold - 1e-6
    // Cached (guide §2.4): this projected relation feeds SIX consumers —
    // the block-size aggregate, the pair-budget guard job, both sides of
    // the exact tier's self-join, and both sides of the LSH tier — so
    // uncached it re-ran the corpus scan + norm projection up to 8× per
    // invocation (round-22 ScanAudit: d_embed_neardup 8 parquet scans of
    // embeddings). Caller-released via CacheScope.releaseAll; the budget
    // guard's head() below materializes it before the joins fan out.
    // Serialized, as nbScoreLabeled's: the relation is corpus-sized, so
    // its blocks stay serialized rather than holding per-batch object
    // headers on-heap.
    val e = graft.CacheScope.cache(
      df.select(col(blockCol).as("blk"), col(idCol).as("id"),
          asDouble(col(vecCol)).as("v"))
        .withColumn("nrm", norm(col("v"))),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // One tiny row per block; joining it back is broadcast-sized under
    // AQE. Cached too: consumed by the guard job and the tagged join.
    val sizes = graft.CacheScope.cache(
      e.groupBy(col("blk")).agg(count(lit(1)).as("__blk_n")))
    // ENFORCED pair budget on the EXACT tier (the LSH tier's work is
    // bucket-bounded by construction): one lightweight aggregate over the
    // per-block counts — a (blk) column scan, the price of turning the
    // documented "blocks stay bounded" convention into a contract.
    val exactPairs = sizes.filter(col("__blk_n") <= maxExactBlock)
      .agg(coalesce(sum(col("__blk_n") * (col("__blk_n") - lit(1L))), lit(0L))
        .as("p"))
      .head().getLong(0) / 2
    if (exactPairs > maxPairsBudget)
      throw new IllegalArgumentException(
        s"cosinePairsBlocked: the exact tier's blocked pair count " +
          s"$exactPairs exceeds maxPairsBudget=$maxPairsBudget. Lower " +
          "maxExactBlock so oversized blocks take the LSH tier, shrink " +
          "the blocks (finer blockCol / more ivfAssign cells), or raise " +
          "maxPairsBudget explicitly if the cost is intended.")
    val tagged = e.join(sizes, Seq("blk"))
    def scorePair(): Seq[Column] = Seq(
      col("a.id").as("id_a"), col("b.id").as("id_b"),
      safeCos(dot(col("a.v"), col("b.v")), col("a.nrm") * col("b.nrm"))
        .as("cosine"))
    val small = tagged.filter(col("__blk_n") <= maxExactBlock)
    val exact = small.alias("a").join(small.alias("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(scorePair(): _*)
    val big = tagged.filter(col("__blk_n") > maxExactBlock)
      .withColumn("bucket", graft.exprs.HashExprs.hyperplane_lsh(col("v"), nBits, seed))
    // Multi-probe on one side: a pair lands together iff their buckets are
    // within Hamming distance 1 (XOR-symmetric, so one-sided probing covers
    // both directions).
    val probed = big.withColumn("bucket", explode(array(
        (col("bucket") +: (0 until nBits).map(i =>
          col("bucket").bitwiseXOR(shiftleft(lit(1L), i)))): _*)))
    val approx = probed.alias("a").join(big.alias("b"),
        col("a.blk") === col("b.blk") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(scorePair(): _*)
      .distinct() // same pair via several probes: identical cosine bits
    // finiteScore, not just the threshold: NaN >= tEff is TRUE under
    // Spark's total ordering, so a dot-overflow pair would survive the
    // threshold alone
    exact.unionAll(approx)
      .filter(finiteScore(col("cosine")) && col("cosine") >= tEff)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = coarse k-means clustering + within-cluster cosine
    * threshold. A vector is a duplicate iff some LOWER-id vector in the
    * same cell is within `tau` cosine; the min-id representative of each
    * ε-neighborhood survives (a deterministic stand-in for the paper's
    * keep-farthest-from-centroid tiebreak, which DuckDB can then mirror
    * bit-for-bit). Returns the DROPPED rows: (id, dup_of, cos) where
    * `dup_of` is the smallest qualifying lower id.
    *
    * 100 TB shape (the paper's own argument): the cluster count scales
    * with the corpus so cell size stays roughly constant — the quadratic
    * tier is bounded per cell, and the pair join is cell-keyed, never
    * all-pairs. Composes [[ivfAssign]] (scan-stage assignment against
    * broadcast centroids) with [[cosinePairsBlocked]] (which adds the
    * LSH overflow guard for cells that still exceed `maxExactBlock`).
    * Only (id_a, id_b, cosine) scalars reach the keep-min shuffle.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Seq[Double]], tau: Double,
                    maxExactBlock: Int = 4096): DataFrame = {
    // The pair join below references the assigned relation from several
    // branches (both self-join sides + the block-size aggregate); persist
    // it so the k-centroid assignment expression — k zip_with/dot chains
    // per row — evaluates once per row, not once per branch.
    // Caller-released via [[graft.CacheScope.releaseAll]].
    val assigned = graft.CacheScope.cache(ivfAssign(
      corpus.select(col(idCol), col(vecCol)), vecCol, centroids))
    cosinePairsBlocked(assigned, idCol, vecCol, "cell", tau, maxExactBlock)
      .filter(col("cosine") >= tau)
      .groupBy(col("id_b").as("id"))
      // min over (id_a, cosine) structs = row of the smallest id_a; ids are
      // distinct so the cosine rides along uniquely
      .agg(min(struct(col("id_a"), col("cosine"))).as("m"))
      .select(col("id"), col("m.id_a").as("dup_of"),
        round(col("m.cosine"), 6).as("cos"))
  }

  /** Symmetric int8 quantization scale for a vector: 127 / max|x| (0 for an
    * all-zero vector). Training-data pipelines quantize embedding columns
    * to int8 for 4× storage/shuffle reduction at 100 TB; the scale rides
    * alongside for dequantization. Pure column expressions — runs in the
    * scan stage, no shuffle.
    */
  def int8Scale(vec: Column): Column = {
    val m = array_max(transform(vec, abs(_)))
    when(m === 0.0, lit(0.0)).otherwise(lit(127.0) / m)
  }

  /** Quantize a double-array vector to int8 values with the given scale
    * (round-half-away-from-zero, matching SQL ROUND semantics).
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    // try_cast: a NaN component (or an Infinity one, whose 0.0 scale makes
    // Inf*0 = NaN) quantizes to NULL instead of CAST_OVERFLOW-aborting the
    // batch — callers' aggregates then null the whole signature
    transform(vec, x => round(x * scale, 0).try_cast("int"))

  /** Train IVF centroids: Lloyd's k-means on a driver-side bounded sample —
    * the 100 TB pattern (model small, data never collected: the `.collect()`
    * here fetches at most `sampleN` vectors once, at fit time).
    *
    * The sample is LAYOUT-INDEPENDENT: the `sampleN` vectors with the
    * smallest content hash (`xxhash64` of the vector), fetched via
    * orderBy+limit (per-partition top-N merge, no global sort shuffle) —
    * `limit().collect()` alone takes rows in partition order, which
    * changes under repartitioning/compaction and would silently break the
    * "deterministic, reproducible centroids" contract. The collected rows
    * are hash-ordered, so shuffle-seeded init is reproducible too; empty
    * cells keep their previous center. Returns centroids for
    * [[ivfAssign]] / [[ivfKnn]].
    */
  def kmeansFit(df: DataFrame, vecCol: String, k: Int, iters: Int = 10,
                sampleN: Int = 10000, seed: Long = 42L,
                maxDriverVectors: Int = Similarity.DefaultDriverVectorBudget): Seq[Seq[Double]] = {
    if (sampleN > maxDriverVectors)
      throw new IllegalArgumentException(
        s"kmeansFit: sampleN=$sampleN exceeds maxDriverVectors=" +
          s"$maxDriverVectors. The fit sample is driver-held; shrink " +
          "sampleN or raise maxDriverVectors explicitly if a sample " +
          "this size is intended.")
    val sample = df.select(asDouble(col(vecCol)).as("v"))
      .withColumn("__h", xxhash64(col("v")))
      .orderBy(col("__h"))
      .limit(sampleN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k, s"sample ${sample.length} smaller than k=$k")
    val dim = sample.head.length
    // farthest-first (Gonzalez) seeding: first center drawn by seed, each
    // further center the sample point farthest from all chosen ones — the
    // public 2-approximation for k-center, deterministic given the
    // hash-ordered sample (random draws over a reordered sample would not
    // be), and immune to the merged-cluster starts plain random init hits
    val rnd = new scala.util.Random(seed)
    val centers = new Array[Array[Double]](k)
    centers(0) = sample(rnd.nextInt(sample.length)).clone
    val minD = Array.fill(sample.length)(Double.MaxValue)
    for (c <- 1 until k) {
      var farthest = 0; var farD = -1.0
      var s = 0
      while (s < sample.length) {
        var d = 0.0; var i = 0
        while (i < dim) {
          val t = sample(s)(i) - centers(c - 1)(i); d += t * t; i += 1
        }
        if (d < minD(s)) minD(s) = d
        if (minD(s) > farD) { farD = minD(s); farthest = s }
        s += 1
      }
      centers(c) = sample(farthest).clone
    }
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i) - centers(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearest(v); counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centers(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
    }
    centers.map(_.toSeq).toSeq
  }

  /** IVF-style coarse quantization: assign each corpus vector to its nearest
    * of `centroids` (broadcast), partition by cell; queries probe `nProbe`
    * nearest cells. Centroids come from a driver-side sample (k-means iters
    * over a sample — the 100 TB pattern: model small, data never collected).
    */
  def ivfAssign(corpus: DataFrame, vecCol: String,
                centroids: Seq[Seq[Double]]): DataFrame =
    // One native expression holding the centroid matrix (scan-stage, no
    // shuffle) — same (v−c)² sequential arithmetic and lowest-index tie
    // rule as the former k-branch struct+least formulation, but without
    // putting k·dim literals and 2k interpreted lambdas into the plan
    // (which cost more to ANALYZE than to run at k = 32; PLANS.md round 8).
    corpus.withColumn("cell",
      graft.exprs.HashExprs.nearest_centroid(asDouble(col(vecCol)), centroids))

  /** IVF approximate NN: corpus vectors are pre-assigned to their nearest
    * centroid cell ([[ivfAssign]]); each query probes its `nProbe` nearest
    * cells and takes an exact top-k within them. Deterministic given the
    * centroids (ties broken by cell id) — no hashing involved.
    *
    * 100 TB shape: the corpus partitioned/bucketed by `cell` makes the
    * probe join a pruned scan of nProbe/nCells of the data; queries
    * (exploded ×nProbe) are broadcast; only (qid, id, cosine) triples reach
    * the top-k shuffle. Centroids are a driver-side bounded model.
    */
  def ivfKnn(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qidCol: String, qvecCol: String,
             centroids: Seq[Seq[Double]], nProbe: Int, k: Int): DataFrame = {
    val assigned = ivfAssign(corpus, vecCol, centroids)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"), col("cell"))
      .withColumn("vn", norm(col("v")))
    val dists = centroids.zipWithIndex.map { case (cvec, i) =>
      val c = typedLit(cvec)
      struct(dot(zip_with(col("q"), c, (a, b) => a - b),
        zip_with(col("q"), c, (a, b) => a - b)).as("d2"), lit(i).as("cell"))
    }
    val probed = queries
      .select(col(qidCol).as("qid"), asDouble(col(qvecCol)).as("q"))
      .withColumn("qn", norm(col("q")))
      .withColumn("pc",
        explode(slice(array_sort(array(dists: _*)), 1, nProbe)))
      .withColumn("cell", col("pc.cell")).drop("pc")
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .select(col("qid"), col("id"),
        safeCos(dot(col("v"), col("q")), col("vn") * col("qn")).as("cosine"))
      .filter(finiteScore(col("cosine"))) // zero-norm/non-finite excluded
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Per-label centroid diagnostics over an embedding column: cluster
    * size, mean squared norm, and inertia (mean squared distance to the
    * label's centroid) — the k-means quality numbers an embedding-curation
    * pipeline tracks per shard/class. Inertia uses the algebraic identity
    * E‖x − μ‖² = E‖x‖² − ‖μ‖², so NO second pass joins the centroid back
    * to the vectors. Returns (label, n, mean_sqnorm, inertia).
    *
    * Scale: one aggregation over (label, dim) cells for the centroid (rows
    * = |labels|·dim, map-side combined) and one over labels for the norms;
    * vectors themselves never shuffle — per-row squared norms fold in the
    * scan stage (sequential `aggregate`, deterministic order). The
    * (label, dim) shuffle keys are uniform by construction — no skew.
    */
  def centroidStats(emb: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val e = emb.select(col(labelCol).as("label"),
      col(vecCol).cast("array<double>").as("v"))
    val norms = e.select(col("label"),
        aggregate(col("v"), lit(0.0), (a, x) => a + x * x).as("sq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), avg(col("sq")).as("m2"))
    val mu2 = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i")).agg(avg(col("x")).as("m"))
      .groupBy(col("label")).agg(sum(col("m") * col("m")).as("mu2"))
    norms.join(mu2, Seq("label"))
      .select(col("label"), col("n"), round(col("m2"), 6).as("mean_sqnorm"),
        round(col("m2") - col("mu2"), 6).as("inertia"))
  }

  /** Product quantization encode (Jégou, Douze, Schmid — TPAMI 2011,
    * "Product Quantization for Nearest Neighbor Search"): split each
    * `dim`-vector into `m` subvectors and replace each with the index of
    * its nearest sub-centroid, compressing a vector to `m` small codes —
    * with IVF, the standard storage layout for billion-scale ANN
    * (IVF-PQ). `codebook` is K full-dim seed vectors; subspace `mi`'s
    * sub-codebook is their [mi·sub, (mi+1)·sub) slices.
    *
    * Returns (id, codes array<int>). Scale: per-subspace assignment is
    * the [[graft.exprs.HashExprs.nearest_centroid]] native expression on
    * a sliced vector — m scan-stage expressions per row, no shuffle, no
    * UDF; the codebook is a driver-side bounded model (K·dim doubles).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebook: Seq[Seq[Double]], m: Int): DataFrame = {
    val dim = codebook.head.length
    val sub = dim / m
    require(m * sub == dim, s"m=$m must divide dim=$dim")
    val v = asDouble(col(vecCol))
    val codes = (0 until m).map { mi =>
      graft.exprs.HashExprs.nearest_centroid(
        slice(v, mi * sub + 1, sub),
        codebook.map(_.slice(mi * sub, (mi + 1) * sub)))
    }
    df.select(col(idCol).as("id"),
      array(codes.map(_.cast("int")): _*).as("codes"))
  }

  /** PQ asymmetric-distance (ADC) top-k: queries stay exact; each corpus
    * vector is its `m` codes. Per query, a distance table T[mi][c] =
    * ‖q_mi − cb[c]_mi‖² is computed once (m·K doubles), and a candidate's
    * approximate distance is the sum of m table lookups — no corpus-side
    * float math at all.
    *
    * 100 TB shape: the corpus side carries only (id, m codes ≈ m bytes);
    * queries ride with their tables in a broadcast; only (qid, id, adc)
    * reaches the per-query top-k. Deterministic given the codebook (table
    * lookups, lowest-id ties) — fully oracle-checkable, like IVF and
    * unlike LSH.
    */
  def pqKnn(corpus: DataFrame, idCol: String, vecCol: String,
            queries: DataFrame, qidCol: String, qvecCol: String,
            codebook: Seq[Seq[Double]], m: Int, k: Int): DataFrame = {
    val dim = codebook.head.length
    val sub = dim / m
    val codes = pqEncode(corpus, idCol, vecCol, codebook, m)
    val table = array((0 until m).map { mi =>
      array(codebook.indices.map { c =>
        val cl = typedLit(codebook(c).slice(mi * sub, (mi + 1) * sub))
        val dv = zip_with(slice(col("q"), mi * sub + 1, sub), cl, (a, b) => a - b)
        dot(dv, dv)
      }: _*)
    }: _*)
    val qt = queries
      .select(col(qidCol).as("qid"), asDouble(col(qvecCol)).as("q"))
      .withColumn("t", table).drop("q")
    // subspace lookups summed in fixed mi order (the oracle mirrors it)
    val adc = (0 until m).map(mi =>
      element_at(element_at(col("t"), mi + 1),
        col("codes").getItem(mi) + lit(1))).reduce(_ + _)
    val scored = codes.crossJoin(broadcast(qt))
      .select(col("qid"), col("id"), adc.as("adc"))
      // a null-embedding corpus vector has NULL codes -> NULL adc; exclude
      // it from ranking (ascending sort is NULLS FIRST, so it would
      // otherwise take rank 1) — the module's uniform null-scored-row
      // exclusion contract (see knnGraph)
      .filter(col("adc").isNotNull)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("adc"), col("rank"))
  }

  /** Two-stage PQ retrieval: ADC shortlist then EXACT cosine re-rank of
    * only the shortlisted candidates — the production IVF-PQ serving
    * pattern (Jégou TPAMI 2011 §VII: ADC orders approximately; re-ranking
    * the top-R with exact distances recovers near-exact quality at
    * R ≈ 2–10·k while corpus-wide math stays table lookups).
    *
    * Scale: stage 1 is [[pqKnn]] — the corpus side carries only (id,
    * m byte-sized codes). The shortlist is queries×R (qid, id) pairs —
    * tiny — and is BROADCAST into a probe of the corpus scan, so full
    * vectors are fetched (and exact float math runs) for queries×R rows
    * only; the corpus never shuffles and never computes exact distances
    * outside its shortlist membership. Ties on exact cosine break to the
    * lowest id, so the result is fully oracle-checkable like [[pqKnn]].
    */
  def pqKnnRerank(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qidCol: String, qvecCol: String,
                  codebook: Seq[Seq[Double]], m: Int, k: Int,
                  shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val short = pqKnn(corpus, idCol, vecCol, queries, qidCol, qvecCol,
        codebook, m, shortlist)
      .select(col("qid"), col("id"))
    exactRerank(corpus, idCol, vecCol, queries, qidCol, qvecCol, short, k)
  }

  /** IVF-PQ shortlist + exact rerank — the COMPLETE FAISS serving path
    * (coarse cells → residual ADC shortlist → exact cosine on the
    * shortlist only; Jégou §VII): [[ivfPqKnn]] supplies the top-R
    * candidates, [[exactRerank]] the final ordering. Exact float math
    * touches queries×R vectors; the corpus never shuffles and only its
    * shortlist members are ever re-read.
    */
  def ivfPqKnnRerank(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     centroids: Seq[Seq[Double]], codebook: Seq[Seq[Double]],
                     m: Int, nProbe: Int, k: Int,
                     shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val short = ivfPqKnn(corpus, idCol, vecCol, queries, qidCol, qvecCol,
        centroids, codebook, m, nProbe, shortlist)
      .select(col("qid"), col("id"))
    exactRerank(corpus, idCol, vecCol, queries, qidCol, qvecCol, short, k)
  }

  /** Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    * Goldstein, SIGIR 1998): greedily select `k` of the top-`shortlist`
    * candidates, each step maximizing λ·rel(c) − (1−λ)·max_{s∈S}
    * sim(c, s) — relevance traded against redundancy with what is
    * already selected; the de-duplicating re-rank step retrieval-
    * augmented pipelines run so near-identical passages don't crowd the
    * context window. Ties break to the lowest id; every cosine follows
    * the brute-force float-op order, so the greedy argmax sequence is
    * bit-deterministic and hash-oracle-able.
    *
    * 100 TB shape: the expensive part is the shortlist retrieval
    * (swap [[bruteForceKnn]] for [[pqKnnRerank]]/[[ivfPqKnnRerank]] at
    * corpus scale — same (qid, id, rel) contract); the greedy loop
    * itself touches queries × shortlist² candidate pairs — broadcast-
    * sized — through `k` bounded join+window rounds. Returns
    * (qid, id, mmr_rank).
    */
  def mmrDiversify(corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, qidCol: String, qvecCol: String,
                   k: Int, shortlist: Int,
                   lambda: Double = 0.5): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cand = graft.CacheScope.cache(
      bruteForceKnn(corpus, idCol, vecCol, queries, qidCol, qvecCol,
          shortlist)
        .select(col("qid"), col("id"), col("cosine").as("rel")))
    val vecs = corpus.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("vv"))
    // pairwise sims among each query's candidates: queries × R² rows
    val pairSims = graft.CacheScope.cache(
      cand.select(col("qid"), col("id").as("a"))
        .join(cand.select(col("qid"), col("id").as("b")), Seq("qid"))
        .filter(col("a") =!= col("b"))
        .join(broadcast(vecs), col("a") === col("vid"))
        .withColumnRenamed("vv", "va").drop("vid")
        .join(broadcast(vecs), col("b") === col("vid"))
        .select(col("qid"), col("a"), col("b"),
          safeCos(dot(col("va"), col("vv")), norm(col("va")) * norm(col("vv")))
            .as("sim"))
        .filter(finiteScore(col("sim")))) // a NaN pair-sim would poison max-sim
    // The greedy loop's state (the selected set) is queries×k rows — the
    // SMALL broadcast side by this op's contract — so each round's picks
    // are collected and re-planted as a local relation. This is the
    // bounded model-fetch convention (codebooks, centroids), not a
    // corpus collect, and it keeps every round's plan CONSTANT-depth:
    // chaining DataFrame rounds instead compounds the anti-join lineage
    // so round t re-executes all t−1 prior windows (measured 32 s for
    // k=5 at sf0.01; constant-depth rounds run it in seconds).
    import org.apache.spark.sql.Row
    val spark = corpus.sparkSession
    val selSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        cand.schema("qid").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("id",
        cand.schema("id").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("mmr_rank",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    var selectedRows = Seq.empty[Row]
    (1 to k).foreach { step =>
      val selectedDf = spark.createDataFrame(
        spark.sparkContext.parallelize(selectedRows, 1), selSchema)
      val remaining = cand.join(selectedDf.select(col("qid"), col("id")),
        Seq("qid", "id"), "left_anti")
      val msim =
        if (selectedRows.isEmpty) remaining.withColumn("msim", lit(0.0))
        else {
          val mx = pairSims.join(
              selectedDf.select(col("qid"), col("id").as("b")),
              Seq("qid", "b"))
            .groupBy(col("qid"), col("a")).agg(max(col("sim")).as("ms"))
            .select(col("qid").as("mqid"), col("a").as("mid"), col("ms"))
          remaining.join(mx,
              remaining("qid") === col("mqid") && remaining("id") === col("mid"),
              "left")
            .select(remaining("qid"), remaining("id"), remaining("rel"),
              coalesce(col("ms"), lit(0.0)).as("msim"))
        }
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("id"))
      val picked = msim.withColumn("score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("msim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("qid"), col("id"))
        .collect()
      selectedRows = selectedRows ++
        picked.map(r => Row(r.get(0), r.get(1), step))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(selectedRows, 1), selSchema)
  }

  /** Shared exact-cosine rerank stage behind [[pqKnnRerank]] and
    * [[ivfPqKnnRerank]]: the (qid, id) shortlist is broadcast into a
    * probe of the corpus scan, so full vectors are fetched (and exact
    * float math runs) for queries×R rows only; ties break to the lowest
    * id — fully oracle-checkable.
    */
  private def exactRerank(corpus: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, qidCol: String, qvecCol: String,
                          short: DataFrame, k: Int): DataFrame = {
    val cand = corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .join(broadcast(short), Seq("id"))
    val scored = cand.join(broadcast(
        queries.select(col(qidCol).as("qid"), asDouble(col(qvecCol)).as("q"))),
        Seq("qid"))
      .select(col("qid"), col("id"),
        safeCos(dot(col("v"), col("q")), norm(col("v")) * norm(col("q")))
          .as("cosine"))
      .filter(finiteScore(col("cosine"))) // zero-norm/non-finite excluded
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Integer-exact PageRank over the exact kNN graph ([[knnGraph]]):
    * embedding-space centrality — hub documents whose neighbourhoods are
    * dense rank high; used for coreset selection and as the
    * graph-quality propagation signal SemDeDup-style pipelines threshold
    * on. Fixed `iters` power iterations with damping 0.85.
    *
    * ALL rank arithmetic is 64-bit integer (ranks scaled to 10^12, the
    * per-edge contribution and the damping both integer divisions):
    * integer division is identical in every engine and independent of
    * summation order, so T iterations hash-oracle exactly — the FP
    * formulation diverges across engines on the order the incoming
    * contributions are summed (the lesson every FP-threshold surface in
    * this repo has paid for once). The truncation deliberately leaks a
    * few units of mass per division; ranking is unaffected and
    * determinism is total.
    *
    * 100 TB shape: per iteration ONE edge-keyed join (ranks are (node,
    * long) pairs — vectors never enter) and one map-side-combinable
    * BIGINT sum; `iters` is a small constant. Same bounded-rounds shape
    * as the connected-components dedup. The kNN edge build is the
    * expensive exact tier (see [[knnGraph]]'s scale note — swap in
    * LSH/IVF candidates at corpus scale; the iteration shape is
    * unchanged).
    */
  def pageRankKnn(corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int = 3, iters: Int = 3, blocks: Int = 8): DataFrame = {
    // edges cached FIRST and materialized (via the nodes.count() below)
    // BEFORE anything references it twice: a pre-joined (src, dst, od)
    // single relation was tried in r21 and referenced the un-cached
    // kNN-graph plan on both sides of its self-join — the expensive
    // block-pair join built TWICE on a cold cache (11.7 s vs 1.1 s;
    // the dedupClusters materialize-once lesson, re-learned).
    val edges = graft.CacheScope.cache(
      knnGraph(corpus, idCol, vecCol, k, blocks)
        .select(col("id").as("src"), col("nbr").as("dst")))
    // out-degrees are iteration-invariant: cached once off the edge cache
    // (previously re-aggregated+joined inside every power iteration —
    // guide §1.2, hoist loop-invariant work).
    val outdeg = graft.CacheScope.cache(
      edges.groupBy(col("src")).agg(count(lit(1)).as("od")))
    val nodes = graft.CacheScope.cache(
      edges.select(col("src").as("node")).distinct())
    // one count job sizes the teleport constant (the s_knn_lsh
    // exact-metadata-count convention — never a plan-stats estimate);
    // it also materializes the edges cache before the rounds fan out
    // over it
    val n = nodes.count()
    // empty kNN graph (empty corpus, or no vector yielded an edge):
    // PageRank of nothing is nothing — and the teleport constant below
    // would divide by zero
    if (n == 0L)
      return nodes.select(col("node").as("id"), lit(0L).as("pr"))
    val r0 = 1000000000000L / n
    val teleport = (r0 * 15L) / 100L
    // The rank chain stays LAZY lineage (no per-round cache/LogicalRDD
    // wrap): at the fixed iters=3 the chained plan is shallow, and an
    // r21 A/B of per-round cache + lineage truncation (the bpeTrain
    // convention) measured 1.5-1.7x SLOWER warm — three extra cache
    // materializations per invocation outweigh the saved analysis of a
    // 3-round tree. A caller running MANY iterations is the case the
    // truncation convention exists for; reintroduce it there, not here.
    var pr = nodes.select(col("node"), lit(r0).as("pr"))
    (1 to iters).foreach { _ =>
      val contrib = edges.join(outdeg, Seq("src"))
        .join(pr, col("src") === col("node"))
        .select(col("dst"), expr("pr div od").as("c"))
      pr = nodes.join(
          contrib.groupBy(col("dst")).agg(sum(col("c")).as("s")),
          col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
    }
    pr.select(col("node").as("id"), col("pr"))
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions with
    * a deterministic ±1 sign matrix (Achlioptas 2003, "Database-friendly
    * random projections": Rademacher entries satisfy the JL distortion
    * bound with the same guarantees as Gaussian matrices at a fraction
    * of the compute). The matrix is splitmix64-derived exactly like
    * [[lshBucket]]'s hyperplanes, so it needs no stored model and no
    * randomness service — any worker regenerates entry (b, d) from the
    * seed. y_b = (Σ_d v_d · s_{b,d}) / √outDim preserves norms and
    * pairwise distances in expectation — the cheap front-end for dedup /
    * clustering / ANN over embeddings whose full dimension is too wide
    * to shuffle.
    *
    * 100 TB shape: pure scan-stage column arithmetic (`outDim` native
    * VecDot expressions per row) — no shuffle, no model join, no driver
    * state beyond the integer seed; the projected corpus shuffles at
    * outDim/dim of the original vector bytes. Returns (id, y0..y(B-1)).
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int, seed: Long = 42L): DataFrame = {
    val v = asDouble(col(vecCol))
    // SAME splitmix64 scramble as HashExprs.HyperplaneLsh's sign matrix
    // (and HyperplaneOracleSql's proven SQL mirror)
    def sign(b: Int, d: Int): Double = {
      var z = seed + b * 0x9E3779B97F4A7C15L + d * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0 else -1.0
    }
    val scale = math.sqrt(outDim.toDouble)
    val proj = (0 until outDim).map { b =>
      (dot(v, typedLit(Seq.tabulate(dim)(d => sign(b, d)))) / lit(scale))
        .as(s"y$b")
    }
    df.select(col(idCol).as("id") +: proj: _*)
  }

  /** Residual IVF-PQ top-k (Jégou TPAMI 2011 §V — the FAISS `IVFPQ`
    * index): corpus vectors are coarse-assigned to their nearest
    * centroid cell ([[ivfAssign]]) and the RESIDUAL v − centroid(cell)
    * is PQ-encoded — residuals are far smaller than raw vectors, so the
    * same codebook quantizes them much more accurately (the reason
    * production billion-scale indexes encode residuals, not vectors).
    * Each query probes its `nProbe` nearest cells; per probed cell it
    * builds an ADC table from its OWN residual q − centroid(cell), and
    * candidates in that cell score as m table lookups. Deterministic
    * given centroids + codebook (lowest-index/lowest-id ties) — fully
    * oracle-checkable like [[ivfKnn]]/[[pqKnn]].
    *
    * 100 TB shape: the corpus carries only (id, cell, m small codes) —
    * vectors are read once in the scan stage and never shuffle;
    * partitioned/bucketed by `cell` the probe join prunes to
    * nProbe/nCells of the data; the query side (queries × nProbe rows,
    * each with its m·K-double table) broadcasts; only (qid, id, adc)
    * triples reach the per-query top-k. Centroids and codebook are
    * driver-side bounded models.
    */
  def ivfPqKnn(corpus: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, qidCol: String, qvecCol: String,
               centroids: Seq[Seq[Double]], codebook: Seq[Seq[Double]],
               m: Int, nProbe: Int, k: Int): DataFrame =
    ivfPqServe(ivfPqEncode(corpus, idCol, vecCol, centroids, codebook, m),
      queries, qidCol, qvecCol, centroids, codebook, m, nProbe, k)

  /** The INDEX-BUILD half of [[ivfPqKnn]]: coarse cell assignment +
    * m-subspace PQ codes of the residual v − centroid(cell), as
    * `(id, cell, codes)`. Split out (r19 VERDICT item 6) so an online
    * serving loop encodes the corpus ONCE — cached or persisted — and
    * each query micro-batch pays only [[ivfPqServe]]'s query-side work;
    * the fused [[ivfPqKnn]] plan re-encoded the full corpus per batch,
    * which at sf0.1 was ~90% of x_stream_knn's per-batch cost. */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Seq[Seq[Double]], codebook: Seq[Seq[Double]],
                  m: Int): DataFrame = {
    val dim = codebook.head.length
    val sub = dim / m
    require(m * sub == dim, s"m=$m must divide dim=$dim")
    val cmat = typedLit(centroids)
    // corpus: cell assignment, then PQ codes of the residual — all
    // scan-stage (nearest_centroid native exprs over sliced arrays)
    val resid = ivfAssign(corpus, vecCol, centroids)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"), col("cell"))
      .withColumn("r",
        zip_with(col("v"), element_at(cmat, col("cell") + 1), (a, b) => a - b))
    val codes = (0 until m).map { mi =>
      graft.exprs.HashExprs.nearest_centroid(
        slice(col("r"), mi * sub + 1, sub),
        codebook.map(_.slice(mi * sub, (mi + 1) * sub))).cast("int")
    }
    resid.select(col("id"), col("cell"), array(codes: _*).as("codes"))
  }

  /** The SERVING half of [[ivfPqKnn]]: probe `nProbe` cells per query,
    * build per-(query, cell) residual ADC tables, broadcast-join against
    * the coded corpus `enc` (`(id, cell, codes)` from [[ivfPqEncode]]),
    * per-query top-k. Per batch this is O(queries) broadcast work plus
    * one pass over the probed cells' codes — no corpus re-encode. */
  def ivfPqServe(enc: DataFrame,
                 queries: DataFrame, qidCol: String, qvecCol: String,
                 centroids: Seq[Seq[Double]], codebook: Seq[Seq[Double]],
                 m: Int, nProbe: Int, k: Int): DataFrame = {
    val dim = codebook.head.length
    val sub = dim / m
    require(m * sub == dim, s"m=$m must divide dim=$dim")
    val cmat = typedLit(centroids)
    // queries: nProbe nearest cells (same (d2, cell) sort as ivfKnn),
    // then a per-(query, cell) ADC table over the query's cell residual
    val dists = centroids.zipWithIndex.map { case (cvec, i) =>
      val c = typedLit(cvec)
      struct(dot(zip_with(col("q"), c, (a, b) => a - b),
        zip_with(col("q"), c, (a, b) => a - b)).as("d2"), lit(i).as("cell"))
    }
    val table = array((0 until m).map { mi =>
      array(codebook.indices.map { c =>
        val cl = typedLit(codebook(c).slice(mi * sub, (mi + 1) * sub))
        val dv = zip_with(slice(col("qr"), mi * sub + 1, sub), cl, (a, b) => a - b)
        dot(dv, dv)
      }: _*)
    }: _*)
    val qt = queries
      .select(col(qidCol).as("qid"), asDouble(col(qvecCol)).as("q"))
      .withColumn("pc", explode(slice(array_sort(array(dists: _*)), 1, nProbe)))
      .withColumn("cell", col("pc.cell")).drop("pc")
      .withColumn("qr",
        zip_with(col("q"), element_at(cmat, col("cell") + 1), (a, b) => a - b))
      .withColumn("t", table)
      .select("qid", "cell", "t")
    // subspace lookups summed in fixed mi order (the oracle mirrors it)
    val adc = (0 until m).map(mi =>
      element_at(element_at(col("t"), mi + 1),
        col("codes").getItem(mi) + lit(1))).reduce(_ + _)
    val scored = enc.join(broadcast(qt), Seq("cell"))
      .select(col("qid"), col("id"), adc.as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("adc"), col("rank"))
  }

  /** Exact self-kNN graph: every vector's top-k cosine neighbours plus a
    * mutual flag — the input graph for SemDeDup-style pruning, graph-based
    * quality propagation, and mutual-kNN clustering, where EVERY row is a
    * query so the broadcast-the-queries shape of [[bruteForceKnn]] no
    * longer applies.
    *
    * Plan: the block-pair equi-join formulation of the distributed exact
    * kNN join — each side replicates ×`blocks` onto synthetic (bi, bj)
    * keys, so every pair meets exactly once (src bucket i meets dst bucket
    * j in block (i,j)) through a plain shuffled equi-join: NO cartesian
    * node, no corpus broadcast. A per-block top-k window runs WITHOUT an
    * extra exchange (hash on (bi,bj) already satisfies the window's
    * clustering), so the final per-id merge shuffles at most blocks×k
    * scalar candidate rows per vector, never the O(n) raw scores.
    *
    * Scale: exact all-pairs is inherently n²·d compute — the block join
    * spreads it evenly (no skew: bucket = pmod(xxhash64(id))) at shuffle
    * cost n×blocks vector rows, the standard exact-baseline trade. At
    * corpus scale, cap compute by routing through [[ivfAssign]] cells and
    * running this per cell (SemDeDup does exactly that), or swap tier 1
    * for [[lshKnn]] candidates; the merge/top-k shape is unchanged.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               blocks: Int = 8,
               maxPairsBudget: Long = Similarity.DefaultPairsBudget): DataFrame = {
    // zero-norm vectors are EXCLUDED: their cosine is 0/0 = NaN, and
    // Spark sorts NaN above every double DESC, so a degenerate vector
    // would rank as everyone's top neighbour (while SQL engines yield
    // NULL, sorted last) — excluding them keeps the graph well-defined
    // and engine-independent.
    val slim = graft.CacheScope.cache(
      corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
        .withColumn("vn", norm(col("v")))
        .filter(col("vn") > 0))
    // ENFORCED eval-slice contract: exact all-pairs is n²·d compute, and
    // "evaluation slices only" was a documented convention — now a fail-
    // fast check. The count materializes the cache the join reuses, so
    // the guard costs one cache fill, not an extra scan.
    val n = slim.count()
    if (n > 1 && n - 1 > maxPairsBudget / n)
      throw new IllegalArgumentException(
        s"knnGraph: exact all-pairs over n=$n vectors is ${n}x${n - 1} " +
          s"candidate pairs, exceeding maxPairsBudget=$maxPairsBudget. " +
          "The exact tier is for evaluation slices; at corpus scale route " +
          "through the ANN tiers (lshKnn / ivfKnn / pqKnnRerank) or run " +
          "per-cell via ivfAssign (the SemDeDup shape), or raise " +
          "maxPairsBudget explicitly if the n² cost is intended.")
    val bkt = pmod(xxhash64(col("id")), lit(blocks))
    val js = explode(sequence(lit(0), lit(blocks - 1)))
    val src = slim.select(col("id").as("sid"), col("v").as("sv"),
      col("vn").as("svn"), bkt.as("bi"), js.as("bj"))
    val dst = slim.select(col("id").as("did"), col("v").as("dv"),
      col("vn").as("dvn"), js.as("bi"), bkt.as("bj"))
    val scored = src.join(dst, Seq("bi", "bj"))
      .filter(col("sid") =!= col("did"))
      .select(col("bi"), col("bj"), col("sid"), col("did"),
        (dot(col("sv"), col("dv")) / (col("svn") * col("dvn"))).as("cosine"))
    // partial top-k inside each block pair (sort-only: the join's
    // (bi,bj) partitioning already clusters the window's keys)
    val wLocal = Window.partitionBy(col("bi"), col("bj"), col("sid"))
      .orderBy(col("cosine").desc, col("did"))
    val partial = scored.withColumn("__r", row_number().over(wLocal))
      .filter(col("__r") <= k).select("sid", "did", "cosine")
    val w = Window.partitionBy(col("sid"))
      .orderBy(col("cosine").desc, col("did"))
    val edges = graft.CacheScope.cache(
      partial.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k))
    // mutual = the reverse edge is also in the graph (both directions
    // survive their own top-k) — the mutual-kNN pruning signal
    val rev = edges.select(col("did").as("sid"), col("sid").as("did"),
      lit(1).as("__m"))
    edges.join(rev, Seq("sid", "did"), "left")
      .select(col("sid").as("id"), col("did").as("nbr"), col("cosine"),
        col("rank"), col("__m").isNotNull.cast("int").as("mutual"))
  }
}
