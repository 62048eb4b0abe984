package graft.pack

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-batch assembly operators: sequence packing and deterministic
  * source mixing — the last-mile steps between a filtered corpus and a
  * training dataloader.
  */
object Packing {

  /** Concat-and-chop sequence packing: documents, taken in deterministic
    * id order, are laid head-to-tail into an infinite token tape; context
    * window `capacity` chops the tape, and each document is assigned the
    * window its FIRST token lands in. The GPT-style packing scheme (Brown
    * et al. 2020 §2.2 pack-to-2048; the T5 "pack examples" input pipeline).
    * Returns (id, n_toks, bin, bin_off). Rows whose id is null are left
    * out: an id-ordered tape has no place for them, and their tokens must
    * not shift anyone else's offset.
    *
    * Scalable global cumulative sum: a bare `Window.orderBy(id)` funnels
    * the whole corpus through ONE task — the classic global-sort bottleneck.
    * Instead the cumsum is two-level ([[cumulativeTokens]]): contiguous id
    * RANGES of `rangeSize` ids aggregate their token sums (slim
    * (range, sum) shuffle with map-side combine), the range list
    * prefix-sums in a window ordered by range and broadcast-joins back,
    * and within-range cumsums run as a window PARTITIONED BY range,
    * parallel across ranges. No stage sees more than one range of
    * documents in one task (the range-prefix window sees corpus/rangeSize
    * slim rows, never documents), and building the plan runs no job.
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    capacity: Long, rangeSize: Long = 4096): DataFrame =
    packByLength(
      // null text counts as zero-length (kite missing-field semantics):
      // a null n_toks would otherwise null-poison bin/bin_off for the row
      df.select(col(idCol).as("__id"),
        coalesce(TextAnalysis.tokenCount(col(textCol)), lit(0)).as("__len")),
      "__len", "__id", capacity, rangeSize)

  /** [[packSequences]] over a PRECOMPUTED length column — the form a real
    * pipeline uses once lengths come from an actual tokenizer
    * ([[graft.text.CorpusStats.bpeEncode]]'s `n_subwords`) rather than
    * whitespace counting. Same two-level prefix sum, same output columns.
    */
  def packByLength(df: DataFrame, lenCol: String, idCol: String,
                   capacity: Long, rangeSize: Long = 4096): DataFrame = {
    // cached (caller-released): tc feeds the range aggregate AND the join
    // probe — uncached, the caller's length pipeline evaluated once per
    // consumer (p_pack_bpe's BPE-encode chain ran TWICE per invocation;
    // selectWithinBudget already caches its tc for the same reason).
    // Three slim long columns per document.
    val tc = graft.CacheScope.cache(
      df.select(col(idCol).cast("long").as("id"),
          col(lenCol).cast("long").as("n_toks"))
        .filter(col("id").isNotNull)
        .withColumn("rng", expr(s"id div $rangeSize")))
    cumulativeTokens(tc, "rng", col("rng"))
      .withColumn("bin", expr(s"(cum_end - n_toks) div $capacity"))
      // where in its window the doc STARTS — the dataloader needs this to
      // place attention/loss-mask boundaries without re-counting tokens
      .withColumn("bin_off", expr(s"(cum_end - n_toks) % $capacity"))
      .select(col("id"), col("n_toks"), col("bin"), col("bin_off"))
  }

  /** The two-level cumulative token sum behind [[packByLength]] and
    * [[selectWithinBudget]] (the scan-then-propagate prefix sum, Blelloch
    * 1990): `tc`'s (id, n_toks) rows are grouped by `key`; each key's
    * token total prefix-sums over all keys before it in `order`, and
    * joins back to its rows, where a window partitioned by `key` adds the
    * running sum in id order. Returns `tc`'s columns plus `prefix` and
    * `cum_end`, the tape offset just past the row's last token. The
    * prefix join is an explicit broadcast for the lengthBuckets reason:
    * the key relation is bounded (id ranges, rounded scores), but its size
    * estimate inherits the corpus scan's.
    */
  private def cumulativeTokens(tc: DataFrame, key: String,
                               order: Column): DataFrame = {
    val prefix = tc.groupBy(col(key)).agg(sum(col("n_toks")).as("rs"))
      .select(col(key),
        coalesce(sum(col("rs")).over(Window.orderBy(order)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("prefix"))
    tc.join(broadcast(prefix), Seq(key))
      .withColumn("cum_end", col("prefix") + sum(col("n_toks"))
        .over(Window.partitionBy(col(key)).orderBy(col("id"))))
  }

  /** Length-quantile bucket assignment — the dynamic-batching /
    * curriculum dimension every dataloader wants: group documents of
    * similar token length so a batch pads to its bucket's max, not the
    * corpus max. Returns (id, n_toks, bucket) with `buckets` roughly
    * equal-population buckets, every same-length document in the SAME
    * bucket (the boundary is drawn between length values, never through
    * one), assignment by the length histogram's cumulative midpoint.
    *
    * Why not `ntile` over the corpus: a global per-row window funnels
    * 100 TB of rows through ONE task. The scale shape here is two-level
    * like [[packSequences]]: the corpus reduces to a LENGTH HISTOGRAM
    * (map-side combined; bounded by distinct lengths, ~10^4 rows however
    * large the corpus), the cumulative runs over that dimension-sized
    * relation, and docs join the (length -> bucket) map back by length.
    */
  def lengthBuckets(df: DataFrame, textCol: String, idCol: String,
                    buckets: Int = 8): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // null text counts as zero-length: a null n_toks would silently DROP
    // the document at the equi-join back (null keys never match) — a
    // per-doc relation must stay total or downstream joins lose rows
    // cached (caller-released): tc feeds the length histogram AND the
    // join probe — the packByLength/selectWithinBudget shared-subtree
    // rule. Two slim long columns per document.
    val tc = graft.CacheScope.cache(
      df.select(col(idCol).cast("long").as("id"),
        coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L))
          .as("n_toks")))
    val hist = tc.groupBy(col("n_toks")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("n_toks"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = Window.orderBy(col("n_toks"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lengthToBucket = hist.select(col("n_toks"),
      least(floor((coalesce(sum(col("c")).over(w), lit(0L)) +
          col("c") / lit(2)).cast("double") * lit(buckets) /
          sum(col("c")).over(total).cast("double")),
        lit(buckets - 1)).cast("int").as("bucket"))
    // EXPLICIT broadcast: the map is bounded by distinct lengths, but its
    // size ESTIMATE inherits the corpus aggregate's scan size (group
    // count unknown pre-materialization) — the same lapse measured on the
    // DSIR model join (10x exponent 1.15 as an SMJ).
    tc.join(broadcast(lengthToBucket), Seq("n_toks"))
      .select(col("id"), col("n_toks"), col("bucket"))
  }

  /** Budget-capped quality selection: keep the highest-scoring documents
    * whose token counts fit a total training budget — the "take the best
    * N tokens" curation cut every fixed-compute pretraining run makes
    * after scoring. A document is kept iff it fits ENTIRELY within the
    * remaining budget at its position in (score desc, id asc) order, so
    * the kept set is a deterministic prefix of the quality ranking.
    * Returns (id, n_toks, score, cum_end) for kept documents only.
    *
    * Scale shape: the cumulative-tokens-by-rank sum is the two-level
    * scan of [[packSequences]] ([[cumulativeTokens]]), with SCORE
    * QUANTILES as the ranges: the corpus reduces to a per-rounded-score
    * token histogram (dimension-sized — scores arrive rounded to a few
    * decimals), the range prefix runs over that histogram in descending
    * score order, and within-range cumsums window per rounded score. A
    * corpus where many docs share one rounded score puts them in one
    * window partition — the caller controls that granularity through the
    * score's rounding, the same knob as packSequences' rangeSize.
    */
  def selectWithinBudget(df: DataFrame, textCol: String, idCol: String,
                         scoreCol: String, budgetTokens: Long): DataFrame = {
    // cached (caller-released): tc feeds the score histogram AND the join
    // probe — uncached, the caller's (often regex-heavy) score expression
    // evaluates once per consumer. Three slim columns.
    // null text counts as zero tokens (free under any budget); a null
    // n_toks would null-poison cum_end and silently drop the doc
    val tc = graft.CacheScope.cache(
      df.select(col(idCol).cast("long").as("id"),
        col(scoreCol).cast("double").as("score"),
        coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L))
          .as("n_toks")))
    // prefix of all STRICTLY BETTER scores (descending order)
    cumulativeTokens(tc, "score", col("score").desc)
      .filter(col("cum_end") <= budgetTokens)
      .select(col("id"), col("n_toks"), col("score"), col("cum_end"))
  }

  /** Temperature-scaled mixture weights per source — the domain-
    * reweighting formula multilingual/multi-source corpora use (the
    * mBERT/XLM-R exponential-smoothing recipe; The Pile's per-set epoch
    * tuning): w_s ∝ c_s^(1/T), so T = 1 reproduces the natural mix and
    * larger T up-weights small sources. Returns one row per source:
    * (source, n_docs, weight) with Σ weight = 1.
    *
    * Scale: one map-side-combined count per source plus an unpartitioned
    * window over the |sources| count rows — the window input is
    * dimension-sized (sources, not documents), so the single-task stage
    * is bounded the same way every per-source model is.
    */
  def temperatureMixWeights(df: DataFrame, sourceCol: String,
                            temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be positive")
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("p", pow(col("n_docs").cast("double"), 1.0 / temperature))
    counts
      .withColumn("z", sum(col("p")).over(
        Window.orderBy(col("source"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("source"), col("n_docs"),
        round(col("p") / col("z"), 6).as("weight"))
  }

  /** Deterministic source-mixing filter: keep each row with a per-source
    * per-mille rate, decided by a PORTABLE content hash (md5 of
    * "seed|id" — reproducible across engines and runs, unlike rand()).
    * The domain-reweighting step every trained-corpus recipe has (C4's
    * source mixing, The Pile's per-set epochs): rates express the target
    * mixture, the hash makes the draw stable under re-runs, retries, and
    * engine changes. Rates are integer per-mille so threshold compares
    * are exact in any engine's arithmetic.
    */
  def mixSources(df: DataFrame, idCol: String, sourceCol: String,
                 ratesPermille: Map[String, Int], seed: Long = 42L): DataFrame = {
    require(ratesPermille.values.forall(r => r >= 0 && r <= 1000),
      "rates are per-mille: 0..1000")
    val rate = ratesPermille.foldLeft(lit(0): org.apache.spark.sql.Column) {
      case (acc, (s, r)) => when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(stableDraw(col(idCol), seed) % 1000 < rate)
  }

  /** The stable per-row draw behind [[mixSources]], `p_shard_shuffle`,
    * and `p_eval_split`: first 8 md5 hex digits of "seed|id" as a long —
    * reproducible across engines, runs, retries, and input layout (the
    * reason it exists; `rand()` is none of those). ONE definition so the
    * draw contract between mixing, sharding, and split assignment is
    * structural, not copy-pasted.
    *
    * Seed discipline: INDEPENDENT decisions must use DISTINCT seeds.
    * Composing a sampling filter (`draw(seed) % 1000 < rate`) with a
    * split assignment thresholded on the SAME seed's draw is degenerate —
    * every surviving row sits below the rate cutoff, so the split's
    * val/test tail is empty. Convention in this repo: 42 = mixing/
    * sharding, 7 = stratified sampling, 13 = eval-split assignment,
    * 29 = span-corruption mask positions, 31 = FIM document selection
    * and cut points.
    */
  def stableDraw(id: org.apache.spark.sql.Column, seed: Long = 42L)
      : org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit(s"$seed|"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4): deterministic
    * denoising-objective preprocessing. Span STARTS are drawn per token
    * position with the stable md5 draw (`startPermille`), each start
    * masks `spanLen` consecutive tokens, and overlapping/adjacent masked
    * runs merge into one span — T5's merge rule; with startPermille = 50
    * and spanLen = 3 the expected corruption rate is ≈ 15%, the paper's
    * setting. Each merged span k becomes `<extra_id_k>` in the encoder
    * input; the decoder target is the sentinel-prefixed masked tokens
    * plus the closing `<extra_id_K>` terminator. The draw is the
    * portable hash, NOT rand(): the same (doc, position) masks the same
    * way across engines, runs, retries, and layout — so the pair
    * (input, target) is reproducible and the op is oracle-checkable.
    *
    * Returns (id, n_toks, n_masked, n_spans, input_md5, target_md5) —
    * md5s travel instead of the rewritten strings (fixed-width
    * downstream, the span-remover contract); select the built strings
    * instead in a real pipeline.
    *
    * 100 TB shape: everything is array-local column arithmetic over the
    * token array — the mask flags, the run/merge structure, and both
    * output strings fold in ONE sequential `aggregate` pass per row; no
    * shuffle, no explode, no per-token state outside the row.
    */
  def spanCorrupt(df: DataFrame, textCol: String, idCol: String,
                  startPermille: Int = 50, spanLen: Int = 3,
                  seed: Long = 29L): DataFrame = {
    val toks = split(col(textCol), " ")
    val n = size(toks)
    // start(s) for position s; flag(p) = OR of start(s), s in (p-spanLen, p]
    def startAt(p: org.apache.spark.sql.Column) =
      stableDraw(concat(col("__id"), lit(":"), p.cast("string")), seed) % 1000 <
        startPermille
    // The per-position draws and flags are MATERIALIZED as arrays bound to
    // their own columns before the fold: Spark does no CSE inside lambda
    // bodies, so inlining flag(p) at every struct-branch reference inside
    // `aggregate` re-evaluated ~spanLen md5 draws several times per token.
    // Each draw now evaluates exactly once (__starts), each flag once
    // (__flags), and the fold reads a cheap element_at over the bound
    // attribute. Bound via withColumn, not a shared Column val, so
    // CollapseProject's multi-reference check keeps them materialized.
    val starts = transform(sequence(lit(0), n - 1), p => startAt(p))
    def flags = transform(sequence(lit(0), n - 1), p =>
      (0 until spanLen).map(o =>
        p - o >= 0 && element_at(col("__starts"), p - o + 1)).reduce(_ || _))
    val zero = struct(lit(0).as("k"), lit(false).as("prev"),
      lit("").as("inp"), lit("").as("tgt"), lit(0).as("nm"))
    val folded = aggregate(
      sequence(lit(0), n - 1),
      zero,
      (acc, p) => {
        val f = element_at(col("__flags"), p + 1)
        val tok = element_at(toks, p + 1)
        val isStart = f && !acc.getField("prev")
        val k2 = when(isStart, acc.getField("k") + 1)
          .otherwise(acc.getField("k"))
        val sent = concat(lit("<extra_id_"), (k2 - 1).cast("string"), lit(">"))
        struct(
          k2.as("k"),
          f.as("prev"),
          when(!f, concat(acc.getField("inp"), lit(" "), tok))
            .when(isStart, concat(acc.getField("inp"), lit(" "), sent))
            .otherwise(acc.getField("inp")).as("inp"),
          when(isStart,
              concat(acc.getField("tgt"), lit(" "), sent, lit(" "), tok))
            .when(f, concat(acc.getField("tgt"), lit(" "), tok))
            .otherwise(acc.getField("tgt")).as("tgt"),
          (acc.getField("nm") + when(f, 1).otherwise(0)).as("nm"))
      })
    df.select(col(idCol).as("id"), col(textCol))
      .withColumn("__id", col("id").cast("string"))
      .withColumn("__starts", starts)
      .withColumn("__flags", flags)
      .withColumn("__f", folded)
      .select(col("id"),
        n.cast("long").as("n_toks"),
        col("__f.nm").cast("long").as("n_masked"),
        col("__f.k").cast("long").as("n_spans"),
        // drop exactly the ONE separator space the fold prefixes — ltrim
        // also ate the separators of LEADING EMPTY TOKENS (text starting
        // with spaces), diverging from a true ' '-join (poisoned sweep)
        md5(substring(col("__f.inp"), 2, Int.MaxValue)).as("input_md5"),
        md5(substring(concat(col("__f.tgt"), lit(" <extra_id_"),
          col("__f.k").cast("string"), lit(">")), 2, Int.MaxValue))
          .as("target_md5"))
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): for a
    * `fimPermille` fraction of documents, split the token stream at two
    * stable-draw cut points into (prefix, middle, suffix) and emit the
    * PSM reordering `<fim_prefix> P <fim_suffix> S <fim_middle> M` — the
    * infilling objective Code Llama / StarCoder train with; the rest
    * pass through unchanged (mode 'ar'). The paper applies FIM at the
    * character level with rate 0.5 and shows no AR-capability cost
    * ("FIM-for-free"); cuts here are at token boundaries for hash
    * portability. All three decisions (apply?, cut1, cut2) come from
    * the stable md5 draw under DISTINCT tags — same (doc) transforms
    * identically across engines, runs, retries, and layout.
    *
    * Returns (id, mode, cut1, cut2, out_md5) — the md5 travels instead
    * of the rewritten text (fixed-width downstream); select the built
    * string in a real pipeline. 100 TB shape: pure scan-stage array
    * slicing per row — no shuffle, no model, no driver state.
    */
  def fimTransform(df: DataFrame, textCol: String, idCol: String,
                   fimPermille: Int = 500, seed: Long = 31L): DataFrame = {
    val toks = split(col(textCol), " ")
    val n = size(toks)
    val apply_ = stableDraw(concat(lit("f:"), col(idCol).cast("string")), seed) %
      1000 < fimPermille
    // two independent draws in [0, n] — sorted into cut1 <= cut2
    val d1 = stableDraw(concat(lit("c1:"), col(idCol).cast("string")), seed) %
      (n.cast("long") + 1L)
    val d2 = stableDraw(concat(lit("c2:"), col(idCol).cast("string")), seed) %
      (n.cast("long") + 1L)
    val c1 = least(d1, d2).cast("int")
    val c2 = greatest(d1, d2).cast("int")
    val prefix = array_join(slice(toks, lit(1), c1), " ")
    val middle = array_join(slice(toks, c1 + 1, c2 - c1), " ")
    val suffix = array_join(slice(toks, c2 + 1, n - c2), " ")
    val psm = concat(lit("<fim_prefix>"), prefix,
      lit("<fim_suffix>"), suffix, lit("<fim_middle>"), middle)
    df.select(col(idCol).as("id"),
      when(apply_, lit("psm")).otherwise(lit("ar")).as("mode"),
      when(apply_, c1).otherwise(lit(0)).as("cut1"),
      when(apply_, c2).otherwise(lit(0)).as("cut2"),
      md5(when(apply_, psm).otherwise(col(textCol))).as("out_md5"))
  }

  /** Sliding-window document chunking: each document's token array is cut
    * into windows of `maxToks` tokens whose starts step by `stride`
    * (stride &lt; maxToks ⇒ overlapping context, the BERT/long-doc
    * convention; stride = maxToks ⇒ disjoint chunks). Starts are
    * 0, stride, 2·stride, … while &lt; n_toks; the last window is short
    * rather than padded; an empty document yields one empty chunk so no
    * document silently disappears. Returns (id, chunk_id, start_pos,
    * chunk_len, chunk_md5) — the md5 of the space-joined window travels
    * instead of the text so downstream compares stay fixed-width; swap
    * the select to carry the window itself in a real pipeline.
    *
    * Scale: pure scan-stage work — tokenize, a `sequence` of start
    * offsets (bounded by n_toks/stride per doc), explode, `slice`. No
    * shuffle, no state; output rows ≈ corpus_tokens/stride. The token
    * array is materialized in its own projection before the explode so
    * the tokenizer runs once per document, not once per chunk (the
    * generator-input re-evaluation trap, measured 16× on this shape).
    */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
                maxToks: Int = 128, stride: Int = 96): DataFrame = {
    require(maxToks >= 1 && stride >= 1, "maxToks and stride are >= 1")
    df.select(col(idCol).cast("long").as("id"),
        TextAnalysis.asciiTokens(col(textCol)).as("__toks"))
      .select(col("id"), col("__toks"), size(col("__toks")).as("n"),
        posexplode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_id", "start")))
      .select(col("id"), col("chunk_id").cast("long").as("chunk_id"),
        col("start").cast("long").as("start_pos"),
        least(lit(maxToks), col("n") - col("start")).cast("long").as("chunk_len"),
        // a contentless chunk (null/empty/whitespace doc) digests to NULL,
        // not md5('') — same empty-token-set contract as
        // [[TextAnalysis.fingerprint]] (poisoned-corpus sweep)
        when(size(slice(col("__toks"), col("start") + 1, lit(maxToks))) > 0,
          md5(array_join(slice(col("__toks"), col("start") + 1, lit(maxToks)), " ")))
          .as("chunk_md5"))
  }
}
