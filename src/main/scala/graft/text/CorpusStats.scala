package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text scoring: statistics that need a pass over the WHOLE
  * corpus (a language model, document frequencies) before any single
  * document can be scored. Complements [[TextAnalysis]], whose signals are
  * all per-row.
  *
  * Both ops here follow the same 100 TB shape: the corpus-wide model is a
  * token-keyed aggregate (slim (token, count) rows with map-side combine),
  * and scoring joins it back to the exploded token stream. Neither side
  * ever collects unbounded data to the driver — the only driver-side
  * values are O(1) scalars (corpus size, vocab size, average doc length),
  * read off a single-row aggregate.
  */
object CorpusStats {

  private def toks(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      TextAnalysis.asciiTokens(col(textCol)).as("toks"))

  /** Double-space char spread ("abc" → "a  b  c") — the BPE/WordPiece
    * symbol-sequence representation (see [[bpeTrain]] for why delimiters
    * are doubled). `split(tok, "")` + array_join replaces the original
    * `regexp_replace(tok, "(.)", "$1  ")`: same output byte-for-byte on
    * the [a-z0-9]+ tokens [[TextAnalysis.asciiTokens]] produces (0 diffs
    * over the full sf0.1 token stream; property-spec'd incl. 1-char and
    * digit tokens) and ~1.45× faster through the encode chain — group-ref
    * regex substitution per character was the scan stage's hot spot
    * (guide §1.2 per-task work; measured r21).
    */
  private[graft] def charSpread(tok: Column): Column =
    trim(array_join(split(tok, ""), "  "))

  /** Unigram-LM negative log-likelihood per document — the CCNet-style
    * "perplexity filter" (Wenzek et al., LREC 2020: score web documents
    * with an LM; drop/partition by perplexity band). The LM here is fit on
    * the corpus itself (self-perplexity): token probabilities are add-k
    * smoothed unigram MLE, p(t) = (cnt(t) + k) / (N + k·V), and a
    * document's score is the mean of −ln p(t) over its tokens. Boilerplate
    * and keyword-stuffed documents score LOW (their tokens are corpus-
    * frequent); rare-vocabulary noise scores HIGH — both tails are what a
    * quality pipeline trims.
    *
    * Returns (id, n_toks, avg_nll·1e6-rounded) — one row per input row,
    * zero-token documents carry n_toks = 0 and NULL avg_nll.
    *
    * Scale: two shuffles — (token, count) aggregation (map-side combined;
    * vocabulary-sized, not corpus-sized) and the score-join keyed on the
    * token. The count relation is left to AQE: broadcast when the vocab is
    * small, shuffle-join when it isn't (a 100 TB web corpus's vocab does
    * not fit one executor). N and V are two Longs fetched from a one-row
    * aggregate.
    */
  /** A fitted unigram LM: the (token, count) relation plus the smoothing
    * scalars. Fit once on a reference corpus, score anything — including
    * an unbounded stream ([[scoreUnigramNll]] is a stream-legal static
    * join). The counts relation is cached (caller-released via
    * [[graft.CacheScope.releaseAll]]): a model is by definition reused
    * across scoring calls.
    */
  final case class UnigramLm(counts: DataFrame, n: Long, v: Long, addK: Double)

  /** Fit the add-k unigram LM: one vocabulary-keyed aggregate (map-side
    * combined) + a one-row scalar job. */
  def fitUnigramLm(df: DataFrame, textCol: String,
                   addK: Double = 0.5): UnigramLm = {
    val counts = graft.CacheScope.cache(
      df.select(explode(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
    val r = counts.agg(sum(col("cnt")), count(lit(1))).head()
    UnigramLm(counts,
      n = if (r.isNullAt(0)) 0L else r.getLong(0),
      v = r.getLong(1), addK = addK)
  }

  /** Score documents under a fitted LM: (id, n_toks, avg −ln p). Stream-
    * legal — a static model join plus a per-document aggregate (update
    * mode). Tokens unseen at fit time get the add-k floor probability
    * k/(N + k·V) through the left join's null count.
    */
  def scoreUnigramNll(lm: UnigramLm, df: DataFrame, textCol: String,
                      idCol: String): DataFrame = {
    val denom = lm.n + lm.addK * lm.v // exact in double below 2^53
    // explode_outer + null-aware aggregate (the scoreNaiveBayes/scoreDsir
    // totality contract): zero-token and null-text documents keep their
    // row with n_toks = 0 and a NULL avg_nll instead of silently
    // vanishing from the per-doc score relation
    df.select(col(idCol).cast("long").as("id"),
        explode_outer(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
      .join(lm.counts, Seq("tok"), "left")
      .select(col("id"),
        when(col("tok").isNotNull,
          -log((coalesce(col("cnt"), lit(0L)).cast("double") + lit(lm.addK)) /
            lit(denom))).as("nll"))
      .groupBy(col("id"))
      .agg(count(col("nll")).as("n_toks"), round(avg(col("nll")), 6).as("avg_nll"))
  }

  def unigramNll(df: DataFrame, textCol: String, idCol: String,
                 addK: Double = 0.5): DataFrame = {
    val t = toks(df, textCol, idCol)
    // (id, tok) feeds the vocab count AND the score join's probe side —
    // cached (caller-released via [[graft.CacheScope.releaseAll]]) so the
    // corpus is tokenized once, not once per consumer
    val tok = graft.CacheScope.cache(
      t.select(col("id"), explode(col("toks")).as("tok")))
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val r = counts.agg(sum(col("cnt")), count(lit(1))).head()
    val n = if (r.isNullAt(0)) 0L else r.getLong(0)
    val v = r.getLong(1)
    val denom = n + addK * v // exact in double for any real corpus (< 2^53)
    val scored = tok.join(counts, Seq("tok"))
      .select(col("id"),
        (-log((col("cnt").cast("double") + lit(addK)) / lit(denom))).as("nll"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"), round(avg(col("nll")), 6).as("avg_nll"))
    t.select(col("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        col("avg_nll"))
  }

  /** A fitted binary multinomial Naive Bayes text classifier — the
    * fastText-linear-classifier shape every major curation pipeline uses
    * as its quality gate (CCNet/LLaMA keep "looks like Wikipedia" pages;
    * GPT-3's WebText filter is the same construction): per-token
    * log-likelihood ratios between a target and a background class, a
    * document's score being the prior log-odds plus the sum of its
    * tokens' ratios. `llr` is the slim (token, llr) relation — the whole
    * model; `unseenLlr` is the add-k floor ratio for tokens absent at fit
    * time, and `priorLogOdds` covers the empty document. Fit once on a
    * labeled reference corpus, score anything — [[scoreNaiveBayes]] is a
    * stream-legal static join. The llr relation is cached
    * (caller-released via [[graft.CacheScope.releaseAll]]): a classifier
    * is by definition reused across scoring calls.
    */
  final case class NaiveBayesModel(llr: DataFrame, priorLogOdds: Double,
                                   unseenLlr: Double)

  /** Fit the add-k NB model. `label` is the positive-class predicate.
    *
    * Scale: ONE vocabulary-keyed aggregate over the exploded token stream
    * (map-side combined — the shuffle carries (token, cpos, cneg), bounded
    * by vocabulary, not corpus size) plus two one-row scalar jobs. The
    * per-class token totals and vocab size come off the counts relation
    * itself, so the corpus is tokenized exactly once.
    */
  def fitNaiveBayes(df: DataFrame, textCol: String, label: Column,
                    addK: Double = 0.5): NaiveBayesModel = {
    val tok = df.select(label.cast("boolean").as("y"),
      explode(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
    val counts = graft.CacheScope.cache(
      tok.groupBy(col("tok")).agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("cpos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("cneg")))
    val r = counts.agg(sum(col("cpos")), sum(col("cneg")), count(lit(1))).head()
    val nPos = if (r.isNullAt(0)) 0L else r.getLong(0)
    val nNeg = if (r.isNullAt(1)) 0L else r.getLong(1)
    val v = r.getLong(2)
    val d = df.agg(sum(when(label.cast("boolean"), 1L).otherwise(0L)),
      count(lit(1))).head()
    val dPos = if (d.isNullAt(0)) 0L else d.getLong(0)
    val dNeg = d.getLong(1) - dPos
    val denomPos = nPos + addK * v
    val denomNeg = nNeg + addK * v
    val llr = counts.select(col("tok"),
      (log((col("cpos").cast("double") + lit(addK)) / lit(denomPos)) -
        log((col("cneg").cast("double") + lit(addK)) / lit(denomNeg))).as("llr"))
    NaiveBayesModel(llr,
      priorLogOdds = math.log((dPos + addK) / (dNeg + addK)),
      unseenLlr = math.log(denomNeg / denomPos))
  }

  /** Score documents under a fitted NB model: (id, n_toks, nb_score,
    * nb_pos). Stream-legal — a static model join plus a per-document
    * aggregate (update mode). Zero-token documents survive via
    * explode_outer and score exactly the prior; unseen tokens get the
    * add-k floor ratio.
    */
  def scoreNaiveBayes(m: NaiveBayesModel, df: DataFrame, textCol: String,
                      idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode_outer(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
      .join(m.llr, Seq("tok"), "left")
      .groupBy(col("id"))
      .agg(count(col("tok")).as("n_toks"),
        sum(coalesce(col("llr"),
          when(col("tok").isNotNull, lit(m.unseenLlr)))).as("s"))
      .select(col("id"), col("n_toks"),
        round(lit(m.priorLogOdds) + coalesce(col("s"), lit(0.0)), 6)
          .as("nb_score"))
      // verdict derives from the ROUNDED score: thresholding the raw sum
      // would let cross-engine summation-order noise flip the boolean at
      // the 0 boundary (the rounding exists to absorb exactly that)
      .withColumn("nb_pos", col("nb_score") > 0)

  /** Fused labeled NB fit + score over ONE token pass — the
    * [[dsirScoreLabeled]] rationale applied to the NB classifier: when
    * the corpus being scored IS the labeled fit corpus (t_nb_classify),
    * [[fitNaiveBayes]] + [[scoreNaiveBayes]] tokenizes it twice. This
    * variant caches the (id, y, tok) stream once and derives the
    * vocabulary counts AND the per-document scores from it. The
    * doc-level prior still comes from a label-only scan (column-pruned
    * parquet — deriving it from the token stream would need a distinct
    * over ids, a second vocabulary-sized shuffle for two scalars).
    * Output is row-identical to the two-pass composition: the count
    * aggregate filters the outer explode's null-token rows back out, and
    * the scoring join/aggregate is [[scoreNaiveBayes]] verbatim.
    */
  def nbScoreLabeled(df: DataFrame, textCol: String, idCol: String,
                     label: Column, addK: Double = 0.5): DataFrame = {
    // MEMORY_AND_DISK_SER (r21 VERDICT item 5): this is the one fused-path
    // cache at TOKEN grain — (id, y, tok) is corpus-sized at 100 TB, so
    // the storage level keeps the blocks serialized end-to-end rather
    // than holding per-batch object headers on-heap; the fusion itself
    // (one corpus pass instead of two) is unchanged. Measured at sf0.1:
    // t_nb_classify warm is unchanged within noise vs MEMORY_AND_DISK.
    val tok = graft.CacheScope.cache(
      df.select(col(idCol).cast("long").as("id"),
        label.cast("boolean").as("y"),
        explode_outer(TextAnalysis.asciiTokens(col(textCol))).as("tok")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val counts = graft.CacheScope.cache(
      tok.filter(col("tok").isNotNull).groupBy(col("tok")).agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("cpos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("cneg")))
    val r = counts.agg(sum(col("cpos")), sum(col("cneg")), count(lit(1))).head()
    val nPos = if (r.isNullAt(0)) 0L else r.getLong(0)
    val nNeg = if (r.isNullAt(1)) 0L else r.getLong(1)
    val v = r.getLong(2)
    val d = df.agg(sum(when(label.cast("boolean"), 1L).otherwise(0L)),
      count(lit(1))).head()
    val dPos = if (d.isNullAt(0)) 0L else d.getLong(0)
    val dNeg = d.getLong(1) - dPos
    val denomPos = nPos + addK * v
    val denomNeg = nNeg + addK * v
    val llr = counts.select(col("tok"),
      (log((col("cpos").cast("double") + lit(addK)) / lit(denomPos)) -
        log((col("cneg").cast("double") + lit(addK)) / lit(denomNeg))).as("llr"))
    val priorLogOdds = math.log((dPos + addK) / (dNeg + addK))
    val unseenLlr = math.log(denomNeg / denomPos)
    tok.join(llr, Seq("tok"), "left")
      .groupBy(col("id"))
      .agg(count(col("tok")).as("n_toks"),
        sum(coalesce(col("llr"),
          when(col("tok").isNotNull, lit(unseenLlr)))).as("s"))
      .select(col("id"), col("n_toks"),
        round(lit(priorLogOdds) + coalesce(col("s"), lit(0.0)), 6)
          .as("nb_score"))
      .withColumn("nb_pos", col("nb_score") > 0)
  }

  /** A fitted DSIR importance model (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling"): hashed
    * n-gram (unigram + bigram) bag-of-features unigram models over a
    * fixed bucket space, fit separately on a TARGET corpus (what training
    * data should look like) and the RAW corpus being selected from. A
    * document's importance log-weight is the sum over its features of
    * ln p̂_target(b) − ln p̂_raw(b); resampling keeps the Gumbel-top-k.
    * `logRatio` is the ≤`buckets`-row (b, lr) relation; `unseenLr` covers
    * buckets empty in both fit corpora. The hash is the first 8 md5 hex
    * digits — portable across engines and layouts, same contract as
    * [[graft.pack.Packing.stableDraw]].
    */
  final case class DsirModel(logRatio: DataFrame, buckets: Int,
                             unseenLr: Double)

  /** Hashed n-gram feature stream: (rest of `keep` columns, bucket).
    * Tokens are materialized into their own projection BEFORE the n-gram
    * lambda (per-element re-evaluation; see PLANS.md round-8 16× note).
    */
  private def dsirFeats(df: DataFrame, textCol: String, buckets: Int,
                        keep: Seq[(Column, String)], outer: Boolean): DataFrame = {
    val ex = if (outer) explode_outer _ else explode _
    val keepCols = keep.map { case (c, n) => c.as(n) }
    val keepRefs = keep.map { case (_, n) => col(n) }
    df.select(keepCols :+ TextAnalysis.asciiTokens(col(textCol)).as("__toks"): _*)
      .select(keepRefs :+ ex(concat(col("__toks"),
        TextAnalysis.positionalNgrams(col("__toks"), 2))).as("__f"): _*)
      .select(keepRefs :+ (conv(substring(md5(col("__f")), 1, 8), 16, 10)
        .cast("long") % buckets).as("b"): _*)
  }

  /** Fit DSIR: two vocabulary-bucket-keyed aggregates (map-side combined —
    * each shuffle is bounded by `buckets`, never corpus size) + one
    * one-row scalar job over their full-outer join. The joined counts are
    * cached (caller-released via [[graft.CacheScope.releaseAll]]); the
    * log-ratio relation is a projection over them.
    */
  def fitDsir(target: DataFrame, raw: DataFrame, textCol: String,
              buckets: Int = 1024, addK: Double = 0.5): DsirModel = {
    val ct = dsirFeats(target, textCol, buckets, Nil, outer = false)
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val cr = dsirFeats(raw, textCol, buckets, Nil, outer = false)
      .groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val joined = graft.CacheScope.cache(ct.join(cr, Seq("b"), "full"))
    val r = joined.agg(sum(col("ct")), sum(col("cr"))).head()
    val nt = if (r.isNullAt(0)) 0L else r.getLong(0)
    val nr = if (r.isNullAt(1)) 0L else r.getLong(1)
    val denT = nt + addK * buckets
    val denR = nr + addK * buckets
    val lr = joined.select(col("b"),
      (log((coalesce(col("ct"), lit(0L)).cast("double") + lit(addK)) / lit(denT)) -
        log((coalesce(col("cr"), lit(0L)).cast("double") + lit(addK)) / lit(denR)))
        .as("lr"))
    DsirModel(lr, buckets, unseenLr = math.log(denR / denT))
  }

  /** One-pass DSIR fit for the common deployment where the target corpus
    * IS a labeled slice of the raw corpus (DSIR selects from a crawl
    * using e.g. its Wikipedia-like slice as target): both per-bucket
    * counts come from a single conditional aggregate over one feature
    * pass — half the tokenize/hash work of [[fitDsir]], which stays for
    * genuinely disjoint target/raw frames. Identical model by
    * construction (target ⊆ raw ⇒ the full-outer join degenerates to
    * this aggregate).
    */
  def fitDsirLabeled(df: DataFrame, textCol: String, target: Column,
                     buckets: Int = 1024, addK: Double = 0.5): DsirModel = {
    val counts = graft.CacheScope.cache(
      dsirFeats(df, textCol, buckets,
          Seq(target.cast("boolean") -> "y"), outer = false)
        .groupBy(col("b")).agg(
          sum(when(col("y"), 1L).otherwise(0L)).as("ct"),
          count(lit(1)).as("cr")))
    val r = counts.agg(sum(col("ct")), sum(col("cr"))).head()
    val nt = if (r.isNullAt(0)) 0L else r.getLong(0)
    val nr = if (r.isNullAt(1)) 0L else r.getLong(1)
    val denT = nt + addK * buckets
    val denR = nr + addK * buckets
    val lr = counts.select(col("b"),
      (log((col("ct").cast("double") + lit(addK)) / lit(denT)) -
        log((col("cr").cast("double") + lit(addK)) / lit(denR))).as("lr"))
    DsirModel(lr, buckets, unseenLr = math.log(denR / denT))
  }

  /** Fused labeled fit + score over ONE feature pass: when the corpus
    * being scored IS the corpus the labeled model is fit on (both
    * t_dsir_weight and the resampling gate), [[fitDsirLabeled]] followed
    * by [[scoreDsir]] tokenizes + hashes the corpus twice — once for the
    * bucket counts, once for the score stream. This variant materializes
    * the (id, y, b) feature stream once (cached, caller-released via
    * [[graft.CacheScope.releaseAll]]) and derives BOTH the model counts
    * and the per-document scores from it, halving the corpus-sized work
    * (guide §1.2 step 1: don't compute things twice). Output is
    * row-identical to the two-pass composition by construction: the fit
    * aggregate sees exactly the inner-explode rows (the outer explode's
    * null-feature rows are filtered out — they exist only so zero-token
    * documents survive scoring), and the scoring join/aggregate is the
    * [[scoreDsir]] plan verbatim.
    */
  def dsirScoreLabeled(df: DataFrame, textCol: String, idCol: String,
                       target: Column, buckets: Int = 1024,
                       addK: Double = 0.5): DataFrame = {
    val feats = graft.CacheScope.cache(
      dsirFeats(df, textCol, buckets,
        Seq(col(idCol).cast("long") -> "id",
          target.cast("boolean") -> "y"), outer = true))
    val counts = graft.CacheScope.cache(
      feats.filter(col("b").isNotNull)
        .groupBy(col("b")).agg(
          sum(when(col("y"), 1L).otherwise(0L)).as("ct"),
          count(lit(1)).as("cr")))
    val r = counts.agg(sum(col("ct")), sum(col("cr"))).head()
    val nt = if (r.isNullAt(0)) 0L else r.getLong(0)
    val nr = if (r.isNullAt(1)) 0L else r.getLong(1)
    val denT = nt + addK * buckets
    val denR = nr + addK * buckets
    val lr = counts.select(col("b"),
      (log((col("ct").cast("double") + lit(addK)) / lit(denT)) -
        log((col("cr").cast("double") + lit(addK)) / lit(denR))).as("lr"))
    val unseenLr = math.log(denR / denT)
    feats
      .join(broadcast(lr), Seq("b"), "left")
      .groupBy(col("id"))
      .agg(count(col("b")).as("n_feats"),
        sum(coalesce(col("lr"),
          when(col("b").isNotNull, lit(unseenLr)))).as("s"))
      .select(col("id"), col("n_feats"), round(col("s"), 6).as("dsir_logw"))
  }

  /** Score documents under a fitted DSIR model: (id, n_feats,
    * dsir_logw). Stream-legal static join; zero-feature documents carry
    * NULL dsir_logw.
    */
  def scoreDsir(m: DsirModel, df: DataFrame, textCol: String,
                idCol: String): DataFrame =
    // NOTE: deliberately NOT pre-partitioned by id (the tfIdfTopK trick):
    // the per-id count/sum partially aggregates map-side, so the exchange
    // carries ≤ partitions × docs tiny partial rows — cheaper than
    // shuffling full document text, measured both ways at sf0.1.
    dsirFeats(df, textCol, m.buckets,
        Seq(col(idCol).cast("long") -> "id"), outer = true)
      // EXPLICIT broadcast: the model is `buckets` rows by construction,
      // but its pre-materialization size ESTIMATE inherits the corpus
      // aggregate's child scan size (group count unknown to the planner),
      // so auto-broadcast gives up exactly when the corpus grows — the
      // measured 10x scaling exponent was 1.15 (feature stream sorted for
      // an SMJ) before this hint, 0.70 after.
      .join(broadcast(m.logRatio), Seq("b"), "left")
      .groupBy(col("id"))
      .agg(count(col("b")).as("n_feats"),
        sum(coalesce(col("lr"),
          when(col("b").isNotNull, lit(m.unseenLr)))).as("s"))
      .select(col("id"), col("n_feats"), round(col("s"), 6).as("dsir_logw"))

  /** First BPE merge-step primitive (Sennrich et al., ACL 2016 — byte-pair
    * encoding for subword tokenization): corpus-wide counts of adjacent
    * character pairs within word tokens, the statistic a distributed BPE
    * trainer computes per merge round. Returns the top `k` (pair, cnt)
    * rows, count-descending with deterministic ties. A full trainer is
    * this op iterated: apply the winning merge, recount — a driver loop
    * over ROUNDS (vocab-size many), never over rows.
    *
    * Scale: word occurrences collapse to word-TYPE counts first (the
    * standard BPE trainer representation), so the pair explode runs over
    * the vocabulary weighted by frequency, not over corpus characters —
    * measured 0.93 → 0.34 s at sf0.1. Both shuffles are bounded (vocab,
    * then ≤ |alphabet|² pairs); the top-k is a TakeOrdered.
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
      // guard: sequence(1, 0) counts DOWN in Spark — single-char tokens
      // must map to an empty pair list, not [1, 0]
      .select(col("wc"), explode(when(length(col("tok")) >= 2,
          expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)

  /** Multi-round distributed BPE trainer (Sennrich et al., ACL 2016):
    * `steps` merge rounds over the corpus, returning the learned merge
    * table (step, a, b, merged, cnt) — the artifact a tokenizer-training
    * pipeline publishes. Each round picks the most frequent adjacent
    * symbol pair (ties → lexicographic (a, b), so the table is
    * deterministic) and rewrites every word's symbol sequence with the
    * merge applied greedily left-to-right.
    *
    * Scale: ONE corpus-sized job total — word occurrences collapse to
    * word-TYPE counts up front (map-side combined, vocabulary-bounded),
    * and all rounds iterate on that slim (seq, wc) relation; the driver
    * loop runs `steps` times (a constant), never over rows, and collects
    * exactly one row per round. This is the standard trainer
    * decomposition at any corpus size.
    *
    * Merge application is `passes` nested literal replaces of
    * " a b " → " ab " on the space-joined, space-padded sequence. One
    * replace pass takes every occurrence EXCEPT ones whose leading space
    * was consumed by the previous match (boundary-sharing chains — runs
    * of the same symbol, "a b a b" trains); each extra pass halves the
    * longest unresolved chain, so `passes` = 6 is exact greedy for
    * chains up to 2^6 and, critically, the pass semantics are identical
    * in any engine whose replace() scans left-to-right non-overlapping —
    * which is what makes the trainer hash-oracle-able.
    */
  def bpeTrain(df: DataFrame, textCol: String, steps: Int): DataFrame = {
    val spark = df.sparkSession
    // Symbols are joined by TWO spaces. With single-space delimiters a
    // literal " a b "->" ab " replace is NOT textbook-greedy: adjacent
    // pairs share their delimiter space, so the scan (which resumes
    // after the consumed match) orphans the middle symbol of an odd
    // same-symbol run — " b b b b b " became "bb b bb" where greedy BPE
    // (subword-nmt's lookaround re.sub) yields "bb bb b". Round-11's
    // seeded property sweep found the counterexample. With doubled
    // delimiters each match consumes only its own half of each gap, so
    // ONE left-to-right non-overlapping replace pass per round is
    // exactly greedy — in Spark and in the DuckDB oracle alike.
    var vocab = graft.CacheScope.cache(
      df.select(explode(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
        .select(charSpread(col("tok")).as("seq"),
          col("wc")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = vocab
        .select(col("wc"), split(col("seq"), "  ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i - 1] AS a, syms[i] AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, a, b, a + b, cnt))
        // one pass: with doubled delimiters, left-to-right
        // non-overlapping literal replace IS greedy merge application
        val pat = s" $a  $b "
        val rep = s" $a$b "
        val c: Column = replace(
          concat(lit(" "), col("seq"), lit(" ")), lit(pat), lit(rep))
        // re-cache per round (the relation stays vocabulary-sized;
        // caller-released via CacheScope), then TRUNCATE the logical
        // lineage: without the LogicalRDD wrap, round k's plan nests all
        // k previous replaces and the analyzer re-processes the
        // compounding tree every round — fine at steps=5, quadratic
        // driver time at a real vocabulary's thousands of merges (the
        // dedupClusters round-7 lesson). The RDD scan still reads the
        // cached blocks.
        val next = graft.CacheScope.cache(
          vocab.select(trim(c).as("seq"), col("wc")))
        vocab = next.sparkSession.createDataFrame(next.rdd, next.schema)
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "a", "b", "merged", "cnt")
      .select(col("step").cast("long").as("step"), col("a"), col("b"),
        col("merged"), col("cnt"))
  }

  /** Encode documents under a learned BPE merge table ([[bpeTrain]]'s
    * output, applied in merge order): per-document word and subword
    * counts — "how many tokens is this corpus under MY tokenizer", the
    * number every budget/packing/billing decision downstream consumes.
    *
    * Scale: the merge chain is a pure scan-stage string expression
    * (merges are a driver-held constant of `steps` pairs — the learned
    * artifact, not data), so encoding runs inside whole-stage codegen on
    * the exploded word stream and the only exchange is the per-doc
    * count/sum partial aggregate. Same bounded replace-pass semantics as
    * training (see [[bpeTrain]]) — engine-identical, hash-oracle-able.
    */
  def bpeEncode(df: DataFrame, textCol: String, idCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    // doubled delimiters + one replace per merge = greedy application in
    // merge order (see bpeTrain); the whole chain is still a single
    // scan-stage string expression
    var c: Column = concat(lit(" "), charSpread(col("tok")), lit(" "))
    for ((a, b) <- merges)
      c = replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    df.select(col(idCol).cast("long").as("id"),
        explode(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
      .select(col("id"), size(split(trim(c), "  ")).cast("long").as("ns"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_subwords"))
  }

  /** WordPiece-style likelihood-ranked merge training (Wu et al. 2016;
    * the trainer Schuster & Nakajima 2012 describe): the SAME
    * vocabulary-bounded merge loop as [[bpeTrain]], but each round picks
    * the pair maximizing cnt(ab) / (cnt(a)·cnt(b)) — the unigram-LM
    * likelihood gain — instead of raw pair frequency. Frequency merges
    * glue frequent-but-independent neighbours ("th"+"e" wins on count
    * alone); the likelihood ratio promotes pairs that co-occur MORE than
    * their parts predict, which is what makes WordPiece vocabularies
    * morpheme-shaped.
    *
    * The ranking is integer-exact on both engines: score_x9 =
    * cnt·10^9 div (cnt(a)·cnt(b)) — truncating integer division of exact
    * counts, ties broken on (a, b); no FP ratio whose last ulp could
    * reorder the argmax across engines. Long arithmetic bounds the gate
    * tier to corpora under ~3·10^9 symbol occurrences (√Long.Max,
    * guarded up front — Spark Longs wrap silently); the
    * 100 TB tier swaps the two products for DECIMAL(38,0) intermediates
    * — same truncating semantics, no other change.
    *
    * Scale shape: identical to [[bpeTrain]] — one corpus-sized word-type
    * count, then per-round aggregations over the vocabulary-sized
    * relation (pair counts + symbol counts are both map-side
    * combinable), per-round lineage truncation.
    */
  def wordpieceTrain(df: DataFrame, textCol: String, steps: Int): DataFrame =
    wordpieceTrain(df, textCol, steps, forceDecimalTier = false)

  /** The per-round argmax frame: pair counts over the current vocab
    * segmentation, scored against the symbol counts. Both symbol-count
    * sides are explicitly broadcast: the relation is vocabulary-sized,
    * and without the hint the planner falls back to sort-merge from
    * round 2 on, where the lineage-truncating LogicalRDD wrap erases the
    * stats. The round-22 interleaved A/B (sf0.1) kept this shape over a
    * plain join and a driver-collected LocalRelation at both 32 cores
    * (1.94 s median vs 1.92 / 2.32) and 8 cores (1.57 vs 1.66 / 1.75).
    * 8 cores beating 32 held for every shape: it is the fixed task
    * overhead of vocabulary-sized rounds at 32 shuffle partitions. */
  private def wordpieceRoundFrame(vocab: DataFrame,
                                  scoreExpr: String): DataFrame = {
    val syms = vocab.select(col("wc"), split(col("seq"), "  ").as("syms"))
    val symCnt = syms
      .select(col("wc"), explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("wc")).as("sc"))
    def side(keyAs: String, cntAs: String) =
      broadcast(symCnt.select(col("sym").as(keyAs), col("sc").as(cntAs)))
    syms
      .filter(size(col("syms")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(syms[i - 1] AS a, syms[i] AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wc")).as("cnt"))
      .join(side("a", "sa"), Seq("a"))
      .join(side("b", "sb"), Seq("b"))
      .select(col("a"), col("b"), col("cnt"),
        expr(scoreExpr).cast("long").as("score_x9"))
      .orderBy(col("score_x9").desc, col("a"), col("b"))
      .limit(1)
  }

  /** As [[wordpieceTrain]]; `forceDecimalTier` pins the DECIMAL(38,0)
    * scoring tier for parity testing (the tier engages automatically
    * when the corpus exceeds the Long tier's √Long.Max symbol bound). */
  def wordpieceTrain(df: DataFrame, textCol: String, steps: Int,
                     forceDecimalTier: Boolean): DataFrame = {
    val spark = df.sparkSession
    val Scale = 1000000000L
    var vocab = graft.CacheScope.cache(
      df.select(explode(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("wc"))
        .select(charSpread(col("tok")).as("seq"),
          col("wc")))
    // Spark Longs WRAP on overflow (non-ANSI) — a wrapped score would
    // silently corrupt the argmax, so bound the whole run up front:
    // every pair/symbol count is ≤ the total symbol count, and the
    // score needs cnt·10^9 and sa·sb to both fit, so total ≤ √Long.Max.
    // coalesce: sum() over an EMPTY vocab is NULL — an empty corpus must
    // fall through to the zero-merge result, not NPE on getLong
    val totalSyms = vocab
      .select(coalesce(sum(col("wc") * size(split(col("seq"), "  "))), lit(0L))
        .as("t"))
      .collect()(0).getLong(0)
    // Past √Long.Max symbols, cnt·10^9 or sa·sb no longer fit a Long —
    // switch the two products to DECIMAL(38,0) intermediates (same
    // truncating integer division, same argmax; the 10^19-symbol bound
    // keeps sa·sb inside decimal(38)). Long tier stays the default:
    // decimal arithmetic is an order of magnitude slower per row, and
    // the score relation is vocabulary-sized, so the tier only matters
    // for genuinely huge corpora.
    // (A Long total is necessarily < 10^19, so sa·sb < 10^38 and the
    // decimal(38,0) product cannot overflow — no upper require needed.)
    val decimalTier = forceDecimalTier || totalSyms > 3037000499L
    val scoreExpr =
      if (decimalTier)
        s"cast(cnt as decimal(38,0)) * $Scale div " +
          "(cast(sa as decimal(38,0)) * cast(sb as decimal(38,0)))"
      else s"cnt * $Scale div (sa * sb)"
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = wordpieceRoundFrame(vocab, scoreExpr).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt, sc) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2), top(0).getLong(3))
        merges += ((step, a, b, a + b, cnt, sc))
        val c: Column = replace(
          concat(lit(" "), col("seq"), lit(" ")),
          lit(s" $a  $b "), lit(s" $a$b "))
        val next = graft.CacheScope.cache(
          vocab.select(trim(c).as("seq"), col("wc")))
        vocab = next.sparkSession.createDataFrame(next.rdd, next.schema)
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "a", "b", "merged", "cnt", "score_x9")
      .select(col("step").cast("long").as("step"), col("a"), col("b"),
        col("merged"), col("cnt"), col("score_x9"))
  }

  /** Per-document piece counts under a learned WordPiece vocabulary:
    * greedy longest-match-first segmentation (the BERT runtime), with
    * the merged pieces from [[wordpieceTrain]] as the multi-char
    * vocabulary and the single-character fallback that a
    * corpus-derived vocab guarantees. One scan-stage expression per
    * word occurrence (see [[graft.exprs.TextExprs.WordpieceCount]]);
    * the only exchange is the per-doc aggregate — same plan shape as
    * [[bpeEncode]].
    */
  def wordpieceEncode(df: DataFrame, textCol: String, idCol: String,
                      pieces: Seq[String]): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode(TextAnalysis.asciiTokens(col(textCol))).as("tok"))
      .select(col("id"),
        graft.exprs.TextExprs.wordpiece_count(col("tok"), pieces)
          .cast("long").as("np"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 §4.3):
    * score every document under the corpus unigram LM and split EACH
    * group (CCNet: language; here any `groupCol`) into head / middle /
    * tail thirds by score — the standard "keep the head, maybe sample
    * the middle, drop the tail" curation gate. Buckets are assigned by
    * VALUE thresholds (the lowest rounded score whose cumulative count
    * reaches ⌈n/3⌉ resp. ⌈2n/3⌉), so documents with equal rounded scores
    * always land in the same bucket — deterministic under any layout and
    * reproducible in plain SQL.
    *
    * Scale: per-doc scores round to 6 dp and aggregate to a
    * (group, score, count) histogram — the cumulative window runs over
    * that SCORE-RESOLUTION-bounded relation, never over documents (the
    * lengthBuckets pattern: no corpus-wide ntile); thresholds (3 rows
    * per group) broadcast back onto the scored relation.
    */
  def perplexityBuckets(df: DataFrame, textCol: String, idCol: String,
                        groupCol: String, addK: Double = 0.5): DataFrame = {
    val tok = graft.CacheScope.cache(
      df.select(col(idCol).cast("long").as("id"), col(groupCol).as("grp"),
          explode(TextAnalysis.asciiTokens(col(textCol))).as("tok")))
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val r = counts.agg(sum(col("cnt")), count(lit(1))).head()
    val n = if (r.isNullAt(0)) 0L else r.getLong(0)
    val v = r.getLong(1)
    val denom = n + addK * v
    // avg-then-round is a known residual FP surface (summation order can
    // vary with layout, and round(double, 6) is engine-sensitive at exact
    // half-way points) — accepted deliberately: ln() values essentially
    // never land on decimal boundaries, the layout-invariance test pins
    // the behavior, and t_ppl_buckets has been driver-hash-green since it
    // shipped. Do NOT "fix" this to integer micros without changing the
    // DuckDB oracle in the same commit — churning a green query/oracle
    // pair is how portability regressions start.
    val scored = graft.CacheScope.cache(tok.join(counts, Seq("tok"))
      .select(col("id"), col("grp"),
        (-log((col("cnt").cast("double") + lit(addK)) / lit(denom))).as("nll"))
      .groupBy(col("id"), col("grp"))
      .agg(round(avg(col("nll")), 6).as("avg_nll")))
    val w = Window.partitionBy(col("grp")).orderBy(col("avg_nll"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = scored.groupBy(col("grp"), col("avg_nll"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("grp"))))
    val th = hist.groupBy(col("grp")).agg(
      min(when(col("cum") * 3 >= col("n"), col("avg_nll"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("avg_nll"))).as("t2"))
    val bucketed = scored.join(broadcast(th), Seq("grp"))
      .select(col("id"), col("grp"), col("avg_nll"),
        when(col("avg_nll") <= col("t1"), lit("head"))
          .when(col("avg_nll") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
    // TOTALITY (the per-doc score-relation contract): zero-token / null-
    // text docs fell out of the explode — join them back with NULL
    // avg_nll and NULL bucket ("unscorable"), so the caller's join over
    // the report never silently drops documents. (id, grp)-keyed slim
    // join; the DuckDB oracle carries the same LEFT JOIN.
    df.select(col(idCol).cast("long").as("id"), col(groupCol).as("grp"))
      .join(bucketed, Seq("id", "grp"), "left")
  }

  /** DSIR's selection step: Gumbel-top-k = sampling k WITHOUT replacement
    * with probability ∝ exp(weight). The Gumbel noise comes from the
    * stable md5 draw, so the selected set is reproducible across engines,
    * retries, and input layout. The top-k is a TakeOrdered (per-partition
    * heaps), never a global sort.
    */
  def gumbelTopK(df: DataFrame, weightCol: String, idCol: String, k: Int,
                 seed: Long = 42L): DataFrame = {
    val u = (graft.pack.Packing.stableDraw(col(idCol), seed) % 1000000L)
      .cast("double").plus(lit(0.5)).divide(lit(1000000.0))
    df.withColumn("g_key",
        round(col(weightCol) - log(-log(u)), 6))
      .orderBy(col("g_key").desc, col(idCol))
      .limit(k)
  }

  /** Corpus-wide most frequent word n-grams — the exact frequent-items
    * pass behind boilerplate mining (find the navigation bars / cookie
    * banners polluting a crawl) and stop-phrase lists. Returns the `k`
    * heaviest (ngram, cnt) rows, count-descending, ties broken by the
    * n-gram string so the cut is deterministic.
    *
    * Scale: positional n-grams aggregate with map-side combine — the
    * shuffle carries (ngram, partial count), bounded by DISTINCT n-grams
    * per partition, not corpus positions; the top-k is a TakeOrdered
    * (per-partition heaps + driver merge of k·partitions rows), never a
    * global sort. For corpora where even distinct n-grams overwhelm the
    * shuffle, the sketch path is [[graft.exprs.Aggregators.TopKByValue]];
    * this op is the exact tier.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    // token array MATERIALIZED in its own projection: positionalNgrams
    // references it from a lambda, and an inlined tokenizer would re-run
    // per n-gram position (measured 0.08 s → 12 s at sf0.1)
    df.select(TextAnalysis.asciiTokens(col(textCol)).as("__toks"))
      .select(explode(TextAnalysis.positionalNgrams(col("__toks"), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)

  /** Interpolated bigram-LM negative log-likelihood — one rung up the
    * n-gram ladder from [[unigramNll]], toward the 5-gram KenLM CCNet
    * actually scores with: p(t|prev) = λ·p₂(t|prev) + (1−λ)·p₁(t), both
    * parts add-k smoothed, with a `<s>` sentinel context for each
    * document's first token (its context count is the document count, as
    * in any sentence-start LM state). Returns (id, n_toks, avg_nll).
    *
    * Scale: the previous-token pairing is a window lag PARTITIONED BY
    * document — a per-doc sort, never global. Three model aggregates
    * ((prev,tok), prev, tok — all map-side combined, vocabulary²-bounded
    * with the usual Zipf truncation far below that) and two token-keyed
    * score joins. Driver sees two scalars.
    */
  def bigramNll(df: DataFrame, textCol: String, idCol: String,
                addK: Double = 0.5, lambda: Double = 0.7): DataFrame = {
    val t = toks(df, textCol, idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    // (id, prev, tok) with a sentinel context for position 1 — cached:
    // feeds the bigram model AND the score join (caller-released via
    // [[graft.CacheScope.releaseAll]])
    val pairs = graft.CacheScope.cache(
      t.select(col("id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .withColumn("prev", coalesce(lag(col("tok"), 1).over(w), lit("<s>")))
        .select(col("id"), col("prev"), col("tok")))
    val big = pairs.groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("cb"))
    val ctx = big.groupBy(col("prev")).agg(sum(col("cb")).as("cc"))
    val uni = pairs.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val r = uni.agg(sum(col("cu")), count(lit(1))).head()
    val n = if (r.isNullAt(0)) 0L else r.getLong(0)
    val v = r.getLong(1)
    val uniDenom = n + addK * v
    val p2 = (col("cb").cast("double") + lit(addK)) /
      (col("cc").cast("double") + lit(addK) * lit(v.toDouble))
    val p1 = (col("cu").cast("double") + lit(addK)) / lit(uniDenom)
    val scored = pairs
      .join(big, Seq("prev", "tok"))
      .join(ctx, Seq("prev"))
      .join(uni, Seq("tok"))
      .select(col("id"),
        (-log(lit(lambda) * p2 + lit(1.0 - lambda) * p1)).as("nll"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"), round(avg(col("nll")), 6).as("avg_nll"))
    t.select(col("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        col("avg_nll"))
  }

  /** Interpolated Kneser-Ney bigram NLL (Kneser & Ney 1995; the
    * smoothing KenLM implements, i.e. what CCNet's quality scorer
    * actually runs): absolute discount d off every seen bigram, the
    * reclaimed mass backed off to the CONTINUATION unigram
    * P_cont(w) = N1+(·w)/|bigram types| — "how many contexts does w
    * complete", not "how often does w occur", which is what stops
    * high-frequency-but-context-bound words (the "Francisco" effect)
    * from inflating backoff scores. Fit and scored corpus coincide here
    * (the CCNet pattern), so every scored bigram is seen and
    * c(vw) − d ≥ 1 − d > 0 — no zero-probability branch.
    *
    * P_kn(w|v) = (c(vw) − d + d·N1+(v·)·P_cont(w)) / c(v).
    *
    * Scale: same shape as [[bigramNll]] — per-doc window lag, three
    * vocabulary²-bounded map-side-combined aggregates off the shared
    * pair relation, one scalar (|bigram types|), token-keyed score
    * joins; the FP expression is written in the exact operator order
    * the SQL oracle uses.
    */
  def knBigramNll(df: DataFrame, textCol: String, idCol: String,
                  discount: Double = 0.75): DataFrame = {
    val t = toks(df, textCol, idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val pairs = graft.CacheScope.cache(
      t.select(col("id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .withColumn("prev", coalesce(lag(col("tok"), 1).over(w), lit("<s>")))
        .select(col("id"), col("prev"), col("tok")))
    val big = graft.CacheScope.cache(
      pairs.groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("cb")))
    val ctx = big.groupBy(col("prev"))
      .agg(sum(col("cb")).as("cc"), count(lit(1)).as("n1v"))
    val cont = big.groupBy(col("tok")).agg(count(lit(1)).as("n1w"))
    val bTypes = big.count()
    val p = (col("cb").cast("double") - lit(discount) +
      lit(discount) * col("n1v").cast("double") *
        (col("n1w").cast("double") / lit(bTypes.toDouble))) /
      col("cc").cast("double")
    val scored = pairs
      .join(big, Seq("prev", "tok"))
      .join(ctx, Seq("prev"))
      .join(cont, Seq("tok"))
      .select(col("id"), (-log(p)).as("nll"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"), round(avg(col("nll")), 6).as("kn_nll"))
    t.select(col("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        col("kn_nll"))
  }

  /** BM25 top-k retrieval (Robertson/Spärck Jones probabilistic relevance
    * framework; the Okapi BM25 formula with the standard k1/b defaults and
    * the Lucene-style idf = ln(1 + (N − df + ½)/(df + ½)), which keeps idf
    * positive for terms in over half the corpus). Scores every document
    * against a fixed bag of query terms and returns the k best:
    * (id, score) with score rounded to 6 decimals BEFORE ranking so the
    * ordering is reproducible across engines, ties broken by id.
    *
    * Scale: the per-(doc, term) frequency aggregate filters to the query's
    * terms at the scan (predicate on the exploded token — pushes to a
    * partial aggregate), so the shuffle carries only matching docs ×
    * |terms| rows. Document frequencies reduce that same relation —
    * |terms| rows total. N and avgdl are driver scalars off a one-row
    * aggregate; the final top-k is a TakeOrdered, not a global sort.
    */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // the N/avgdl scalar job below materializes this cache, so the main
    // query re-reads tokens instead of re-splitting the corpus (caller-
    // released via [[graft.CacheScope.releaseAll]])
    val t = graft.CacheScope.cache(toks(df, textCol, idCol).select(
      col("id"), col("toks"), size(col("toks")).cast("long").as("dl")))
    val r = t.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = r.getLong(0)
    val avgdl = (if (r.isNullAt(1)) 0L else r.getLong(1)).toDouble / nDocs
    val tf = t.select(col("id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("dfq"))
    val idf: Column =
      log(lit(1.0) + (lit(nDocs.toDouble) - col("dfq") + lit(0.5)) / (col("dfq") + lit(0.5)))
    tf.join(broadcast(dfreq), Seq("tok")) // |terms| rows — always broadcast
      .select(col("id"),
        (idf * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl))))
          .as("c"))
      .groupBy(col("id")).agg(round(sum(col("c")), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** RefinedWeb/C4-style line-wise quality signals over an array-of-lines
    * column: line count, fraction of lines ending in terminal punctuation,
    * fraction of bullet-style lines, and mean line length. Documents with
    * few terminal-punctuation lines or many bullets are boilerplate/menu
    * candidates (Penedo et al. 2023 §3.3 line-wise filters; C4's
    * terminal-punctuation rule, Raffel et al. 2020 §2.2).
    *
    * Pure scan-stage column expressions over an already-materialized
    * array — no shuffle, no re-tokenization (pass a COLUMN holding the
    * split lines; see PLANS.md on materializing arrays before
    * higher-order functions).
    */
  def lineQualitySignals(lines: Column): Seq[Column] = {
    val n = size(lines)
    def frac(cnt: Column): Column =
      when(n === 0, lit(0.0)).otherwise(
        round(cnt.cast("double") / n.cast("double"), 6))
    Seq(
      n.cast("long").as("n_lines"),
      frac(size(filter(lines, l =>
        substring(l, -1, 1).isin(".", "!", "?", "\"")))).as("punct_frac"),
      frac(size(filter(lines, l =>
        substring(l, 1, 2).isin("- ", "* ")))).as("bullet_frac"),
      when(n === 0, lit(0.0)).otherwise(
        round(aggregate(lines, lit(0L), (a, l) => a + length(l)).cast("double") /
          n.cast("double"), 6)).as("mean_line_chars"))
  }

  /** Top-k terms per document by tf-idf (tf · ln(N/df)) — the classic
    * keyword-extraction / dataset-card signal. Deterministic tiebreak
    * (score desc, term asc) so the result is oracle-checkable.
    *
    * Scale: tf is one (id, term) aggregate off the token explode; df
    * reduces that same relation to vocab-sized rows and joins back as a
    * broadcast; N is a one-row aggregate joined by cross-broadcast, not a
    * driver `count()`. The top-k is a per-doc WindowGroupLimit — map-side
    * pruned, never a global sort of the full (doc × term) relation.
    */
  def tfIdfTopK(df: DataFrame, textCol: String, idCol: String,
                k: Int): DataFrame = {
    // ONE shuffle of doc rows up front: HashPartitioning(id) satisfies
    // both the (id, term) aggregate's and the per-id top-k window's
    // clustering, so the exploded token relation (~100× the doc rows)
    // never crosses an exchange — tokens are derived and reduced where
    // their document lands. Without this, the plan shuffles the exploded
    // tokens for the aggregate and the tf rows again for the window.
    val t = toks(df, textCol, idCol).repartition(col("id"))
    // (id, term, tf) cached: the df aggregate reduces THIS relation and
    // the scoring join consumes it again — without the cache the explode +
    // aggregate subtree evaluates twice per call (caller-released via
    // [[graft.CacheScope.releaseAll]])
    val tf = graft.CacheScope.cache(
      t.select(col("id"), explode(col("toks")).as("term"))
        .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"),
        (col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double"))).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("term"), col("rank"),
        round(col("score"), 6).as("score"))
  }

  /** Top-k bigram collocations by pointwise mutual information —
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over adjacent-pair
    * positions and p(·) over token positions (Church &amp; Hanks, CL 1990).
    * The `minCount` floor removes the classic PMI pathology (hapax pairs
    * scoring highest); score is rounded to 6 decimals BEFORE ranking and
    * ties break (prev, tok), so the top-k is reproducible across engines.
    * The standard collocation-mining step behind tokenizer vocab audits
    * and boilerplate phrase discovery.
    *
    * Scale: adjacent pairs are INTRA-document, so they are derived
    * array-locally in the scan stage (`zip_with` of the token array with
    * its own 1-shift — no window, no per-doc sort, no exchange of token
    * positions). Both count aggregates are map-side combined and
    * vocabulary-bounded (pairs by observed bigrams, far under vocab² by
    * Zipf); the two corpus totals are one-row aggregates read as driver
    * scalars; the top-k is a TakeOrdered (per-partition heaps), not a
    * global sort.
    */
  def pmiCollocations(df: DataFrame, textCol: String, idCol: String,
                      minCount: Int = 5, k: Int = 50): DataFrame = {
    // (id, toks) cached: feeds the pair aggregate AND the unigram
    // aggregate (caller-released via [[graft.CacheScope.releaseAll]])
    val base = graft.CacheScope.cache(toks(df, textCol, idCol))
    val pairs = base.select(explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => struct(a.as("prev"), b.as("tok")))).as("pr"))
      .select(col("pr.prev").as("prev"), col("pr.tok").as("tok"))
    val pos = base.select(explode(col("toks")).as("tok"))
    val big = pairs.groupBy(col("prev"), col("tok"))
      .agg(count(lit(1)).as("cb"))
    val uni = pos.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    val r = big.agg(sum(col("cb"))).head()
    val nBig = if (r.isNullAt(0)) 0L else r.getLong(0)
    val r2 = uni.agg(sum(col("cu"))).head()
    val nUni = if (r2.isNullAt(0)) 0L else r2.getLong(0)
    val cup = uni.select(col("tok").as("prev"), col("cu").as("cup"))
    big.filter(col("cb") >= minCount)
      .join(broadcast(cup), Seq("prev"))
      .join(broadcast(uni), Seq("tok"))
      .select(col("prev"), col("tok"), col("cb"),
        round(log((col("cb").cast("double") / lit(nBig.toDouble)) /
          ((col("cup").cast("double") / lit(nUni.toDouble)) *
            (col("cu").cast("double") / lit(nUni.toDouble)))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("prev"), col("tok"))
      .limit(k)
  }

  /** Per-source KL divergence from the corpus unigram distribution over
    * the corpus top-`topV` vocabulary — the data-mixture drift report:
    * which sources' token distributions diverge most from the blend they
    * feed (the diagnostic behind mixture re-weighting and contamination
    * triage). Distributions are restricted to the shared top-V vocab and
    * renormalized on it, so KL(src ‖ corpus) = Σ p·ln(p/q) is finite term
    * by term (q &gt; 0 everywhere on the support; tokens the source lacks
    * contribute 0). Top-V selection ties break alphabetically; the sum is
    * ordered by token via per-source rounding AFTER the aggregate, making
    * the scalar reproducible.
    *
    * Scale: one corpus-vocab aggregate (map-side combined), a broadcast
    * top-V semi join that prunes the token stream at the scan, then a
    * (source × V)-bounded aggregate — sources are enum-sized, V is a
    * constant, so every post-scan relation is tiny. Driver sees one
    * scalar (the top-V mass).
    */
  def sourceDivergence(df: DataFrame, textCol: String, srcCol: String,
                       topV: Int = 256): DataFrame = {
    // (source, tok) cached: feeds the corpus-vocab aggregate AND the
    // per-source counts (caller-released)
    val tok = graft.CacheScope.cache(
      df.select(col(srcCol).as("source"),
          explode(TextAnalysis.asciiTokens(col(textCol))).as("tok")))
    val corpus = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // cached: `top` feeds THREE consumers (the nTop scalar, the
    // semi-join's broadcast side, the final ratio join) — uncached, each
    // re-ran the corpus-vocabulary aggregate + TakeOrdered over the
    // cached token stream (guide §2.4). ≤ topV rows.
    val top = graft.CacheScope.cache(
      corpus.orderBy(col("c").desc, col("tok")).limit(topV))
    val r = top.agg(sum(col("c"))).head()
    val nTop = if (r.isNullAt(0)) 0L else r.getLong(0)
    val srcC = tok.join(broadcast(top.select(col("tok"))), Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cs"))
    val srcN = srcC.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    srcC.join(broadcast(srcN), Seq("source"))
      .join(broadcast(top), Seq("tok"))
      .select(col("source"), col("ns"),
        ((col("cs").cast("double") / col("ns").cast("double")) *
          log((col("cs").cast("double") / col("ns").cast("double")) /
            (col("c").cast("double") / lit(nTop.toDouble)))).as("term"))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_toks_topv"), round(sum(col("term")), 6).as("kl"))
      .orderBy(col("source"))
  }
}
