package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators (north star, BASELINE.json): dedup,
  * similarity search, text analysis, multimodal columns — over the
  * `documents` / `embeddings` tables. Oracles where DuckDB can express the
  * same deterministic computation; rows-only where the op hinges on hash
  * functions DuckDB lacks (minhash/simhash/xxhash64).
  */
object LlmQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Driver-held coarse/PQ model vectors: the first `n` embeddings in
    * vec_id order — the ONE construction every IVF/PQ gate (batch and
    * streaming) and the recall gate build their index from, so the
    * gates can never drift from the oracles they share. Routed through
    * [[Similarity.collectModelVectors]] so the pull carries the
    * enforced driver-vector budget. */
  private def modelVectors(s: SparkSession, dir: String,
                           n: Int): Seq[Seq[Double]] =
    Similarity.collectModelVectors(emb(s, dir), "vec_id", "embedding", n)

  /** The four kNN engines, factored so the `s_knn_*` gates and the
    * `s_ann_recall` recall gate drive the IDENTICAL builds — a recall
    * number computed over a drifted variant of a method would be
    * meaningless. Raw outputs (qid, id, cosine/adc, rank). */
  private def knnBruteRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceKnn(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
  }

  private def knnLshRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val m = e.count() / 32
    val nBits = math.min(20, math.max(4,
      if (m >= 1) 63 - java.lang.Long.numberOfLeadingZeros(m) else 0))
    Similarity.lshKnn(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 5, dim = 64, nBits = nBits, tables = 4)
  }

  private def knnIvfRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val centroids = modelVectors(s, dir, 3)
    Similarity.ivfKnn(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      centroids, nProbe = 2, k = 5)
  }

  private def knnPqRerankRaw(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cb = modelVectors(s, dir, 4)
    Similarity.pqKnnRerank(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      cb, m = 8, k = 5, shortlist = 20)
  }

  /** THE near-dup pair graph of the corpus — one definition shared by
    * every consumer (`d_ngram_jaccard`, `d_dedup_clusters`,
    * `d_soft_weights`, `d_cluster_keep_best`) so their plans cannot drift
    * apart through alias or parameter changes in hand-copied variants.
    * `jaccardPairsExact` caches only its shingles here: corpora up to
    * sf0.1 are joined on the driver each time a query is built, so every
    * bench run of a consumer pays pair generation in its own window.
    */
  private def jacPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsExact(
        docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
          col("text")),
        "text", "doc_id", Seq("source", "lang"),
        shingleSize = 3, threshold = 0.2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jac"))
      .filter(col("jac") >= 0.2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- text analysis ----------------
    "t_token_count" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_toks"),
          round(TextAnalysis.charsPerToken(col("text")), 6).as("chars_per_tok"))
        .orderBy("doc_id")),

    "t_stopword_ratio" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          round(TextAnalysis.stopwordRatio(col("text")), 6).as("sw_ratio"))
        .orderBy("doc_id")),

    "t_quality_score" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    "t_lang_id" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // PII redaction, de-vacuated: synthetic per-doc PII (email/IP/phone
    // derived from doc_id) is appended to the text so the redaction has
    // real matches; the oracle builds the identical string and applies the
    // identical RE2-safe patterns. Compared via md5 of the redacted text.
    "t_redact_pii" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          md5(TextAnalysis.redactPii(concat(
            col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com from 10.0."),
            (col("doc_id") % 256).cast("string"),
            lit(".7 or call +1 555 0123 456 now")))).as("red_md5"))
        .orderBy("doc_id")),

    // Gopher-style repetition filter: fraction of duplicated word bigrams.
    // Tokens materialized once (HOF lambdas re-evaluate referenced subtrees).
    "t_dup_ngram_ratio" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.asciiTokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          round(TextAnalysis.dupNgramFraction(col("__toks"), 2), 6)
            .as("dup_ratio"))
        .orderBy("doc_id")),

    "t_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Rolling polynomial hash — pure mod-1e9+7 integer arithmetic, so
    // the oracle replays it exactly in SQL (stale "rows-only" note
    // removed r11; the oracle has existed since the query shipped).
    "t_rolling_hash" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.rollingHash(col("text")).as("rh"))
        .orderBy("doc_id")),

    // ---------------- dedup ----------------
    "d_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "text", "doc_id")
        .select(col("doc_id")).orderBy("doc_id")),

    "d_dedup_fingerprint" -> ((s, dir) =>
      Dedup.byFingerprint(docs(s, dir), "text", "doc_id")
        .select(col("doc_id")).orderBy("doc_id")),

    // INCREMENTAL ingest dedup — adjudicate a new-crawl DELTA against the
    // standing corpus digest index (Dedup.incrementalExact): the shape a
    // recurring 100 TB pipeline actually runs — nothing global is ever
    // re-deduped; the delta joins the index. The corpus has no natural
    // cross-split exact dups, so they are SYNTHESIZED deterministically
    // (the d_semantic_dedup pattern): delta = doc_id%10 >= 8; a delta doc
    // with doc_id%30 == 8 takes the text of corpus doc (id−1), %30 == 19
    // takes the text of plain delta doc (id−10) — so all three verdicts
    // (new / dup_of_corpus / dup_in_delta) occur at every sf, and the
    // existing-wins + min-id-within-delta precedence is what the hash
    // checks.
    "d_incremental_dedup" -> ((s, dir) => {
      val all = docs(s, dir).select(col("doc_id"), col("text"))
      val existing = all.filter(col("doc_id") % 10 < 8)
      val corpusSrc = all.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("src_corpus"))
      val deltaSrc = all.select((col("doc_id") + 10).as("doc_id"),
        col("text").as("src_delta"))
      val delta = all.filter(col("doc_id") % 10 >= 8)
        .join(corpusSrc, Seq("doc_id"), "left")
        .join(deltaSrc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 30 === 8,
              coalesce(col("src_corpus"), col("text")))
            .when(col("doc_id") % 30 === 19,
              coalesce(col("src_delta"), col("text")))
            .otherwise(col("text")).as("text"))
      Dedup.incrementalExact(existing, delta, "text", "doc_id")
        .orderBy("id")
    }),

    // Exact n-gram Jaccard with (source, lang) block semantics — prefix-
    // filtered set-similarity join (Dedup.jaccardPairsExact): same result
    // set as the all-pairs join, but candidates come from a fine-grained
    // (block, shingle) equi-join, so a hot block can't go quadratic.
    "d_ngram_jaccard" -> ((s, dir) =>
      jacPairs(s, dir).orderBy("id_a", "id_b")),

    // Asymmetric containment pairs: |A∩B|/min — quotes/excerpts Jaccard
    // misses; exact within (source, lang) blocks.
    "d_ngram_containment" -> ((s, dir) =>
      Dedup.containmentPairsExact(
          docs(s, dir).select(col("doc_id"), col("source"), col("lang"),
            col("text")),
          "text", "doc_id", Seq("source", "lang"),
          shingleSize = 3, threshold = 0.6)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("cont"))
        .filter(col("cont") >= 0.6)
        .orderBy("id_a", "id_b")),

    // C4-style sentence-level dedup signal: per-doc fraction of sentences
    // whose normalized hash appears in more than one document.
    "d_dup_sentence_frac" -> ((s, dir) =>
      Dedup.dupSentenceFraction(docs(s, dir), "text", "doc_id")
        .select(col("id").as("doc_id"),
          round(col("dup_sent_frac"), 6).as("dup_frac"))
        .orderBy("doc_id")),

    // Near-dup clusters: connected components over the exact-Jaccard pair
    // graph; the label IS the canonical (keep) doc per cluster.
    "d_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(jacPairs(s, dir))
        .select(col("id").as("doc_id"), col("label").as("canonical"))
        .orderBy("doc_id")),

    // Soft deduplication: DOWNWEIGHT duplicate clusters instead of
    // dropping members — each doc trains with weight 1/cluster-size
    // (integer ppm so the division is engine-exact), singletons at full
    // weight. The reweighting alternative to hard dedup (sampling
    // proportional to 1/count preserves corpus diversity while removing
    // the duplication gradient bias); reuses the SAME shared pair graph
    // and connected components as d_dedup_clusters.
    "d_soft_weights" -> ((s, dir) => {
      val labels = Dedup.dedupClusters(jacPairs(s, dir))
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("sz"))
      docs(s, dir).select(col("doc_id"))
        .join(labels.join(sizes, Seq("label"))
            .select(col("id").as("doc_id"), col("sz")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("sz"), lit(1L)).as("cluster_size"),
          expr("1000000 div coalesce(sz, CAST(1 AS BIGINT))").as("weight_ppm"))
        .orderBy("doc_id")
    }),

    // Near-dup clusters with KEEP-BEST canonical: real pipelines keep the
    // highest-quality member of each duplicate cluster, not the smallest
    // id — the integrated dedup→quality composition.
    "d_cluster_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val labels = Dedup.dedupClusters(jacPairs(s, dir))
      val q = d.select(col("doc_id").as("id"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("q"))
      // lq feeds BOTH the best-per-cluster aggregate and the final join:
      // without a cache the clustering output and the quality scan
      // re-evaluate once per consumer (measured ~2x the cold path).
      val lq = graft.CacheScope.cache(labels.join(q, Seq("id")))
      // max(struct(q, -id)) = highest quality, ties to the smallest id
      val best = lq.groupBy(col("label"))
        .agg(max(struct(col("q"), (-col("id")).as("nid"))).as("b"))
        .select(col("label"), (-col("b.nid")).as("keep_id"),
          col("b.q").as("keep_q"))
      lq.join(best, Seq("label"))
        .select(col("id").as("doc_id"), col("label").as("cluster"),
          col("keep_id"), col("keep_q"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: docs sharing any 8-gram with the "eval
    // set" (docs 0-4 stand in) get a positive distinct-hit count.
    "d_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(d, "text", "doc_id",
          d.filter(col("doc_id") < 5), "text", n = 8)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    }),

    // Bloom-filter decontamination: eval 8-grams compressed to a 2^20-bit
    // filter (broadcast ~128 KiB however large the eval set); flags are a
    // superset of d_decontaminate's with one-sided error.
    "d_bloom_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.bloomDecontaminate(d, "text", "doc_id",
          d.filter(col("doc_id") < 5), "text", n = 8)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_hits"),
          col("flagged"))
        .orderBy("doc_id")
    }),

    // Eval-side contamination report (decontaminate transposed): per
    // eval doc (0-4), the fraction of its distinct 8-grams found anywhere
    // in the rest of the corpus — the benchmark-card overlap number.
    "d_eval_overlap" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.evalOverlapReport(d.filter(col("doc_id") >= 5), "text",
          d.filter(col("doc_id") < 5), "text", "doc_id", n = 8)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_overlap"),
          col("overlap_frac"))
        .orderBy("doc_id")
    }),

    // N-gram novelty vs a reference corpus (memorization audit): the
    // fraction of a doc's distinct 3-grams ABSENT from the reference —
    // reference docs score ~0, genuinely new text scores near 1.
    "t_ngram_novelty" -> ((s, dir) => {
      val d = docs(s, dir)
      val ref = d.filter(col("doc_id") < 250)
        .select(explode(TextAnalysis.wordShingles(col("text"), 3)).as("sh"))
        .select(md5(col("sh")).as("h")).distinct()
      val grams = d.select(col("doc_id"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("h")).distinct()
      val agg = grams
        .join(broadcast(ref.withColumn("hit", lit(1))), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("doc_id"), col("n_grams"),
          round(lit(1.0) - col("n_hit").cast("double") /
            col("n_grams").cast("double"), 6).as("novelty"))
      d.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          col("novelty"))
        .orderBy("doc_id")
    }),

    // MinHash-LSH near-dup pairs — full hash oracle since round 11:
    // XXH64 itself is reproduced in the DuckDB SQL (XxhashOracleSql).
    "d_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), "text", "doc_id",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.2)
        .orderBy("id_a", "id_b")),

    // SimHash near-dup pairs — full hash oracle since round 11
    // (XxhashOracleSql.simhashPairsSql).
    "d_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "text", "doc_id", maxHamming = 8)
        .orderBy("id_a", "id_b")),

    // Embedding-cosine near-dup pairs, blocked by label (the shard key):
    // two-tier guarded (Similarity.cosinePairsBlocked) — blocks within the
    // cap verify exactly (all pairs), oversized blocks route through
    // LSH-bucketed candidates, so no label can go unboundedly quadratic.
    "d_embed_neardup" -> ((s, dir) =>
      Similarity.cosinePairsBlocked(emb(s, dir), "vec_id", "embedding",
          "label", threshold = 0.4, maxExactBlock = 4096)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy("id_a", "id_b")),

    // Subword (BPE-ish regex) token counts — boundaries marked by
    // capture-group space insertion (no lookarounds), so the identical
    // RE2-safe patterns run in the SQL oracle (stale "rows-only" note
    // removed r11; the oracle has existed since the query shipped).
    "t_subword_count" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")),

    // Edit distance between consecutive docs per source (windowed single
    // pass — the fuzzy-dedup verification metric on short fields).
    "t_edit_distance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      docs(s, dir)
        .withColumn("prev", lag(substring(col("text"), 1, 60), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("doc_id"),
          TextAnalysis.editDistance(substring(col("text"), 1, 60), col("prev"))
            .as("dist"))
        .orderBy("doc_id")
    }),

    // Phonetic blocking key — oracle-checked against a DuckDB list_reduce
    // replication of the soundex automaton (see oracleSql).
    "t_phonetic_key" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.phoneticKey(col("text")).as("pk"))
        .orderBy("doc_id")),

    // ---------------- similarity search ----------------
    // Brute-force exact top-5 cosine for 3 query vectors.
    "s_knn_brute" -> ((s, dir) =>
      knnBruteRaw(s, dir)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cos"),
          col("rank"))
        .orderBy("qid", "rank")),

    // LSH-bucketed ANN — splitmix64 hyperplanes (full hash oracle since
    // round 11: HyperplaneOracleSql reproduces the sign matrix, buckets,
    // probes, and cosine rank bit-exactly in DuckDB). nBits scales with
    // corpus size for ~32-vector bucket occupancy: fixed nBits either
    // over-partitions a small corpus (recall collapses to self-matches) or
    // under-partitions a large one (scan fraction grows); constant occupancy
    // keeps per-query candidate work bounded as the corpus scales to 100 TB.
    // Sizing here uses the EXACT row count (a zero-column parquet scan —
    // footer-driven, one lightweight job) through integer bit-length
    // arithmetic, because the oracle must derive the SAME nBits and an FP
    // log could flip the floor at n = 32·2^k. Callers that cannot afford
    // any job still have Similarity.approxRowCount (plan-stats estimate —
    // environment-dependent, hence not used by this oracle-checked gate).
    // 4 OR-amplified tables lift recall to the ≥0.8 ApproxBoundsSpec bound.
    "s_knn_lsh" -> ((s, dir) =>
      knnLshRaw(s, dir)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cos"),
          col("rank"))
        .orderBy("qid", "rank")),

    // IVF ANN: probe the 2 nearest of 3 fixed cells, exact top-5 within.
    // Deterministic (no hashing) → fully oracle-checkable, unlike LSH.
    "s_knn_ivf" -> ((s, dir) =>
      knnIvfRaw(s, dir)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cos"),
          col("rank"))
        .orderBy("qid", "rank")),

    // Special-token poisoning audit + scrub over synthesized injections
    // (same synthesize-then-verify pattern as t_redact_pii).
    "t_token_scrub" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" <|endoftext|>"),
            when(col("doc_id") % 4 === 0, lit(" <s>pad</s>")).otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit(" [INST]x[/INST]"))
              .otherwise(lit(""))).as("poisoned"))
        .select(col("doc_id"),
          TextAnalysis.specialTokenCount(col("poisoned")).cast("long")
            .as("n_special"),
          md5(TextAnalysis.scrubSpecialTokens(col("poisoned"))).as("scrub_md5"))
        .orderBy("doc_id")),

    // URL canonicalization over synthesized crawl URLs (same synthesize-
    // then-verify pattern as t_redact_pii): case, default port, utm_*
    // params, fragment, query order all normalized away.
    "t_url_normalize" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          concat(
            lit("HTTPS://WWW.Example"), (col("doc_id") % 20).cast("string"),
            lit(".COM:443/Path/"), col("doc_id").cast("string"),
            lit("?utm_source=feed&b=2&a=1&utm_campaign=c"),
            when(col("doc_id") % 3 === 0, lit("#frag")).otherwise(lit("")))
            .as("url"))
        .select(col("doc_id"),
          TextAnalysis.normalizeUrl(col("url")).as("url_norm"))
        .orderBy("doc_id")),

    // URL-keyed dedup (the CommonCrawl first pass): recrawl variants —
    // same page modulo tracking params / fragment / case — collapse onto
    // one canonical URL, keeping the longest capture. URLs are
    // synthesized with doc_id%7 x doc_id%13 page identity so ~each
    // canonical URL carries several competing captures.
    "d_url_dedup" -> ((s, dir) => {
      val u = docs(s, dir).select(col("doc_id"), col("n_chars"),
        concat(
          lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
          lit(".COM:443/Page/"), (col("doc_id") % 13).cast("string"),
          lit("?utm_source=feed&b=2&a=1&utm_campaign=c"),
          when(col("doc_id") % 3 === 0, lit("#frag")).otherwise(lit("")))
          .as("url"))
      Dedup.urlDedup(u, "url", "n_chars", "doc_id")
        .select(col("id").as("doc_id"), col("url_norm"), col("keep_len"))
        .orderBy("doc_id")
    }),

    // Domain-level quality gate: per-host mean quality (with a
    // deterministic per-domain bias so the synthesized hosts genuinely
    // differ) drops low-quality and too-thin hosts wholesale — the
    // C4/RefinedWeb bad-host filter computed from the data.
    "d_domain_filter" -> ((s, dir) => {
      val scored = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 1000 === 0, lit("rare.example.com"))
          .otherwise(concat(lit("www.example"),
            (col("doc_id") % 7).cast("string"), lit(".com"))).as("domain"),
        round(TextAnalysis.qualityScore(col("text")) * lit(0.5) +
          (col("doc_id") % 7).cast("double") * lit(0.05), 6).as("q"))
      Dedup.domainQualityFilter(scored, "domain", "q", "doc_id",
          minMeanQuality = 0.6, minDocs = 6L)
        .select(col("id").as("doc_id"), col("domain"), col("domain_docs"),
          col("domain_mean_q"))
        .orderBy("doc_id")
    }),

    // Contrastive triplet mining: hardest positive + hardest negative
    // per anchor (FaceNet-style batch mining over the labeled corpus).
    "s_hard_triplets" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.hardTriplets(e, "vec_id", "embedding", "label",
          e.filter(col("vec_id") < 3))
        .orderBy("qid")
    }),

    // LASER-style bitext mining: label 0 = query batch, label 1 =
    // candidate pool; best match per query by hubness-normalized margin.
    "s_bitext_margin" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bitextMarginMine(
          e.filter(col("label") === 0 && col("vec_id") < 100),
          e.filter(col("label") === 1),
          "vec_id", "embedding", k = 4)
        .orderBy("xid")
    }),

    // Exact MIPS top-5 (inner product, not cosine — the dual-encoder
    // retrieval order).
    "s_knn_mips" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceMips(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
        .select(col("qid"), col("id"), round(col("ip"), 6).as("ip"),
          col("rank"))
        .orderBy("qid", "rank")
    }),

    // PQ encode: 64-dim → 8 sub-codes against a 4-entry codebook (the
    // first 4 vectors, IVF-style deterministic seeds), packed into one
    // 16-bit word so the compare is a portable BIGINT, not a list.
    "s_pq_codes" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = modelVectors(s, dir, 4)
      Similarity.pqEncode(e, "vec_id", "embedding", cb, m = 8)
        .select(col("id").as("vec_id"),
          (0 until 8).map(mi =>
            shiftleft(col("codes").getItem(mi).cast("long"), 2 * mi))
            .reduce(_ + _).as("pq_word"))
        .orderBy("vec_id")
    }),

    // PQ asymmetric-distance top-5: exact queries against coded corpus
    // vectors — deterministic table lookups, fully oracle-checkable.
    "s_knn_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = modelVectors(s, dir, 4)
      Similarity.pqKnn(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding",
          cb, m = 8, k = 5)
        .select(col("qid"), col("id"), round(col("adc"), 6).as("adc"),
          col("rank"))
        .orderBy("qid", "rank")
    }),

    // Two-stage PQ serving: ADC shortlist (R=20) then exact-cosine rerank
    // to top-5 — exact math touches queries x 20 vectors, never the corpus.
    "s_knn_pq_rerank" -> ((s, dir) =>
      knnPqRerankRaw(s, dir)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cos"),
          col("rank"))
        .orderBy("qid", "rank")),

    // ANN recall gate: per-query integer overlap@5 of each approximate
    // engine's id set against the brute-force truth — both engines
    // (Spark and the DuckDB oracle) rebuild the SAME deterministic
    // candidate sets, so recall is a pure integer and fully hash-
    // checkable. This moves the recall >= 0.8 pin out of the test suite
    // (ApproxBoundsSpec) and into the driver's per-round gate, where an
    // ANN-quality regression turns a cell red instead of failing CI
    // silently later. The truth set is 3 queries x 5 — driver-side
    // bounded; every heavy build is the gated engines' own plan.
    "s_ann_recall" -> ((s, dir) => {
      import s.implicits._
      // NOT cached (round-22 A/B): persisting emb once for all four
      // engines cut the audit to 1 parquet scan but measured SLOWER both
      // runs (median 0.98 → 1.42/1.79 s, cold 1.71 → 3.65 s) — the
      // engines' column-pruned parquet scans of the 0.8 MB table are
      // cheaper than the cache materialization + InMemoryTableScan
      // substitution it forces into every engine plan (guide §1.1: the
      // "ideal" plan lost to the measurement). The 10 scans stand: each
      // engine's plan is deliberately the gated s_knn_* build.
      val brute = graft.CacheScope.cache(
        knnBruteRaw(s, dir).select(col("qid"), col("id")))
      val approx =
        knnLshRaw(s, dir).select(lit("lsh").as("method"),
            col("qid"), col("id"))
          .unionAll(knnIvfRaw(s, dir).select(lit("ivf").as("method"),
            col("qid"), col("id")))
          .unionAll(knnPqRerankRaw(s, dir).select(
            lit("pq_rerank").as("method"), col("qid"), col("id")))
      val hits = approx.join(brute, Seq("qid", "id"))
        .groupBy(col("method"), col("qid"))
        .agg(count(lit(1)).as("hits"))
      brute.select(col("qid")).distinct()
        .crossJoin(broadcast(
          Seq("lsh", "ivf", "pq_rerank").toDF("method")))
        .join(hits, Seq("method", "qid"), "left")
        .select(col("method"), col("qid"),
          coalesce(col("hits"), lit(0L)).cast("long").as("hits"),
          lit(5L).as("k"))
        .orderBy("method", "qid")
    }),

    // Residual IVF-PQ top-5 — the FAISS IVFPQ index end-to-end: coarse
    // cells (first 3 vectors as centroids), PQ codes of the RESIDUAL
    // v − centroid(cell), 2-cell probe with per-(query, cell) residual
    // ADC tables. Deterministic table lookups, fully oracle-checkable.
    "s_knn_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = modelVectors(s, dir, 3)
      val cb = modelVectors(s, dir, 4)
      Similarity.ivfPqKnn(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding",
          centroids, cb, m = 8, nProbe = 2, k = 5)
        .select(col("qid"), col("id"), round(col("adc"), 6).as("adc"),
          col("rank"))
        .orderBy("qid", "rank")
    }),

    // ONLINE ANN SERVING, gated: a query STREAM probes the static IVF-PQ
    // index per micro-batch — the deployment shape of s_knn_ivfpq (a
    // trained index serving queries as they arrive) — via foreachBatch,
    // the Structured Streaming idiom for batch-only plans (ivfPqKnn's
    // top-k windows are unsupported on streams). The index (centroids +
    // codebook, driver-held; coded corpus, re-planned per batch with the
    // probe side small) is static; per-query results are independent, so
    // the accumulated serving output equals the batch index lookup
    // whatever the replay batching — which is what makes it
    // hash-oracle-able against the SAME s_knn_ivfpq oracle SQL.
    "x_stream_knn" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val centroids = modelVectors(s, dir, 3)
      val cb = modelVectors(s, dir, 4)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding"))
      val stage = java.nio.file.Paths.get("/tmp/graft-streamstage-" +
        java.util.UUID.nameUUIDFromBytes(
          s"$dir|${graft.Tables.dirFingerprint(dir)}|knn_queries"
            .getBytes("UTF-8")).toString)
      if (!java.nio.file.Files.exists(stage.resolve("_SUCCESS")))
        queries.repartition(3).write.mode("overwrite").parquet(stage.toString)
      val stream = s.readStream.schema(queries.schema).format("parquet")
        .option("maxFilesPerTrigger", "1").load(stage.toString)
      s.streams.active
        .filter(q => Option(q.name).contains("x_stream_knn_sink"))
        .foreach(_.stop())
      // serving results are queries×k — bounded, the legitimate collect
      val acc = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double, Int)]
      val q = stream.writeStream.queryName("x_stream_knn_sink")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val served = Similarity.ivfPqKnn(e, "vec_id", "embedding",
                batch, "vec_id", "embedding",
                centroids, cb, m = 8, nProbe = 2, k = 5)
              .select(col("qid"), col("id"),
                round(col("adc"), 6).as("adc"), col("rank"))
              .as[(Long, Long, Double, Int)].collect()
            acc.synchronized { acc ++= served }
            ()
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StreamMetrics.record("x_stream_knn", q)
      acc.toSeq.toDF("qid", "id", "adc", "rank").orderBy("qid", "rank")
    }),

    // RESTART parity for the serving path (round-13 verdict item 5):
    // x_stream_knn's foreachBatch sink is at-least-once, so its recovery
    // story must be PROVEN, not assumed — the same two-phase
    // checkpointed-stop construction as x_stream_restart. Phase 1
    // streams two of the three query files through the IVF-PQ index into
    // a parquet sink and terminates; phase 2 starts a NEW query from the
    // same checkpoint and streams the rest. If the file-source offsets
    // were not recovered, phase 2 would re-serve phase-1 queries and the
    // appended sink would hold duplicate rows — failing the hash oracle
    // (the SAME s_knn_ivfpq batch oracle, because per-query serving
    // results are independent of batching and of the stop). Run dirs go
    // through RestartRuns (fresh per invocation, shutdown-hook cleaned).
    "x_stream_restart_knn" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = modelVectors(s, dir, 3)
      val cb = modelVectors(s, dir, 4)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding"))
      val run = RestartRuns.fresh("knn")
      val in = run.resolve("in")
      java.nio.file.Files.createDirectories(in)
      def publish(q: Int): Unit = {
        // one replay file per query vector (vec_id q−1), pinned mtime so
        // the file source's latestFirst=false ordering is deterministic
        import scala.jdk.CollectionConverters._
        val sub = run.resolve(s"__build$q")
        queries.filter(col("vec_id") === (q - 1)).coalesce(1)
          .write.mode("overwrite").parquet(sub.toString)
        val ls = java.nio.file.Files.list(sub)
        val part =
          try ls.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet part written under $sub"))
          finally ls.close()
        val dst = in.resolve(f"part-$q%05d.parquet")
        java.nio.file.Files.move(part, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + q * 60000L))
      }
      def phase(): Unit = {
        val stream = s.readStream.schema(queries.schema).format("parquet")
          .option("maxFilesPerTrigger", "1").load(in.toString)
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              Similarity.ivfPqKnn(e, "vec_id", "embedding",
                  batch, "vec_id", "embedding",
                  centroids, cb, m = 8, nProbe = 2, k = 5)
                .select(col("qid"), col("id"),
                  round(col("adc"), 6).as("adc"), col("rank"))
                .write.mode("append")
                .parquet(run.resolve("out").toString)
              ()
            }
          }
          .option("checkpointLocation", run.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      publish(1); publish(2); phase() // serve queries 0 and 1, then STOP
      publish(3); phase() // resume from the checkpoint: only query 2 left
      s.read.parquet(run.resolve("out").toString).orderBy("qid", "rank")
    }),

    // MMR diversified re-rank: top-20 brute shortlist → greedy top-5
    // trading relevance against redundancy (λ=0.5) — the de-duplicating
    // re-rank RAG pipelines run. Output is integers only (qid, id,
    // rank), the argmax chain rides on bit-exact cosines.
    "s_mmr_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.mmrDiversify(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding",
          k = 5, shortlist = 20)
        .orderBy("qid", "mmr_rank")
    }),

    // The complete FAISS serving path: residual IVF-PQ ADC shortlist
    // (R=20 over 2 probed cells) then exact-cosine rerank to top-5 —
    // exact math touches queries × 20 vectors, never the corpus.
    "s_knn_ivfpq_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = modelVectors(s, dir, 3)
      val cb = modelVectors(s, dir, 4)
      Similarity.ivfPqKnnRerank(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding",
          centroids, cb, m = 8, nProbe = 2, k = 5, shortlist = 20)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cos"),
          col("rank"))
        .orderBy("qid", "rank")
    }),

    // Johnson–Lindenstrauss random projection 64 → 16 dims with the
    // deterministic splitmix64 ±1 matrix — distance-preserving cheap
    // embeddings for downstream dedup/clustering. √16 = 4 exactly, so
    // the scale division is FP-exact on both engines.
    "s_rand_proj" -> ((s, dir) => {
      val p = Similarity.randomProject(emb(s, dir), "vec_id", "embedding",
        dim = 64, outDim = 16)
      p.select(col("id").as("vec_id") +:
          (0 until 16).map(b => round(col(s"y$b"), 6).as(s"y$b")): _*)
        .orderBy("vec_id")
    }),

    // Int8 embedding quantization — verified via exact integer sum of the
    // quantized vector (list hashing across engines is brittle; the sum
    // pins every element's rounding).
    "s_embed_quant" -> ((s, dir) => {
      // the working scale column is named apart from the rounded DISPLAY
      // column: lateral column alias resolution binds a same-name
      // col("scale") inside the aggregate to the ROUNDED sibling alias,
      // silently quantizing with a 6-dp scale (observed: a 1e30 vector
      // quantized with round(1.27e-28, 6) = 0.0 → qsum 0, not 8128)
      val e = emb(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("__scale", Similarity.int8Scale(col("v")))
      e.select(col("vec_id"),
          round(col("__scale"), 6).as("scale"),
          aggregate(Similarity.quantizeInt8(col("v"), col("__scale")),
            lit(0L), (acc, q) => acc + q.cast("long")).as("qsum"))
        .orderBy("vec_id")
    }),

    // Vector norms (embedding column plumbing sanity).
    "s_vec_norm" -> ((s, dir) =>
      emb(s, dir)
        .select(col("vec_id"),
          round(Similarity.norm(transform(col("embedding"), _.cast("double"))), 6)
            .as("nrm"))
        .orderBy("vec_id")),

    // IVF coarse assignment with the first 3 vectors as fixed centroids.
    "s_ivf_assign" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = modelVectors(s, dir, 3)
      Similarity.ivfAssign(e, "embedding", centroids)
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),

    // ---------------- multimodal ----------------
    // Audio tier: REAL s16le PCM payloads synthesized from an integer
    // waveform, decoded back via ByteBuffer in the scan stage; the
    // curation signals (exact energy, peak, zero crossings) are pure
    // integers, and the oracle recomputes them from the waveform
    // FORMULA — matching proves the encode→decode byte roundtrip (the
    // mm_phash_dedup pattern).
    "mm_audio_features" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        (col("doc_id") % 8).as("tone"),
        (lit(64) + col("doc_id") % 32).as("n"))
      Multimodal.pcmFeatures(Multimodal.synthesizePcm(base, "tone", "n"))
        .select(col("doc_id"), col("n_samples"), col("sum_sq"),
          col("peak"), col("zero_cross"))
        .orderBy("doc_id")
    }),

    "mm_media_stats" -> ((s, dir) => {
      val media = Multimodal.asMedia(docs(s, dir), "text", "text/plain")
      Multimodal.mediaStats(media)
        .select(col("doc_id"), col("byteLen"), col("contentMd5"),
          col("sniffedType"))
        .orderBy("doc_id")
    }),

    // REAL image decode end-to-end: each doc synthesizes a deterministic
    // PNG (dims derived from doc_id/text length), and decodeFeatures parses
    // those bytes back through javax.imageio. The oracle recomputes the
    // dimension formulas in DuckDB — a decoder that doesn't actually parse
    // the PNG header cannot match it.
    "mm_decode_features" -> ((s, dir) => {
      val staged = docs(s, dir).select(col("doc_id"), col("text"))
        .withColumn("w0", (lit(1) + octet_length(col("text")) % 64).cast("int"))
        .withColumn("h0", (lit(1) + col("doc_id") % 48).cast("int"))
      val media = Multimodal.synthesizePng(staged, "w0", "h0", "doc_id")
      Multimodal.decodeFeatures(s, media)
        .select(col("doc_id"), col("features.width").as("w"),
          col("features.height").as("h"),
          col("features.channels").as("channels"))
        .orderBy("doc_id")
    }),

    // Frame-sample plumbing (1→N chunk explode) — deterministic and
    // SQL-expressible: chunk count per doc.
    "mm_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asMedia(docs(s, dir), "text", "text/plain")
      Multimodal.frameSample(media, "media.body", chunkBytes = 64, stride = 2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"))
        .orderBy("doc_id")
    }),

    // LAION-style perceptual image dedup over a REAL decode: 32 pattern
    // classes of synthesized PNGs (per-image brightness jitter — which
    // the integer average-hash provably cancels), decoded back through
    // javax.imageio and grouped by the 8×8 luminance signature. The
    // oracle recomputes the signature from the pixel formula with pure
    // integer SQL — a hash that didn't read the actual decoded pixels
    // cannot match it. At scale the groupBy shuffles 64-byte signatures,
    // never pixels.
    "mm_phash_dedup" -> ((s, dir) => {
      val staged = docs(s, dir).select(col("doc_id"))
        .withColumn("cls", col("doc_id") % 32)
        .withColumn("jit", (col("doc_id") % 16).cast("int"))
        .withColumn("w0", (lit(8) + (col("cls") * 5) % 56).cast("int"))
        .withColumn("h0", (lit(8) + (col("cls") * 7) % 40).cast("int"))
      val media = Multimodal.synthesizePatternPng(staged, "w0", "h0", "cls", "jit")
      Multimodal.imageAvgHashBits(media)
        .groupBy(col("phash_bits"))
        .agg(count(lit(1)).as("n_imgs"), min(col("doc_id")).as("keep_id"))
        .select(col("phash_bits"), col("n_imgs"), col("keep_id"))
        .orderBy("keep_id")
    }),

    // Resize in the pipeline: patterned PNGs → deterministic
    // nearest-neighbor 16×12 resize (REAL decode + re-encode) → decode
    // AGAIN and signature the resized pixels. The oracle composes the two
    // integer nearest-neighbor mappings — proof the emitted bytes are a
    // genuine resized image of the decoded source, not metadata surgery.
    "mm_resize_hash" -> ((s, dir) => {
      val staged = docs(s, dir).select(col("doc_id"))
        .withColumn("cls", col("doc_id") % 32)
        .withColumn("jit", (col("doc_id") % 16).cast("int"))
        .withColumn("w0", (lit(8) + (col("cls") * 5) % 56).cast("int"))
        .withColumn("h0", (lit(8) + (col("cls") * 7) % 40).cast("int"))
      val media = Multimodal.synthesizePatternPng(staged, "w0", "h0", "cls", "jit")
      val resized = Multimodal.imageResizeNearest(media, "media.body", 16, 12)
      Multimodal.imageAvgHashBits(resized, "resized.body")
        .select(col("doc_id"), col("phash_bits"))
        .orderBy("doc_id")
    })
  )

  /** The DuckDB mirror of [[TextAnalysis.normalizeUrl]] as a reusable CTE
    * chain: `urlExpr` synthesizes the raw URL; `extra` carries additional
    * document columns (", col, …") through to the final `normed` CTE.
    * ONE definition so every URL-consuming oracle (t_url_normalize,
    * d_url_dedup) verifies against the same normalization semantics.
    */
  private def urlNormCte(urlExpr: String, extra: String = ""): String =
    s"""u AS (
       |  SELECT doc_id$extra, $urlExpr AS url FROM documents),
       |s1 AS (SELECT *, regexp_replace(url, '#.*', '', 'g') AS base FROM u),
       |s2 AS (SELECT *,
       |    regexp_extract(base, '\\?(.*)$$', 1) AS query,
       |    regexp_replace(base, '\\?.*$$', '', 'g') AS path FROM s1),
       |s3 AS (SELECT *,
       |    regexp_extract(path, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1) AS head
       |  FROM s2),
       |s4 AS (SELECT *,
       |    regexp_replace(regexp_replace(lower(head),
       |      '^(https://[^/:]+):443$$', '\\1'), '^(http://[^/:]+):80$$', '\\1') AS headn,
       |    substr(path, length(head) + 1) AS rest FROM s3),
       |s5 AS (SELECT *,
       |    list_sort(list_filter(string_split(query, '&'),
       |      p -> NOT starts_with(p, 'utm_') AND p <> '')) AS params FROM s4),
       |normed AS (SELECT doc_id$extra, headn || rest ||
       |  CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
       |       ELSE '' END AS url_norm
       |FROM s5)""".stripMargin

  /** The DuckDB mirror of [[TextAnalysis.qualityScore]] (an expression
    * over a `text` column) — shared by t_quality_score, p_filter_pipeline
    * and d_domain_filter so the quality arithmetic cannot drift between
    * oracles.
    */
  private[queries] val duckQuality: String =
    """CAST(round(
      |  (CASE WHEN length(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4 +
      |  (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
      |     AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.3 THEN 1.0 ELSE 0.0 END) * 0.3 +
      |  (CASE WHEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |     x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
      |       'that','for','on','with','as','was','at','by','be','this'], x)))
      |     AS DOUBLE) / CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) > 0.01
      |   THEN 1.0 ELSE 0.0 END) * 0.3, 4) AS DOUBLE)""".stripMargin

  /** Shared CTE prefix for the two residual-IVF-PQ oracles: coarse cell
    * assignment, residual codes, query probes, per-(query, cell) ADC
    * tables, and the ADC-scored candidate relation. The operator-order
    * notes live on the `s_knn_ivfpq` entry below.
    */
  private val ivfpqScoredCtes: String =
    """WITH cent AS (SELECT vec_id AS cl, embedding AS cv FROM embeddings WHERE vec_id < 3),
      |cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < 4),
      |sub AS (SELECT unnest(range(0, 8)) AS m),
      |cd AS (
      |  SELECT e.vec_id, cent.cl,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.cv[i] AS DOUBLE)) *
      |           (CAST(e.embedding[i] AS DOUBLE) - CAST(cent.cv[i] AS DOUBLE)))) AS d2
      |  FROM embeddings e CROSS JOIN cent),
      |cell AS (
      |  SELECT vec_id, cl AS cell FROM (
      |    SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
      |    FROM cd) WHERE rn = 1),
      |d AS (
      |  SELECT e.vec_id, s.m, cb.c,
      |    list_sum(list_transform(range(1, 9),
      |      j -> ((CAST(e.embedding[s.m * 8 + j] AS DOUBLE) - CAST(ct.cv[s.m * 8 + j] AS DOUBLE)) -
      |              CAST(cb.cv[s.m * 8 + j] AS DOUBLE)) *
      |           ((CAST(e.embedding[s.m * 8 + j] AS DOUBLE) - CAST(ct.cv[s.m * 8 + j] AS DOUBLE)) -
      |              CAST(cb.cv[s.m * 8 + j] AS DOUBLE)))) AS d2
      |  FROM embeddings e JOIN cell ON cell.vec_id = e.vec_id
      |    JOIN cent ct ON ct.cl = cell.cell
      |    CROSS JOIN cb CROSS JOIN sub s),
      |code AS (
      |  SELECT vec_id, m, c FROM (
      |    SELECT vec_id, m, c,
      |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
      |    FROM d) WHERE rn = 1),
      |qd AS (
      |  SELECT q.vec_id AS qid, cent.cl,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(cent.cv[i] AS DOUBLE)) *
      |           (CAST(q.embedding[i] AS DOUBLE) - CAST(cent.cv[i] AS DOUBLE)))) AS d2
      |  FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 3),
      |probe AS (
      |  SELECT qid, cl AS cell FROM (
      |    SELECT qid, cl, row_number() OVER (PARTITION BY qid ORDER BY d2, cl) AS rn
      |    FROM qd) WHERE rn <= 2),
      |qt AS (
      |  SELECT p.qid, p.cell, s.m, cb.c,
      |    list_sum(list_transform(range(1, 9),
      |      j -> ((CAST(q.embedding[s.m * 8 + j] AS DOUBLE) - CAST(ct.cv[s.m * 8 + j] AS DOUBLE)) -
      |              CAST(cb.cv[s.m * 8 + j] AS DOUBLE)) *
      |           ((CAST(q.embedding[s.m * 8 + j] AS DOUBLE) - CAST(ct.cv[s.m * 8 + j] AS DOUBLE)) -
      |              CAST(cb.cv[s.m * 8 + j] AS DOUBLE)))) AS t
      |  FROM probe p JOIN embeddings q ON q.vec_id = p.qid
      |    JOIN cent ct ON ct.cl = p.cell
      |    CROSS JOIN cb CROSS JOIN sub s),
      |scored AS (
      |  SELECT qt.qid, code.vec_id AS id,
      |    list_sum(list(qt.t ORDER BY qt.m)) AS raw_adc
      |  FROM cell JOIN code ON code.vec_id = cell.vec_id
      |    JOIN qt ON qt.cell = cell.cell AND qt.m = code.m AND qt.c = code.c
      |  GROUP BY qt.qid, code.vec_id)""".stripMargin

  /** Greedy MMR rounds 2..k for the `s_mmr_rerank` oracle: each round
    * removes the selected set, computes max-sim-to-selected per
    * remaining candidate, and argmaxes 0.5·rel − 0.5·msim (ties to the
    * lowest id) — the same double arithmetic, in the same order, as
    * [[graft.sim.Similarity.mmrDiversify]]'s loop. */
  private def mmrRounds(k: Int): String = (2 to k).map { t =>
    s"""rem$t AS (
       |  SELECT c.qid, c.id, c.rel FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s
       |                    WHERE s.qid = c.qid AND s.id = c.id)),
       |ms$t AS (
       |  SELECT r.qid, r.id, r.rel, coalesce(mx.ms, 0.0) AS msim
       |  FROM rem$t r LEFT JOIN (
       |    SELECT ps.qid, ps.a AS id, max(ps.sim) AS ms
       |    FROM ps JOIN sel${t - 1} s ON s.qid = ps.qid AND s.id = ps.b
       |    GROUP BY ps.qid, ps.a) mx ON mx.qid = r.qid AND mx.id = r.id),
       |p$t AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid
       |      ORDER BY 0.5 * rel - 0.5 * msim DESC, id) AS rn
       |    FROM ms$t) WHERE rn = 1),
       |sel$t AS (SELECT * FROM sel${t - 1}
       |  UNION ALL SELECT qid, id, $t AS mmr_rank FROM p$t)""".stripMargin
  }.mkString(",\n")

  private val oracleBase: Map[String, String] = Map(
    // MinHash-LSH pairs, FULL hash oracle: Spark's xxhash64 is
    // reproduced bit-exactly in DuckDB SQL (see XxhashOracleSql) — the
    // one hash function that kept this query rows-only for ten rounds.
    "d_minhash_pairs" -> XxhashOracleSql.minhashPairsSql,
    // SimHash pairs: same XXH64 generator; ±1 bit votes, 16-bit
    // pigeonhole blocks, hamming ≤ 8 — all exact in SQL.
    "d_simhash_pairs" -> XxhashOracleSql.simhashPairsSql,
    // Hyperplane-LSH ANN, FULL hash oracle: the splitmix64 sign matrix,
    // buckets, 1-bit-flip probes, and cosine rank reproduced bit-exactly
    // in SQL (see HyperplaneOracleSql) — the count-derived nBits is the
    // piece that made this oracle-able (plan-stats sizing was not).
    "s_knn_lsh" -> HyperplaneOracleSql.knnLshSql,
    "t_token_count" ->
      """SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_toks,
        |  round(CAST(length(text) AS DOUBLE) /
        |        CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 6) AS chars_per_tok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_stopword_ratio" ->
      """SELECT doc_id,
        |  round(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |      'that','for','on','with','as','was','at','by','be','this'], x)))
        |    AS DOUBLE) / CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 6)
        |    AS sw_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_quality_score" ->
      s"""SELECT doc_id, $duckQuality AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    // Spark soundex replicated in DuckDB: translate letters to the
    // US-English code string (H/W = '7'), then (1) strip '7' (H/W are
    // transparent — letters across them still collapse), (2) collapse
    // ADJACENT equal codes with an index lambda, (3) strip '0' (vowels
    // separate, emitting nothing), (4) keep 3 digits after the first
    // letter, zero-padded. A token whose first char is not an ASCII
    // letter passes through unchanged, like UTF8String.soundex.
    // Deliberately NOT a list_reduce fold: DuckDB 1.0's list_reduce has a
    // cross-row state-aliasing bug when a row's lambda returns the
    // accumulator unchanged at the last step (an all-same-letter token
    // inherited a NEIGHBOR row's digits — poisoned-corpus sweep).
    "t_phonetic_key" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_extract(string_split_regex(trim(text), '\s+'), 1) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tok,
        |    string_split(substr(translate(regexp_replace(upper(tok), '[^A-Z]', 'A', 'g'),
        |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202'), 1, 1) ||
        |      replace(substr(translate(regexp_replace(upper(tok), '[^A-Z]', 'A', 'g'),
        |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202'), 2),
        |      '7', ''), '') AS cs
        |  FROM t),
        |f AS (
        |  SELECT doc_id, tok,
        |    list_filter(list_filter(cs, (x, i) -> i = 1 OR x <> cs[i-1])[2:],
        |      x -> x <> '0' AND x <> '') AS digits
        |  FROM c)
        |SELECT doc_id,
        |  CASE
        |    WHEN tok IS NULL THEN NULL
        |    WHEN tok = '' THEN ''
        |    WHEN NOT regexp_matches(substr(tok,1,1), '^[A-Za-z]$') THEN tok
        |    ELSE upper(substr(tok,1,1)) ||
        |      substr(coalesce(array_to_string(digits, ''), '') || '000', 1, 3)
        |  END AS pk
        |FROM f ORDER BY doc_id""".stripMargin,
    "t_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |s2 AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> list_contains(['the','and','of','is','with','that'], x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(['der','die','und','ist','nicht','das'], x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(['el','la','que','los','una','por'], x))) AS s_es,
        |    len(list_filter(toks, x -> list_contains(['le','les','des','est','une','dans'], x))) AS s_fr
        |  FROM sc)
        |SELECT doc_id,
        |  CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr) AND greatest(s_en, s_de, s_es, s_fr) > 0 THEN 'en'
        |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr) AND greatest(s_en, s_de, s_es, s_fr) > 0 THEN 'de'
        |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr) AND greatest(s_en, s_de, s_es, s_fr) > 0 THEN 'es'
        |       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) AND greatest(s_en, s_de, s_es, s_fr) > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(list_filter(
        |    string_split_regex(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+'),
        |    x -> x <> ''))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_redact_pii" ->
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |      '.7 or call +1 555 0123 456 now',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d -]{7,}\d', '<PHONE>', 'g')) AS red_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identical float-op sequence both sides: 1.0 - distinct/total as
    // doubles, rounded to 6 after (oracle-parity rule)
    "t_dup_ngram_ratio" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
        |      x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN toks IS NULL OR len(toks) = 0 THEN 0.0
        |  ELSE CAST(round(1.0 -
        |    CAST(len(list_distinct(list_transform(
        |      range(1, greatest(len(toks) - 2, 0) + 2),
        |      i -> array_to_string(toks[i:i+1], ' ')))) AS DOUBLE) /
        |    CAST(greatest(len(toks) - 2, 0) + 1 AS DOUBLE), 6) AS DOUBLE)
        |  END AS dup_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    // same d2/assignment arithmetic as s_ivf_assign, same cosine as
    // s_knn_brute — the IVF result is deterministic, so fully checkable
    "s_knn_ivf" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 3),
        |d AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) *
        |           (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))) AS d2
        |  FROM (SELECT * FROM embeddings WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE)))) = 0) e CROSS JOIN c),
        |assign AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d) WHERE rn = 1),
        |probe AS (
        |  SELECT vec_id AS qid, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d WHERE vec_id < 3) WHERE rn <= 2),
        |scored AS (
        |  SELECT p.qid, a.vec_id AS id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))))) AS cosine
        |  FROM assign a
        |  JOIN probe p ON a.cell = p.cell
        |  JOIN embeddings e ON e.vec_id = a.vec_id
        |  JOIN embeddings qe ON qe.vec_id = p.qid),
        |ranked AS (
        |  SELECT qid, id, round(cosine, 6) AS cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
        |  FROM scored)
        |SELECT qid, id, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // same cosine arithmetic; margins ranked after 6-decimal rounding on
    // both engines so near-tie selection is order-stable
    "s_bitext_margin" ->
      """WITH x AS (SELECT vec_id AS xid, embedding AS xv FROM embeddings
        |  WHERE label = 0 AND vec_id < 100),
        |y AS (SELECT vec_id AS yid, embedding AS yv FROM embeddings
        |  WHERE label = 1 AND len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE)))) = 0),
        |sc AS (
        |  SELECT x.xid, y.yid,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(x.xv[i] AS DOUBLE) * CAST(y.yv[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(x.xv[i] AS DOUBLE) * CAST(x.xv[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(y.yv[i] AS DOUBLE) * CAST(y.yv[i] AS DOUBLE))))) AS cos
        |  FROM x CROSS JOIN y),
        |ax AS (SELECT xid, avg(cos) AS axv FROM (
        |  SELECT xid, cos, row_number() OVER (PARTITION BY xid ORDER BY cos DESC, yid) AS r
        |  FROM sc) WHERE r <= 4 GROUP BY xid),
        |ay AS (SELECT yid, avg(cos) AS ayv FROM (
        |  SELECT yid, cos, row_number() OVER (PARTITION BY yid ORDER BY cos DESC, xid) AS r
        |  FROM sc) WHERE r <= 4 GROUP BY yid),
        |m AS (SELECT s.xid, s.yid,
        |    round(s.cos / ((a.axv + b.ayv) / 2), 6) AS margin
        |  FROM sc s JOIN ax a USING (xid) JOIN ay b USING (yid)),
        |best AS (SELECT xid, yid, margin,
        |    row_number() OVER (PARTITION BY xid ORDER BY margin DESC, yid) AS rm
        |  FROM m)
        |SELECT xid, yid, margin FROM best WHERE rm = 1 ORDER BY xid""".stripMargin,
    // same alternation both sides; counts via regexp_extract_all length
    "t_token_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(poisoned,
        |    '<\|[a-zA-Z0-9_]+\|>|</?s>|\[INST\]|\[/INST\]|<pad>|<unk>|<mask>'))
        |    AS BIGINT) AS n_special,
        |  md5(regexp_replace(poisoned,
        |    '<\|[a-zA-Z0-9_]+\|>|</?s>|\[INST\]|\[/INST\]|<pad>|<unk>|<mask>',
        |    '', 'g')) AS scrub_md5
        |FROM (
        |  SELECT doc_id, text || ' <|endoftext|>' ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' <s>pad</s>' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' [INST]x[/INST]' ELSE '' END
        |    AS poisoned
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // identical regexp/array normalization steps both sides (no URL
    // parser on either engine — parity by construction)
    "t_url_normalize" ->
      s"""WITH ${urlNormCte(
           """'HTTPS://WWW.Example' || CAST(doc_id % 20 AS VARCHAR) ||
             |    '.COM:443/Path/' || CAST(doc_id AS VARCHAR) ||
             |    '?utm_source=feed&b=2&a=1&utm_campaign=c' ||
             |    CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END""".stripMargin)}
         |SELECT doc_id, url_norm FROM normed ORDER BY doc_id""".stripMargin,
    // same normalization CTE as t_url_normalize; keep-best is a plain
    // row_number over the canonical key
    "d_url_dedup" ->
      s"""WITH ${urlNormCte(
           """'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) ||
             |    '.COM:443/Page/' || CAST(doc_id % 13 AS VARCHAR) ||
             |    '?utm_source=feed&b=2&a=1&utm_campaign=c' ||
             |    CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END""".stripMargin,
           extra = ", n_chars")},
         |r AS (SELECT doc_id, url_norm, n_chars,
         |    row_number() OVER (PARTITION BY url_norm
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM normed)
         |SELECT doc_id, url_norm, CAST(n_chars AS BIGINT) AS keep_len
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "d_domain_filter" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 1000 = 0 THEN 'rare.example.com'
         |         ELSE 'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
         |    END AS domain,
         |    round($duckQuality * 0.5 +
         |      CAST(doc_id % 7 AS DOUBLE) * 0.05, 6) AS q
         |  FROM documents),
         |dom AS (
         |  SELECT domain, count(*) AS domain_docs,
         |    CAST(round(avg(q), 6) AS DOUBLE) AS domain_mean_q
         |  FROM q GROUP BY domain
         |  HAVING count(*) >= 6 AND CAST(round(avg(q), 6) AS DOUBLE) >= 0.6)
         |SELECT s.doc_id, s.domain, d.domain_docs, d.domain_mean_q
         |FROM q s JOIN dom d USING (domain) ORDER BY s.doc_id""".stripMargin,
    // same cosine arithmetic as s_knn_ivf; struct-min/max tie rules
    // mirrored by the row_number orderings
    "s_hard_triplets" ->
      """WITH sc AS (
        |  SELECT q.vec_id AS qid, q.label AS qlbl, e.vec_id AS id, e.label AS lbl,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))) AS cos
        |  FROM (SELECT * FROM embeddings WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE)))) = 0) e
        |    CROSS JOIN (SELECT * FROM embeddings WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE)))) = 0) q
        |  WHERE q.vec_id < 3 AND e.vec_id <> q.vec_id),
        |hp AS (SELECT qid, id AS pos_id, round(cos, 6) AS pos_cos FROM (
        |  SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos, id) AS rn
        |  FROM sc WHERE lbl = qlbl) WHERE rn = 1),
        |hn AS (SELECT qid, id AS neg_id, round(cos, 6) AS neg_cos FROM (
        |  SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id DESC) AS rn
        |  FROM sc WHERE lbl <> qlbl) WHERE rn = 1),
        |anchored AS (SELECT DISTINCT qid FROM sc)
        |SELECT a.qid, h.pos_id, h.pos_cos, n.neg_id, n.neg_cos
        |FROM anchored a LEFT JOIN hp h USING (qid) LEFT JOIN hn n USING (qid)
        |ORDER BY a.qid""".stripMargin,
    // same list_sum dot arithmetic as s_knn_ivf's cosine (proven parity)
    "s_knn_mips" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS ip
        |  FROM embeddings e CROSS JOIN embeddings q WHERE q.vec_id < 3),
        |ranked AS (
        |  SELECT qid, id, round(ip, 6) AS ip_r,
        |    row_number() OVER (PARTITION BY qid ORDER BY ip DESC, id) AS rank
        |  FROM scored)
        |SELECT qid, id, ip_r AS ip, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // same sub-distance arithmetic as s_knn_ivf's d2 (proven bit-parity),
    // argmin per (vector, subspace), codes packed little-endian 2 bits each
    "s_pq_codes" ->
      """WITH cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < 4),
        |sub AS (SELECT unnest(range(0, 8)) AS m),
        |d AS (
        |  SELECT e.vec_id, s.m, cb.c,
        |    list_sum(list_transform(range(1, 9),
        |      j -> (CAST(e.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)) *
        |           (CAST(e.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)))) AS d2
        |  FROM embeddings e CROSS JOIN cb CROSS JOIN sub s),
        |code AS (
        |  SELECT vec_id, m,
        |    CASE WHEN d2 IS NULL THEN NULL ELSE c END AS c
        |  FROM (
        |    SELECT vec_id, m, c, d2,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        |    FROM d) WHERE rn = 1)
        |SELECT vec_id,
        |  CASE WHEN bool_and(c IS NOT NULL) THEN CAST(sum(c << (2 * m)) AS BIGINT)
        |       ELSE NULL END AS pq_word
        |FROM code GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // ADC: per-query subspace distance table joined to the codes; the
    // per-candidate sum folds in fixed subspace order (list ORDER BY m)
    // to mirror the engine's fixed-order reduce
    "s_knn_pq" ->
      """WITH cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < 4),
        |sub AS (SELECT unnest(range(0, 8)) AS m),
        |d AS (
        |  SELECT e.vec_id, s.m, cb.c,
        |    list_sum(list_transform(range(1, 9),
        |      j -> (CAST(e.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)) *
        |           (CAST(e.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)))) AS d2
        |  FROM embeddings e CROSS JOIN cb CROSS JOIN sub s),
        |code AS (
        |  SELECT vec_id, m, c FROM (
        |    SELECT vec_id, m, c, d2,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        |    FROM d) WHERE rn = 1 AND d2 IS NOT NULL),
        |qt AS (
        |  SELECT q.vec_id AS qid, s.m, cb.c,
        |    list_sum(list_transform(range(1, 9),
        |      j -> (CAST(q.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)) *
        |           (CAST(q.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)))) AS t
        |  FROM embeddings q CROSS JOIN cb CROSS JOIN sub s
        |  WHERE q.vec_id < 3),
        |scored AS (
        |  SELECT qt.qid, code.vec_id AS id,
        |    list_sum(list(qt.t ORDER BY qt.m)) AS raw_adc
        |  FROM code JOIN qt ON qt.m = code.m AND qt.c = code.c
        |  GROUP BY qt.qid, code.vec_id),
        |ranked AS (
        |  SELECT qid, id, round(raw_adc, 6) AS adc,
        |    row_number() OVER (PARTITION BY qid ORDER BY raw_adc, id) AS rank
        |  FROM scored)
        |SELECT qid, id, adc, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // same PQ CTE chain as s_knn_pq up to the ADC ranking, shortlist
    // R=20, then the s_knn_brute exact-cosine arithmetic on shortlisted
    // (qid, id) pairs only; rank on raw cosine, ties to lowest id
    "s_knn_pq_rerank" ->
      """WITH cb AS (SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < 4),
        |sub AS (SELECT unnest(range(0, 8)) AS m),
        |d AS (
        |  SELECT e.vec_id, s.m, cb.c,
        |    list_sum(list_transform(range(1, 9),
        |      j -> (CAST(e.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)) *
        |           (CAST(e.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)))) AS d2
        |  FROM (SELECT * FROM embeddings WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE)))) = 0) e CROSS JOIN cb CROSS JOIN sub s),
        |code AS (
        |  SELECT vec_id, m, c FROM (
        |    SELECT vec_id, m, c, d2,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        |    FROM d) WHERE rn = 1 AND d2 IS NOT NULL),
        |qt AS (
        |  SELECT q.vec_id AS qid, s.m, cb.c,
        |    list_sum(list_transform(range(1, 9),
        |      j -> (CAST(q.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)) *
        |           (CAST(q.embedding[s.m * 8 + j] AS DOUBLE) - CAST(cb.cv[s.m * 8 + j] AS DOUBLE)))) AS t
        |  FROM embeddings q CROSS JOIN cb CROSS JOIN sub s
        |  WHERE q.vec_id < 3),
        |scored AS (
        |  SELECT qt.qid, code.vec_id AS id,
        |    list_sum(list(qt.t ORDER BY qt.m)) AS raw_adc
        |  FROM code JOIN qt ON qt.m = code.m AND qt.c = code.c
        |  GROUP BY qt.qid, code.vec_id),
        |short AS (
        |  SELECT qid, id FROM (
        |    SELECT qid, id,
        |      row_number() OVER (PARTITION BY qid ORDER BY raw_adc, id) AS rank
        |    FROM scored) WHERE rank <= 20),
        |ex AS (
        |  SELECT sh.qid, sh.id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))) AS cosine
        |  FROM short sh
        |  JOIN embeddings e ON e.vec_id = sh.id
        |  JOIN embeddings q ON q.vec_id = sh.qid),
        |rer AS (
        |  SELECT qid, id, CAST(round(cosine, 6) AS DOUBLE) AS cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
        |  FROM ex)
        |SELECT qid, id, cos, rank FROM rer WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // MMR: brute shortlist + candidate pair sims in the proven cosine
    // float-op order; greedy rounds generated by mmrRounds. Output is
    // integer-only, so no double ever enters the hash.
    "s_mmr_rerank" -> (s"""WITH vecs AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE)))) = 0),
        |rel AS (
        |  SELECT q.id AS qid, c.id,
        |    list_sum(list_transform(range(1, 65), i -> c.v[i] * q.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))) AS rel
        |  FROM vecs c CROSS JOIN vecs q WHERE q.id < 3),
        |cand AS (
        |  SELECT qid, id, rel FROM (
        |    SELECT qid, id, rel,
        |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) AS rn
        |    FROM rel) WHERE rn <= 20),
        |ps AS (
        |  SELECT a.qid, a.id AS a, b.id AS b,
        |    list_sum(list_transform(range(1, 65), i -> va.v[i] * vb.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> va.v[i] * va.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> vb.v[i] * vb.v[i])))) AS sim
        |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.id <> b.id
        |  JOIN vecs va ON va.id = a.id JOIN vecs vb ON vb.id = b.id),
        |p1 AS (
        |  SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid
        |      ORDER BY 0.5 * rel - 0.5 * 0.0 DESC, id) AS rn
        |    FROM cand) WHERE rn = 1),
        |sel1 AS (SELECT qid, id, 1 AS mmr_rank FROM p1),
        |""".stripMargin + mmrRounds(5) + """
        |SELECT qid, id, CAST(mmr_rank AS INT) AS mmr_rank FROM sel5
        |ORDER BY qid, mmr_rank""".stripMargin),
    // residual IVF-PQ: coarse cell = s_ivf_assign's argmin shape;
    // residual sub-distances are ((v_j − cent_j) − cb_j)² in that exact
    // operator order (Spark computes the residual array first with
    // zip_with, then the sub-codebook delta — same two subtractions,
    // same j order); the per-candidate ADC folds in fixed subspace
    // order (list ORDER BY m) to mirror the engine's fixed-order reduce
    "s_knn_ivfpq" -> (ivfpqScoredCtes + """,
        |ranked AS (
        |  SELECT qid, id, CAST(round(raw_adc, 6) AS DOUBLE) AS adc,
        |    row_number() OVER (PARTITION BY qid ORDER BY raw_adc, id) AS rank
        |  FROM scored)
        |SELECT qid, id, adc, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),
    // the serving composition: top-20 ADC shortlist from the shared
    // CTEs, then exact cosine (the proven brute-force float-op order)
    // over shortlist members only
    "s_knn_ivfpq_rerank" -> (ivfpqScoredCtes + """,
        |shortl AS (
        |  SELECT qid, id FROM (
        |    SELECT qid, id,
        |      row_number() OVER (PARTITION BY qid ORDER BY raw_adc, id) AS rank
        |    FROM scored) WHERE rank <= 20),
        |ex AS (
        |  SELECT sh.qid, sh.id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))) AS cosine
        |  FROM shortl sh
        |  JOIN embeddings e ON e.vec_id = sh.id
        |  JOIN embeddings q ON q.vec_id = sh.qid),
        |rer AS (
        |  SELECT qid, id, CAST(round(cosine, 6) AS DOUBLE) AS cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
        |  FROM ex)
        |SELECT qid, id, cos, rank FROM rer WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),
    // JL projection: splitmix64 sign matrix + d-order folds reproduced
    // in SQL (the HyperplaneOracleSql machinery proven by s_knn_lsh)
    "s_rand_proj" -> HyperplaneOracleSql.randProjSql(16),
    // int8 quantization: scale = 127/max|x| on exact float64 (float32→64
    // cast is exact), per-element ROUND pinned by the integer sum
    "s_embed_quant" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, vd,
        |    CASE WHEN list_max(list_transform(vd, x -> abs(x))) = 0 THEN 0.0
        |         ELSE 127.0 / list_max(list_transform(vd, x -> abs(x))) END AS sc
        |  FROM v)
        |SELECT vec_id,
        |  CAST(round(sc, 6) AS DOUBLE) AS scale,
        |  CAST(CASE WHEN len(list_filter(
        |      list_transform(vd, x -> TRY_CAST(round(x * sc, 0) AS BIGINT)),
        |      q -> q IS NULL)) > 0 THEN NULL
        |    ELSE list_sum(list_transform(vd,
        |      x -> TRY_CAST(round(x * sc, 0) AS BIGINT))) END AS BIGINT) AS qsum
        |FROM s ORDER BY vec_id""".stripMargin,
    // NOT DuckDB's levenshtein(): that one counts BYTE edits (é=2, 😀=4)
    // where Spark's counts CODEPOINT edits — the units diverge on any
    // non-ascii text. The DP is replayed exactly over string_split(s,'')
    // codepoint lists, one recursive-CTE level per row of the matrix
    // (strings are capped at 60 codepoints, so depth ≤ 60).
    "t_edit_distance" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, substr(text, 1, 60) AS t60,
        |    lag(substr(text, 1, 60)) OVER (PARTITION BY source ORDER BY doc_id) AS prev
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, string_split(t60, '') AS a, string_split(prev, '') AS b
        |  FROM g WHERE prev IS NOT NULL),
        |lev(doc_id, i, row) AS (
        |  SELECT doc_id, 0, list_transform(range(0, len(b) + 1), j -> CAST(j AS BIGINT))
        |  FROM p WHERE a IS NOT NULL
        |  UNION ALL
        |  SELECT l.doc_id, l.i + 1,
        |    list_reduce(
        |      list_prepend(CAST([l.i + 1] AS BIGINT[]),
        |        list_transform(range(1, len(p.b) + 1), j -> CAST([j] AS BIGINT[]))),
        |      (s, e) -> list_append(s, least(
        |          l.row[len(s) + 1] + 1,
        |          s[-1] + 1,
        |          l.row[len(s)] +
        |            CASE WHEN p.a[l.i + 1] = p.b[len(s)] THEN 0 ELSE 1 END)))
        |  FROM lev l JOIN p USING (doc_id) WHERE l.i < len(p.a))
        |SELECT l.doc_id, CAST(l.row[-1] AS INT) AS dist
        |FROM lev l JOIN p USING (doc_id) WHERE l.i = len(p.a)
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS INT) AS dist FROM p WHERE a IS NULL
        |ORDER BY doc_id""".stripMargin,
    "d_dedup_exact" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "d_incremental_dedup" ->
      """WITH delta AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 30 = 8 THEN coalesce(c.text, d.text)
        |         WHEN d.doc_id % 30 = 19 THEN coalesce(t.text, d.text)
        |         ELSE d.text END AS text
        |  FROM documents d
        |  LEFT JOIN documents c ON c.doc_id = d.doc_id - 1
        |  LEFT JOIN documents t ON t.doc_id = d.doc_id - 10
        |  WHERE d.doc_id % 10 >= 8),
        |idx AS (
        |  SELECT DISTINCT md5(text) AS digest FROM documents
        |  WHERE doc_id % 10 < 8),
        |v AS (
        |  SELECT dl.doc_id AS id, md5(dl.text) AS digest,
        |    (i.digest IS NOT NULL) AS in_corpus,
        |    row_number() OVER (PARTITION BY md5(dl.text)
        |                       ORDER BY dl.doc_id) AS rn
        |  FROM delta dl LEFT JOIN idx i ON i.digest = md5(dl.text))
        |SELECT id, digest,
        |  CASE WHEN in_corpus THEN 'dup_of_corpus'
        |       WHEN rn > 1 THEN 'dup_in_delta'
        |       ELSE 'new' END AS verdict
        |FROM v ORDER BY id""".stripMargin,
    "d_dedup_fingerprint" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (
        |    PARTITION BY md5(array_to_string(list_sort(list_distinct(list_filter(
        |      string_split_regex(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+'),
        |      x -> x <> ''))), ' '))
        |    ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "d_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, source, lang,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' ')) - 1, 2)),
        |      i -> array_to_string(
        |        (list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '), x -> x <> ''))[i:i+2],
        |        ' '))) AS sh
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '),
        |            x -> x <> '')) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6) AS jac
        |  FROM sh a JOIN sh b
        |    ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jac FROM pairs WHERE jac >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,
    // same shingle sets as d_ngram_jaccard; containment divides by the
    // smaller set (min is symmetric, so a.doc_id < b.doc_id covers both
    // orientations)
    "d_ngram_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, source, lang,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' ')) - 1, 2)),
        |      i -> array_to_string(
        |        (list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '), x -> x <> ''))[i:i+2],
        |        ' '))) AS sh
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '),
        |            x -> x <> '')) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      CAST(least(len(a.sh), len(b.sh)) AS DOUBLE), 6) AS cont
        |  FROM sh a JOIN sh b
        |    ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, cont FROM pairs WHERE cont >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    // identical sentence split/normalize/filter on both engines; fraction
    // is a double division of exact counts, rounded after
    // total per-doc report (r15): docs with no qualifying sentence score
    // 0.0 instead of vanishing — LEFT JOIN back to documents, like the
    // Spark side's totality join
    "d_dup_sentence_frac" ->
      """WITH s AS (
        |  SELECT doc_id, md5(lower(s)) AS h
        |  FROM (SELECT doc_id, trim(unnest(string_split_regex(text, '[.!?]\s+|[.!?]$'))) AS s
        |        FROM documents)
        |  WHERE length(s) >= 20),
        |c AS (SELECT h, count(DISTINCT doc_id) AS nd FROM s GROUP BY h),
        |f AS (SELECT s.doc_id,
        |  CAST(round(CAST(sum(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |       CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS dup_frac
        |FROM s JOIN c ON s.h = c.h
        |GROUP BY s.doc_id)
        |SELECT d.doc_id, coalesce(f.dup_frac, CAST(0.0 AS DOUBLE)) AS dup_frac
        |FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // identical capture-group boundary insertion + split on both engines
    "t_subword_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '(\p{L})(\p{N})', '\1 \2', 'g'),
        |      '(\p{N})(\p{L})', '\1 \2', 'g'),
        |      '([!-/:-@\[-`{-~])', ' \1 ', 'g'),
        |    '\s+'), x -> x <> '')) AS INT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    // portable polynomial hash: pure BIGINT arithmetic over codepoints,
    // identical fold order both sides (list_prepend(0, ...) = init-0 fold)
    // null text -> NULL hash (Spark's aggregate over a null array): guard
    // explicitly, because DuckDB's list_prepend(0, NULL) = [0] would fold
    // a null doc to 0 — a REAL hash value — instead of propagating null
    "t_rolling_hash" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL ELSE
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
        |    string_split_regex(trim(text), '\s+'),
        |    w -> list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
        |      (a, c) -> (a * 131 + c) % 1000000007))),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) END AS rh
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same pair generation as d_ngram_jaccard, then transitive closure via
    // recursive CTE; canonical = smallest reachable doc_id (incl. self)
    "d_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, source, lang,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' ')) - 1, 2)),
        |      i -> array_to_string(
        |        (list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '), x -> x <> ''))[i:i+2],
        |        ' '))) AS sh
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '),
        |            x -> x <> '')) > 0),
        |pf AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6) AS jac
        |    FROM sh a JOIN sh b
        |      ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id)
        |  WHERE jac >= 0.2),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM pf
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pf),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |nodes AS (SELECT DISTINCT src AS id FROM sym)
        |SELECT n.id AS doc_id, least(n.id, min(r.dst)) AS canonical
        |FROM nodes n LEFT JOIN reach r ON r.src = n.id
        |GROUP BY n.id ORDER BY n.id""".stripMargin,
    // same closure as d_dedup_clusters; component label → size →
    // integer-ppm weight, singletons (docs outside the pair graph) at
    // full weight via the left joins
    "d_soft_weights" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, source, lang,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' ')) - 1, 2)),
        |      i -> array_to_string(
        |        (list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '), x -> x <> ''))[i:i+2],
        |        ' '))) AS sh
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '),
        |            x -> x <> '')) > 0),
        |pf AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6) AS jac
        |    FROM sh a JOIN sh b
        |      ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id)
        |  WHERE jac >= 0.2),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM pf
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pf),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |lab AS (
        |  SELECT n.id, least(n.id, min(r.dst)) AS label
        |  FROM nodes n LEFT JOIN reach r ON r.src = n.id GROUP BY n.id),
        |sz AS (SELECT label, count(*) AS sz FROM lab GROUP BY label)
        |SELECT d.doc_id,
        |  CAST(coalesce(s2.sz, 1) AS BIGINT) AS cluster_size,
        |  CAST(1000000 // coalesce(s2.sz, 1) AS BIGINT) AS weight_ppm
        |FROM documents d
        |LEFT JOIN lab ON lab.id = d.doc_id
        |LEFT JOIN sz s2 ON s2.label = lab.label
        |ORDER BY d.doc_id""".stripMargin,
    // same closure as d_dedup_clusters + the t_quality_score expression;
    // keep-best = row_number over (q DESC, id) per cluster
    "d_cluster_keep_best" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, source, lang,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' ')) - 1, 2)),
        |      i -> array_to_string(
        |        (list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '), x -> x <> ''))[i:i+2],
        |        ' '))) AS sh
        |  FROM documents
        |  WHERE len(list_filter(string_split(lower(regexp_replace(text, '[^\p{L}\p{N} ]', ' ', 'g')), ' '),
        |            x -> x <> '')) > 0),
        |pf AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6) AS jac
        |    FROM sh a JOIN sh b
        |      ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id)
        |  WHERE jac >= 0.2),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM pf
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM pf),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |lab AS (
        |  SELECT n.id, least(n.id, min(r.dst)) AS label
        |  FROM nodes n LEFT JOIN reach r ON r.src = n.id GROUP BY n.id),
        |q AS (SELECT doc_id AS id, CAST(round(
        |  (CASE WHEN length(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.4 +
        |  (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
        |     AS DOUBLE) / CAST(length(text) AS DOUBLE) < 0.3 THEN 1.0 ELSE 0.0 END) * 0.3 +
        |  (CASE WHEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |     x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |       'that','for','on','with','as','was','at','by','be','this'], x)))
        |     AS DOUBLE) / CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) > 0.01
        |   THEN 1.0 ELSE 0.0 END) * 0.3, 4) AS DOUBLE) AS q FROM documents),
        |lq AS (SELECT l.id, l.label, q.q FROM lab l JOIN q USING (id)),
        |best AS (SELECT label, id AS keep_id, q AS keep_q FROM (
        |  SELECT label, id, q,
        |    row_number() OVER (PARTITION BY label ORDER BY q DESC, id) AS rn
        |  FROM lq) WHERE rn = 1)
        |SELECT lq.id AS doc_id, lq.label AS cluster, b.keep_id, b.keep_q
        |FROM lq JOIN best b USING (label) ORDER BY doc_id""".stripMargin,
    // identical tokenization + 8-gram construction both sides; membership
    // compares raw shingle strings (Spark joins md5 digests of the same
    // strings — equal membership), distinct-hit counts are exact ints
    "d_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split(lower(regexp_replace(text, '[^\p{L}\p{N}]+', ' ', 'g')), ' '),
        |    x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(t) - 8, 0) + 2),
        |      i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM toks WHERE len(t) > 0),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
        |hits AS (
        |  SELECT doc_id, count(*) AS n FROM (
        |    SELECT DISTINCT doc_id, s FROM sh WHERE s IN (SELECT s FROM bench))
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n, CAST(0 AS BIGINT)) AS n_hits
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // same 8-gram construction as d_decontaminate, transposed to the
    // eval side; overlap_frac divides exact distinct counts
    "d_eval_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split(lower(regexp_replace(text, '[^\p{L}\p{N}]+', ' ', 'g')), ' '),
        |    x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(t) - 8, 0) + 2),
        |      i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM toks WHERE len(t) > 0),
        |corpus AS (SELECT DISTINCT s FROM sh WHERE doc_id >= 5),
        |ev AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id < 5)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN s IN (SELECT s FROM corpus) THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |  CAST(round(CAST(sum(CASE WHEN s IN (SELECT s FROM corpus) THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS overlap_frac
        |FROM ev GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same shingle construction as d_decontaminate at n=3; novelty is a
    // double division of exact distinct counts, rounded after
    // tokenizer mirrors WordShingles' Character.isLetterOrDigit — unicode
    // letter/digit classes, NOT the ascii duckToks (a combining mark or
    // emoji separates; CJK letters are kept)
    "t_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(regexp_replace(text, '[^\p{L}\p{N}]+', ' ', 'g')), ' '),
        |    x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(t) - 3, 0) + 2),
        |      i -> array_to_string(t[i:i+2], ' ')))) AS s
        |  FROM toks WHERE len(t) > 0),
        |ref AS (SELECT DISTINCT s FROM sh WHERE doc_id < 250),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN s IN (SELECT s FROM ref) THEN 1 ELSE 0 END) AS n_hit
        |  FROM (SELECT DISTINCT doc_id, s FROM sh) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_grams, CAST(0 AS BIGINT)) AS n_grams,
        |  round(1.0 - CAST(a.n_hit AS DOUBLE) / CAST(a.n_grams AS DOUBLE), 6) AS novelty
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // identical bloom: same md5 bit positions, 32-bit words, bit_or build,
    // all-k-bits probe — the filter is deterministic so flags hash-match
    "d_bloom_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split(lower(regexp_replace(text, '[^\p{L}\p{N}]+', ' ', 'g')), ' '),
        |    x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, greatest(len(t) - 8, 0) + 2),
        |      i -> array_to_string(t[i:i+7], ' ')))) AS s
        |  FROM toks WHERE len(t) > 0),
        |hx AS (SELECT DISTINCT doc_id, md5(s) AS h FROM sh),
        |ks AS (SELECT unnest([0, 1, 2]) AS i),
        |bpos AS (
        |  SELECT CAST(('0x' || substr(b.h, k.i * 8 + 1, 8)) AS BIGINT) % 1048576 AS pos
        |  FROM (SELECT DISTINCT h FROM hx WHERE doc_id < 5) b CROSS JOIN ks k),
        |bloom AS (
        |  SELECT pos // 32 AS w,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
        |  FROM bpos GROUP BY 1),
        |probe AS (
        |  SELECT p.doc_id, p.h,
        |    CAST(('0x' || substr(p.h, k.i * 8 + 1, 8)) AS BIGINT) % 1048576 AS pos
        |  FROM hx p CROSS JOIN ks k),
        |pj AS (
        |  SELECT p.doc_id, p.h,
        |    CASE WHEN b.bits IS NOT NULL AND
        |      (b.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT))) <> 0
        |    THEN 1 ELSE 0 END AS present
        |  FROM probe p LEFT JOIN bloom b ON (p.pos // 32) = b.w),
        |g AS (SELECT doc_id, h,
        |    CASE WHEN sum(present) = 3 THEN 1 ELSE 0 END AS hit
        |  FROM pj GROUP BY doc_id, h),
        |agg AS (SELECT doc_id, count(*) AS n_grams,
        |    CAST(sum(hit) AS BIGINT) AS n_hits FROM g GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_grams, CAST(0 AS BIGINT)) AS n_grams,
        |  coalesce(a.n_hits, CAST(0 AS BIGINT)) AS n_hits,
        |  coalesce(a.n_hits, 0) > 0 AS flagged
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "d_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE)))) = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))),
        |    6) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))),
        |    6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "s_knn_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) AS cosine
        |  FROM (SELECT * FROM embeddings WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE)))) = 0) e CROSS JOIN q),
        |ranked AS (
        |  SELECT qid, id, round(cosine, 6) AS cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rank
        |  FROM scored)
        |SELECT qid, id, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s_vec_norm" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(range(1, 65),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6) AS nrm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "s_ivf_assign" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 3),
        |d AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) *
        |           (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))) AS d2
        |  FROM embeddings e CROSS JOIN c)
        |SELECT vec_id,
        |  CASE WHEN d2 IS NULL THEN NULL ELSE CAST(cid AS INT) END AS cell
        |FROM (
        |  SELECT vec_id, cid, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM d) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // waveform formula recomputation — no byte parsing; equality with
    // the Spark side's decoded-bytes path proves the PCM roundtrip
    "mm_audio_features" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 8 AS tone, 64 + (doc_id % 32) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n, i, ((tone * 37 + i * 17) % 4096) - 2048 AS v
        |  FROM p CROSS JOIN unnest(range(0, n)) u(i)),
        |f AS (
        |  SELECT doc_id, n, i, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s)
        |SELECT doc_id,
        |  CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(v)) AS BIGINT) AS peak,
        |  CAST(count(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
        |        THEN 1 END) AS BIGINT) AS zero_cross
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_media_stats" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byteLen,
        |  md5(text) AS contentMd5,
        |  CASE WHEN substr(hex(encode(text)), 1, 4) = 'FFD8' THEN 'image/jpeg'
        |       WHEN substr(hex(encode(text)), 1, 8) = '89504E47' THEN 'image/png'
        |       ELSE 'application/octet-stream' END AS sniffedType
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id,
        |  CAST(greatest((octet_length(encode(text)) // 64 // 2) - 1, 0) + 1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the Spark side PNG-encodes then truly decodes; the oracle recomputes
    // the synthesized dimensions (and RGB channel count) arithmetically
    // null-text docs synthesize NO media (null features end-to-end) —
    // mirrored per column so the poisoned-corpus parity sweep holds
    "mm_decode_features" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE CAST(1 + octet_length(encode(text)) % 64 AS INT) END AS w,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE CAST(1 + doc_id % 48 AS INT) END AS h,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE CAST(3 AS INT) END AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the Spark side writes patterned PNGs, truly decodes them, and
    // average-hashes the decoded pixels; the oracle recomputes the same
    // 8x8 integer luminance signature from the pixel formula — the
    // brightness jitter cancels through the integer divisions exactly as
    // it does in the decoded path
    "mm_phash_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 32 AS cls, doc_id % 16 AS jit,
        |    8 + ((doc_id % 32) * 5) % 56 AS w, 8 + ((doc_id % 32) * 7) % 40 AS h
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, j * 8 + i AS k,
        |    (299 * (32 + (cls * 7 + ((i * w) // 8) * 13 + ((j * h) // 8) * 31) % 160 + jit)
        |     + 587 * (32 + (cls * 11 + ((i * w) // 8) * 17 + ((j * h) // 8) * 23) % 160 + jit)
        |     + 114 * (32 + (cls * 13 + ((i * w) // 8) * 19 + ((j * h) // 8) * 29) % 160 + jit)
        |    ) // 1000 AS lum
        |  FROM d CROSS JOIN unnest(range(0, 8)) AS a(j)
        |         CROSS JOIN unnest(range(0, 8)) AS b(i)),
        |m AS (SELECT doc_id, sum(lum) // 64 AS mean FROM g GROUP BY doc_id),
        |bits AS (
        |  SELECT g.doc_id,
        |    string_agg(CASE WHEN g.lum > m.mean THEN '1' ELSE '0' END, ''
        |      ORDER BY g.k) AS phash_bits
        |  FROM g JOIN m USING (doc_id) GROUP BY g.doc_id)
        |SELECT phash_bits, count(*) AS n_imgs, min(doc_id) AS keep_id
        |FROM bits GROUP BY phash_bits ORDER BY keep_id""".stripMargin,

    // the two nearest-neighbor mappings composed in integer SQL:
    // avg-hash samples of the 16x12 resize land on source pixel
    // ((2i*w)//16, (((3j)//2)*h)//12); the signature then recomputes
    // from the pattern formula exactly as mm_phash_dedup does
    "mm_resize_hash" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 32 AS cls, doc_id % 16 AS jit,
        |    8 + ((doc_id % 32) * 5) % 56 AS w, 8 + ((doc_id % 32) * 7) % 40 AS h
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, j * 8 + i AS k,
        |    (299 * (32 + (cls * 7 + (((2 * i) * w) // 16) * 13
        |       + ((((3 * j) // 2) * h) // 12) * 31) % 160 + jit)
        |     + 587 * (32 + (cls * 11 + (((2 * i) * w) // 16) * 17
        |       + ((((3 * j) // 2) * h) // 12) * 23) % 160 + jit)
        |     + 114 * (32 + (cls * 13 + (((2 * i) * w) // 16) * 19
        |       + ((((3 * j) // 2) * h) // 12) * 29) % 160 + jit)
        |    ) // 1000 AS lum
        |  FROM d CROSS JOIN unnest(range(0, 8)) AS a(j)
        |         CROSS JOIN unnest(range(0, 8)) AS b(i)),
        |m AS (SELECT doc_id, sum(lum) // 64 AS mean FROM g GROUP BY doc_id)
        |SELECT g.doc_id,
        |  string_agg(CASE WHEN g.lum > m.mean THEN '1' ELSE '0' END, ''
        |    ORDER BY g.k) AS phash_bits
        |FROM g JOIN m USING (doc_id) GROUP BY g.doc_id
        |ORDER BY doc_id""".stripMargin
  )

  /** The recall oracle nests the four kNN oracles VERBATIM as CTE bodies
    * (DuckDB allows a WITH inside a parenthesized CTE body), so the
    * truth and candidate sets are the same queries the individual gates
    * hash-check — recall over drifted variants would be meaningless.
    * Overlap counts are pure integers. */
  val oracle: Map[String, String] = oracleBase +
    // online serving parity: the accumulated per-micro-batch probe
    // results equal the batch index lookup — same oracle, verbatim
    ("x_stream_knn" -> oracleBase("s_knn_ivfpq")) +
    // restart recovery: the two-phase checkpointed run accumulates the
    // same serving output, so it shares the same batch oracle verbatim
    ("x_stream_restart_knn" -> oracleBase("s_knn_ivfpq")) +
    ("s_ann_recall" ->
    ("WITH brute AS (" + oracleBase("s_knn_brute") + "),\n" +
      "lshr AS (" + oracleBase("s_knn_lsh") + "),\n" +
      "ivfr AS (" + oracleBase("s_knn_ivf") + "),\n" +
      "pqr AS (" + oracleBase("s_knn_pq_rerank") + "),\n" +
      """u AS (
        |  SELECT 'lsh' AS method, qid, id FROM lshr
        |  UNION ALL SELECT 'ivf', qid, id FROM ivfr
        |  UNION ALL SELECT 'pq_rerank', qid, id FROM pqr),
        |qs AS (SELECT DISTINCT qid FROM brute),
        |meths AS (SELECT unnest(['ivf', 'lsh', 'pq_rerank']) AS method),
        |hit AS (
        |  SELECT u.method, u.qid, count(*) AS hits
        |  FROM u JOIN brute b ON u.qid = b.qid AND u.id = b.id
        |  GROUP BY 1, 2)
        |SELECT m.method, qs.qid,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  CAST(5 AS BIGINT) AS k
        |FROM qs CROSS JOIN meths m
        |LEFT JOIN hit h ON h.method = m.method AND h.qid = qs.qid
        |ORDER BY m.method, qs.qid""".stripMargin))
}
