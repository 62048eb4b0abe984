package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape:
  *
  *  - exact: one hash-shuffle on a 16-byte digest (never on the raw text —
  *    shuffling full documents would move the whole corpus).
  *  - MinHash + LSH: candidate generation via banded signature buckets; the
  *    only shuffles are on small (band, hash) keys; verification joins only
  *    within buckets, never all-pairs.
  *  - SimHash: 64-bit signature, exact-duplicate buckets by signature.
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical content digest.
    * Shuffles only (digest, id) after a map-side digest — at 100 TB the
    * shuffle payload is ~32 bytes/doc regardless of document size.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** INCREMENTAL exact dedup: adjudicate a new ingest DELTA against the
    * digest index of the corpus already on disk — the shape every
    * recurring-crawl pipeline actually runs (a 100 TB corpus is never
    * re-deduped from scratch when a shard arrives; the delta joins the
    * standing index). Precedence is operational, not id-ordered: an
    * existing-corpus occurrence ALWAYS wins (its doc already shipped),
    * then min-id within the delta. Returns one row per delta doc with
    * its digest and verdict ('new' | 'dup_of_corpus' | 'dup_in_delta')
    * — callers filter verdict = 'new' to append, and the full verdict
    * column is what makes the op gate-checkable.
    *
    * 100 TB shape: the index side carries ONLY (digest) — 32 B/doc,
    * bucketable by digest so the anti-join side is co-located and
    * re-shuffles nothing on repeat ingests; the delta shuffles once for
    * the existing-check join (digest-keyed, text never moves) and once
    * for the within-delta min-id window on the same key — at real scale
    * both hang off one digest partitioning.
    */
  def incrementalExact(existing: DataFrame, delta: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val index = existing.select(md5(col(textCol)).as("digest")).distinct()
    val d = delta.select(col(idCol).as("id"), md5(col(textCol)).as("digest"))
    val w = Window.partitionBy(col("digest")).orderBy(col("id"))
    d.join(index.withColumn("__in_corpus", lit(true)), Seq("digest"), "left")
      .withColumn("__rn", row_number().over(w))
      .select(col("id"), col("digest"),
        when(col("__in_corpus"), lit("dup_of_corpus"))
          .when(col("__rn") > 1, lit("dup_in_delta"))
          .otherwise(lit("new")).as("verdict"))
  }

  /** Exact dedup keyed on the normalized word-set fingerprint — catches
    * whitespace/punctuation/word-order variants of identical content.
    */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature over shingles: `numHashes` permutations computed in
    * one pass by [[graft.exprs.HashExprs.MinHashSig]] (hash each shingle
    * once, affine-transform per permutation).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.exprs.HashExprs.minhash_sig(shingles, numHashes)

  /** LSH banding: signature → array of (bandIndex, bandHash) structs. Docs
    * sharing any band bucket are near-dup candidates.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }: _*)

  /** Exact Jaccard similarity of two shingle arrays — single hash-set pass
    * ([[graft.exprs.HashExprs.ArrayJaccard]]).
    */
  def jaccard(a: Column, b: Column): Column =
    graft.exprs.HashExprs.array_jaccard(a, b)

  /** MinHash-LSH near-duplicate pairs.
    *
    * Plan shape (the part that must survive 100 TB):
    *  1. narrow: shingle → signature → explode bands  (no shuffle)
    *  2. shuffle on (band, bucket) — keys are 16 bytes, combiner-friendly
    *  3. self-join *within* buckets only (the LSH point: candidate count
    *     ≪ n²); bucket skew is bounded because identical docs should first
    *     be removed by [[exact]].
    *  4. exact-Jaccard verification on candidates; threshold filter.
    *
    * Returns distinct (idA, idB, jaccard) with idA < idB.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      shingleSize: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Shingling is the dominant per-row cost and this relation feeds three
    // consumers (bucket generation + both sides of the verify join), so it
    // is persisted rather than recomputed per consumer. The returned plan
    // is lazy and reads this cache, so it cannot be unpersisted here; its
    // lifetime is handed to the caller via [[graft.CacheScope.releaseAll]]
    // (SQL-cached relations are pinned by CacheManager and are NOT
    // reclaimed by ContextCleaner). At 100 TB the same role is played by a
    // checkpoint of (id, sh) to durable storage.
    val shingled = graft.CacheScope.cache(df.select(
      col(idCol).as("id"),
      TextAnalysis.wordShingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0))
    // Candidate generation carries ONLY (id, band, bucket) — the shingle
    // arrays never enter the bucket shuffle (at 100 TB they'd dominate it).
    // Cached (caller-released, see above) because the self-join below
    // evaluates each side independently — without the cache the minhash
    // signatures would be computed twice. Rows are slim triples.
    val buckets = graft.CacheScope.cache(shingled
      .select(col("id"),
        explode(lshBands(minhashSignature(col("sh"), numHashes),
          bands, rowsPerBand)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket")))
    val cand = buckets.alias("a").join(buckets.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct() // pairs sharing several bands verify once, not per band
    // Verification joins the shingles back — one exact-Jaccard per pair.
    cand
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering (the public
    * set-similarity-join technique of Chaudhuri/Ganti/Kaushik 2006 and
    * Xiao et al.'s PPJoin): identical output to a blocked all-pairs join,
    * without the quadratic hazard of joining on coarse block keys alone.
    *
    * Principle: order every document's shingles by ascending global
    * frequency; any pair with Jaccard >= t must share at least one shingle
    * within each side's first (|s| - floor(t·|s|) + 1) shingles under that
    * common order. Exploding ONLY those prefixes and equi-joining on
    * (blockCols, shingle) yields a candidate superset of the true result,
    * then each candidate pair is verified with one exact Jaccard.
    *
    * 100 TB shape: every shuffle is keyed by shingle (fine-grained;
    * frequency-ascending prefixes keep the join buckets on RARE shingles),
    * never by a coarse block column alone — a hot (source, lang) block can
    * no longer go quadratic. Candidate volume per shingle is bounded by
    * that shingle's document frequency, not the block size. The extra cost
    * vs LSH is one global token-frequency aggregation (linear, combiner-
    * friendly) — the price of exactness.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard within
    * 1e-6 of `threshold` or above (callers round and apply the exact
    * threshold; the slack means float rounding can only ADD candidates).
    */
  def jaccardPairsExact(df: DataFrame, textCol: String, idCol: String,
                        blockCols: Seq[String] = Nil, shingleSize: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    val tEff = threshold - 1e-6
    val (base, _, prefix) =
      shinglePrefixRelations(df, textCol, idCol, blockCols, shingleSize, tEff)
    val a = prefix.alias("a"); val b = prefix.alias("b")
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
        // length filter: J >= t forces t·|B| <= |A| and t·|A| <= |B|
        col("a.sz").cast("double") >= lit(tEff) * col("b.sz").cast("double") &&
        col("b.sz").cast("double") >= lit(tEff) * col("a.sz").cast("double") &&
        // POSITIONAL filter (PPJoin, Xiao et al. WWW 2008 §3.2): J >= t
        // forces overlap >= t/(1+t)·(|A|+|B|); a shared token at sorted
        // ranks (i, j) caps the overlap at 1 + min(|A|-i, |B|-j), since
        // every other shared token sorts after it for the FIRST shared
        // token. Using tEff keeps the bound conservative (a true pair's
        // first shared-token row always survives), so candidates shrink
        // but the result set cannot — at low thresholds, where the
        // pigeonhole prefix barely prunes, this is the filter doing the
        // real work before the candidate shuffle.
        (lit(1) + least(col("a.sz") - col("a.__rn"),
            col("b.sz") - col("b.__rn"))).cast("double") >=
          lit(tEff / (1 + tEff)) *
            (col("a.sz") + col("b.sz")).cast("double"))(_ && _)
    // Candidate dedup ("pairs sharing several prefix shingles verify
    // once") is an id_a-keyed collect_set rather than a pairwise
    // distinct(): the partial aggregate still dedupes map-side like
    // distinct would, but the aggregate leaves the relation hash-
    // partitioned on id_a — exactly the first verification join's key —
    // so the candidate relation crosses the wire once instead of twice
    // ((id_a,id_b) exchange for distinct, then a second exchange on id_a
    // for the join). Per-key set size is bounded by the doc's prefix
    // length x max posting-list df, the same bound the candidate join
    // itself already has — no new skew hazard.
    val candByA = a.join(b, cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy(col("id_a")).agg(collect_set(col("id_b")).as("__bs"))
    // The verified pair list itself is cached (caller-released): it is the
    // op's PRODUCT and every downstream consumer re-reads it — the cluster
    // builder, threshold re-filters, and repeated invocations on the same
    // corpus all share one candidate join + verification instead of
    // re-running them. Pairs are three slim columns; at 100 TB this is the
    // relation you would persist to parquet between pipeline stages.
    graft.CacheScope.cache(candByA
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .select(col("id_a"), col("sh_a"), explode(col("__bs")).as("id_b"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= tEff))
  }

  /** Asymmetric near-dup: pairs whose SMALLER shingle set is mostly
    * contained in the other — containment |A∩B| / min(|A|,|B|) catches
    * quotes, excerpts, and page-plus-boilerplate supersets that Jaccard
    * structurally misses (a 50-shingle quote inside a 5000-shingle page
    * has J ≈ 0.01 but containment 1.0). The standard companion metric in
    * overlap dedup (PPJoin's containment variant; Broder's resemblance
    * vs containment distinction, SEQUENCES 1997).
    *
    * Exact within `blockCols` blocks. Returns (id_a, id_b, containment),
    * id_a < id_b, containment ≥ threshold.
    *
    * Prefix filter, containment form: only the smaller side can be
    * pruned — it needs ≥ ⌈t·|A|⌉ matches, so one of its first
    * |A|−⌊t·|A|⌋+1 frequency-ordered shingles must be shared; the larger
    * side keeps its full posting list (its size says nothing about the
    * overlap requirement). Candidates = prefix(small) ⋈ postings(large),
    * still never corpus², and the shuffle carries (id, sz, token) rows
    * only — shingle arrays join back once per distinct verified pair.
    */
  def containmentPairsExact(df: DataFrame, textCol: String, idCol: String,
                            blockCols: Seq[String] = Nil, shingleSize: Int = 3,
                            threshold: Double = 0.8): DataFrame = {
    val tEff = threshold - 1e-6
    val (base, ranked, prefix) =
      shinglePrefixRelations(df, textCol, idCol, blockCols, shingleSize, tEff,
        cacheRanked = true)
    // containment prunes ONLY the smaller side (the prefix); the larger
    // side keeps its full posting list — ranked, so the positional filter
    // below can bound the remaining overlap on BOTH sides
    val a = prefix.alias("a"); val b = ranked.alias("b")
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.tok") === col("b.tok") &&
        col("a.id") =!= col("b.id") && col("a.sz") <= col("b.sz") &&
        // positional filter, containment form: overlap must reach
        // tEff·|A| (A the smaller side); a shared token at ranks (i, j)
        // caps it at 1 + min(|A|-i, |B|-j) — exact for the same
        // first-shared-token reason as the jaccard form
        (lit(1) + least(col("a.sz") - col("a.__rn"),
            col("b.sz") - col("b.__rn"))).cast("double") >=
          lit(tEff) * col("a.sz").cast("double"))(_ && _)
    // Same id_a-keyed candidate dedup as jaccardPairsExact: the
    // collect_set aggregate replaces a pairwise distinct() so the
    // candidate relation leaves its one exchange already partitioned on
    // the first verification join's key.
    val candByA = a.join(b, cond)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .groupBy(col("id_a")).agg(collect_set(col("id_b")).as("__bs"))
    candByA
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .select(col("id_a"), col("sh_a"), explode(col("__bs")).as("id_b"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
          .as("containment"))
      .filter(col("containment") >= tEff)
  }

  /** Shared prefix-filter scaffolding for the exact pair ops
    * ([[jaccardPairsExact]], [[containmentPairsExact]]): the base shingle
    * relation, the exploded (id, blocks, sz, tok) stream, and the per-doc
    * frequency-ascending pigeonhole prefix for effective threshold `tEff`
    * — floor (not ceil) of t·sz under-counts the required overlap, so the
    * prefix is never too short and exactness is preserved at the
    * boundary. ONE definition so the prefix-length subtlety and the cache
    * policy can't drift between the two metrics.
    *
    * All three relations feed multiple consumers or a self-join and are
    * cached (caller-released via [[graft.CacheScope.releaseAll]]; at
    * 100 TB these are the relations you'd checkpoint between stages).
    */
  private def shinglePrefixRelations(df: DataFrame, textCol: String,
      idCol: String, blockCols: Seq[String], shingleSize: Int,
      tEff: Double, cacheRanked: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val blocks = blockCols.map(col)
    val base = graft.CacheScope.cache(
      df.select((col(idCol).as("id") +: blocks :+
        TextAnalysis.wordShingles(col(textCol), shingleSize).as("sh")): _*)
      .filter(size(col("sh")) > 0))
    // toks is deliberately NOT cached: it is the one corpus-sized
    // relation here (every shingle OCCURRENCE), and each of its consumers
    // re-derives it from cached `base` with a scan-stage explode —
    // cheaper than writing the exploded corpus to storage, and at 100 TB
    // materializing it would dwarf the documents themselves.
    val toks = base.select((col("id") +: blocks :+ size(col("sh")).as("sz") :+
        explode(col("sh")).as("tok")): _*)
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("id")).orderBy(col("cnt"), col("tok"))
    // Every token occurrence with its per-doc rank under the one global
    // frequency-ascending (cnt, tok) order — the order both the prefix
    // pigeonhole AND the PPJoin positional filter are defined against.
    // Cached only when the caller consumes it beyond the prefix filter
    // (the containment posting side); the jaccard path reads it once.
    val ranked0 = toks.join(freq, "tok")
      .withColumn("__rn", row_number().over(w))
    val ranked = if (cacheRanked) graft.CacheScope.cache(ranked0) else ranked0
    val prefix = graft.CacheScope.cache(ranked
      .filter(col("__rn") <=
        col("sz") - floor(lit(tEff) * col("sz")).cast("int") + 1))
    (base, ranked, prefix)
  }

  /** Per-document fraction of sentences duplicated elsewhere in the corpus —
    * the C4/Lee-et-al. sentence-level dedup signal (public technique:
    * Raffel et al. 2020 §2.2 three-sentence-span dedup, Lee et al. 2021
    * "Deduplicating Training Data..."): boilerplate-heavy documents score
    * high and get filtered or stripped before training.
    *
    * 100 TB shape: sentences leave the scan as (doc_id, md5) pairs — the
    * corpus-wide duplicate count shuffles 16-byte digests, never sentence
    * text; the join back to documents is digest-keyed. Min length filters
    * trivial sentences like C4 does.
    */
  def dupSentenceFraction(df: DataFrame, textCol: String, idCol: String,
                          minChars: Int = 20): DataFrame = {
    // (id, digest) feeds BOTH the min/max aggregate and the join probe —
    // cached (caller-released via [[graft.CacheScope.releaseAll]]), or
    // the sentence split/explode/md5 subtree and the input scan run twice
    // (measured 0.22 → 0.49 s at sf0.1 when this cache was dropped)
    val sents = graft.CacheScope.cache(
      df.select(col(idCol).as("id"),
          explode(filter(
            transform(split(col(textCol), "[.!?]\\s+|[.!?]$"), s => trim(s)),
            s => length(s) >= minChars)).as("sent"))
        .select(col("id"), md5(lower(col("sent"))).as("h")))
    val scored = withCrossDocFlag(sents, "h", "__xdup")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_sent"),
        sum(when(col("__xdup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("id"),
        (col("n_dup").cast("double") / col("n_sent").cast("double"))
          .as("dup_sent_frac"))
    // TOTALITY: docs contributing no qualifying sentence (short, null, or
    // all-trivial text) fell out of the explode — join them back at 0.0
    // (nothing to duplicate). A per-doc score relation that silently
    // loses rows makes the caller's `docs JOIN scores` drop every short
    // document from the corpus. The join-back shuffles (id, frac) scalars
    // keyed by id — same slim-row shape as the digest join above.
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("dup_sent_frac"), lit(0.0)).as("dup_sent_frac"))
  }

  /** CCNet-style cross-document line/paragraph deduplication (Wenzek et
    * al. 2020 §3.1 — duplicate paragraphs removed by hash comparison
    * before any language scoring): every line that occurs anywhere else
    * in the corpus keeps exactly ONE canonical occurrence — the smallest
    * (document id, line position) — and every other occurrence is cut;
    * each document is then rebuilt from its surviving lines in order.
    * Input is (id, lines array); returns (id, n_lines, n_removed,
    * clean_md5) — the md5 travels instead of the rewritten text so
    * downstream compares stay fixed-width (same contract as the span
    * removers).
    *
    * 100 TB shape: the duplicate decision shuffles (8-byte line digest,
    * id, idx) scalars once, keyed by digest — line TEXT never shuffles
    * or joins; the canonical pick is a min-struct aggregate per digest
    * (map-side combinable — the [[withCrossDocFlag]] rationale: a
    * rank-1 window here would buffer a corpus-wide hot boilerplate
    * digest in one task, the aggregate+join streams it); removals come
    * back (id)-keyed as position sets, and the rewrite is a positional
    * array filter over the lines the document already holds — no
    * doc-sized sort, no text re-shuffle.
    *
    * ORACLE ASYMMETRY (deliberate): duplicate detection keys on
    * xxhash64(line) while the DuckDB oracle partitions by the line TEXT,
    * so a 64-bit digest collision would both over-dedup two distinct
    * lines and break cross-engine parity. Accepted at 2^-64-per-pair
    * odds — CCNet itself dedups on hashes (Wenzek 2020 §3.1), and
    * carrying text into the shuffle to close a 2^-64 hole would defeat
    * the digest-only-shuffle design above. If a collision ever
    * materializes, the gate turns red and points straight here.
    */
  def lineDedup(df: DataFrame, linesCol: String, idCol: String): DataFrame = {
    // cached (caller-released): the lines relation feeds the occurrence
    // explode AND the final positional rewrite
    val t = graft.CacheScope.cache(
      df.select(col(idCol).as("id"), col(linesCol).as("lines")))
    val occ = t.select(col("id"),
        posexplode(col("lines")).as(Seq("idx", "line")))
      .select(col("id"), col("idx"), xxhash64(col("line")).as("h"))
    // one row per DUPLICATED digest carrying its canonical occurrence
    val canon = occ.groupBy(col("h"))
      .agg(min(struct(col("id"), col("idx"))).as("c"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val removed = occ.join(canon, Seq("h"))
      .filter(struct(col("id"), col("idx")) =!= col("c"))
      .groupBy(col("id")).agg(collect_set(col("idx")).as("rm"))
    t.join(removed, Seq("id"), "left")
      .select(col("id"),
        size(col("lines")).cast("long").as("n_lines"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"),
        // a null lines array (null-text doc) has no rebuilt document ->
        // NULL digest; an array emptied BY dedup still digests md5('')
        // (a real, now-empty document) — concat_ws would conflate the two
        when(col("lines").isNotNull,
          md5(concat_ws("\n",
            filter(col("lines"), (_, i) =>
              !array_contains(coalesce(col("rm"),
                array().cast("array<integer>")), i)))))
          .as("clean_md5"))
  }

  /** Mark each (id, key) row with whether its key occurs in ≥ 2 DISTINCT
    * documents — the shared cross-doc duplication test behind
    * [[dupSentenceFraction]], [[crossDocSpanDupFraction]] and
    * [[removeDuplicateSpans]]; ONE definition so the hot-digest shape is
    * structural, not copy-pasted. "key in ≥ 2 docs" ⟺ min(id) ≠ max(id)
    * per key: the min/max aggregate is MAP-SIDE COMBINABLE (unlike a
    * countDistinct, whose Expand + two-phase plan also carried an
    * intermittent AQE empty-result hazard — PLANS.md round 8); the join
    * back is against a one-row-per-key relation, so a corpus-wide hot
    * boilerplate digest STREAMS through the join instead of being
    * buffered whole by one window task; and the verdict is a COLUMN the
    * caller filters or aggregates AFTER the join — no filtered-aggregate
    * branch for adaptive planning to mis-judge. `rel` must carry an `id`
    * column; appends boolean `dupCol`.
    */
  private def withCrossDocFlag(rel: DataFrame, keyCol: String,
                               dupCol: String): DataFrame = {
    val minmax = rel.groupBy(col(keyCol))
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
    rel.join(minmax, Seq(keyCol))
      .withColumn(dupCol, col("__mn") =!= col("__mx"))
      .drop("__mn", "__mx")
  }

  /** Large-star round of Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC 2014), §3: for every node u (as the
    * center of its symmetrized neighborhood N(u)) with m = min(N(u) ∪
    * {u}), emit an edge (v, m) for each STRICTLY LARGER neighbor v > u.
    * Output edges are canonical (first endpoint > second); no self-loops
    * (v > u ≥ m). No distinct here — duplicate edges don't change any
    * later min and the smallStar output dedupes.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    // per-center min as a window aggregate: ONE shuffle on u (a groupBy +
    // join-back would shuffle the neighborhood relation twice)
    val w = Window.partitionBy(col("u"))
    sym.withColumn("mn", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("mn").as("v"))
  }

  /** Small-star round (same paper, §3): edges arrive canonical (u > v);
    * for every center u with smaller-neighbor set N⁻(u) and m = min(N⁻(u))
    * — which is min(N⁻(u) ∪ {u}) since every member is < u — emit (x, m)
    * for each x ∈ N⁻(u) ∪ {u} except m itself. Output stays canonical
    * (x > m by minimality) and is deduped, so round-over-round edge sets
    * compare as sets.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    // single window shuffle for the per-center min; each row then emits
    // its neighbor AND its center against that min in one explode pass
    // (x ∈ {v, u}, keep x ≠ mn), so the window subtree is evaluated once
    val w = Window.partitionBy(col("u"))
    e.withColumn("mn", min(col("v")).over(w))
      .select(explode(array(col("v"), col("u"))).as("x"), col("mn"))
      .filter(col("x") =!= col("mn"))
      .select(col("x").as("u"), col("mn").as("v"))
      .distinct()
  }

  /** Near-dup CLUSTERS from a pair list: connected components via the
    * alternating large-star/small-star algorithm (Kiveris et al., SoCC
    * 2014) — each round contracts every node toward the minimum id of its
    * component, converging in O(log² n) rounds (vs O(diameter) for plain
    * min-label propagation) to a star per component rooted at its minimum
    * node. That root doubles as the canonical (keep) document per cluster.
    * Returns (id, label).
    *
    * 100 TB shape: every shuffle carries (u, v) id pairs only — never the
    * documents; round count is logarithmic even for adversarial long-chain
    * graphs. ONE driver-synchronized job per round: the materializing
    * aggregate doubles as the convergence signal (edge count + order-
    * independent hash digest), so there is no separate convergence scan. A
    * stats match is confirmed with one exact set comparison (both sides
    * are cached, deduped, slim) before declaring convergence, so a 64-bit
    * hash-sum collision cannot produce wrong labels. Lineage is cut with
    * localCheckpoint every 4th round (iterative plans otherwise grow
    * analysis time unboundedly); localCheckpoint blocks are RDD-level and
    * ARE reclaimed by ContextCleaner once unreachable, unlike SQL caches,
    * which this loop unpersists explicitly as each round supersedes the
    * last. The final round's cache backs the lazily-returned labels and is
    * registered with [[graft.CacheScope]] for caller-controlled release.
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // Canonical directed edge list (u, v), u > v; self-pairs dropped.
    // Cached like every other op intermediate (caller-released via
    // CacheScope, NOT unpersisted when round 0 supersedes it): the pair
    // list is the op's slim input relation, identical across repeated
    // calls on the same corpus, so keeping it lets CacheManager's
    // plan-dedupe serve re-runs without re-deriving the pairs.
    var e = graft.CacheScope.cache(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var cachedRound: DataFrame = null // round cache the loop owns + retires
    // Materialize the (possibly expensive) input pair pipeline ONCE before
    // the first star round touches it: largeStar references `e` four times
    // (sym union + the join back), and concurrent scans of a cold cache
    // each evaluate the underlying plan — the pair-generation join would
    // run ~4× in parallel. The same aggregate seeds the convergence stats,
    // so an input that is already a star fixpoint converges after ONE round.
    val r0 = e.agg(count(lit(1)).as("c"),
      expr("bit_xor(xxhash64(u, v))").as("s")).head()
    var prevCnt = r0.getLong(0)
    var prevSum = if (r0.isNullAt(1)) 0L else r0.getLong(1)
    // Flatten the materialized input to a LogicalRDD before the rounds
    // reference it: `e`'s logical plan is the caller's ENTIRE pair-
    // generation tree, and one star round references e ~8x — execution
    // would hit the cache, but the analyzer/optimizer re-processes eight
    // copies of the deep pair-gen plan per round (measured ~2s of pure
    // driver time per round on a 4-edge graph). The RDD scan still reads
    // the cached blocks; the cache itself stays registered for release.
    e = spark.createDataFrame(e.rdd, e.schema)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val tRound = System.nanoTime()
      val next0 = smallStar(largeStar(e))
      // Every round MUST truncate the logical lineage: one star round
      // references its input ~8× (sym twice in largeStar, the join back in
      // smallStar), so un-truncated plans grow 8^rounds nodes and OOM the
      // driver during analysis/AQE explain long before the data is big.
      // Persist + the fused agg below materializes the round in ONE job;
      // wrapping the cached result as a LogicalRDD (createDataFrame over
      // next.rdd) gives the next round a flat plan. Every 4th round a
      // localCheckpoint additionally cuts the RDD lineage chain (the
      // executor-loss recompute path), which grows linearly otherwise.
      val checkpointRound = i % 4 == 3
      val next = if (checkpointRound) next0.localCheckpoint()
        else next0.persist(StorageLevel.MEMORY_AND_DISK)
      // ONE job: materializes `next` into its cache AND yields the
      // convergence stats — count + order-independent XOR digest of the
      // edge set (XOR, not SUM: ANSI mode makes a 64-bit sum overflow).
      val r = next.agg(count(lit(1)).as("c"),
        expr("bit_xor(xxhash64(u, v))").as("s")).head()
      val cnt = r.getLong(0)
      val hsum = if (r.isNullAt(1)) 0L else r.getLong(1)
      if (cnt == prevCnt && hsum == prevSum) {
        // probable fixpoint — exact confirmation: equal-cardinality deduped
        // sets are identical iff the difference is empty (both cached)
        converged = next.exceptAll(e).isEmpty
      }
      if (sys.props.contains("graft.dedup.debugRounds"))
        System.err.println(s"[dedupClusters] round=$i edges=$cnt converged=$converged ms=${(System.nanoTime() - tRound) / 1000000}")
      prevCnt = cnt; prevSum = hsum
      e = if (checkpointRound) next
        else spark.createDataFrame(next.rdd, next.schema) // flat LogicalRDD
      if (cachedRound != null) cachedRound.unpersist() // superseded SQL cache
      cachedRound = if (checkpointRound) null else next // (checkpoint RDD
      i += 1 // blocks are reclaimed by ContextCleaner once unreachable)
    }
    if (cachedRound != null) graft.CacheScope.register(cachedRound)
    // At the star fixpoint every edge points directly at its component's
    // minimum node, so labels read straight off the edges; roots (targets)
    // label themselves. groupBy-min also degrades gracefully to "min
    // incident label" if maxIters was exhausted before the fixpoint.
    e.select(col("u").as("id"), col("v").as("label"))
      .unionAll(e.select(col("v").as("id"), col("v").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
  }

  /** Benchmark decontamination: flag every training document sharing at
    * least one `n`-gram with an evaluation corpus — the published
    * train-test-overlap guard (Brown et al. 2020 appendix C 13-gram
    * dedup; Lee et al. 2021 §4.2). Returns (id, n_hits) where n_hits is
    * the count of DISTINCT contaminated n-grams in the doc (0 = clean),
    * so callers can either drop or threshold.
    *
    * 100 TB shape: the eval corpus is the small side by construction —
    * its distinct shingle digests broadcast (16-byte md5 each; a full
    * benchmark suite is ~10⁶ shingles ≈ 16 MB); the corpus-side explode
    * stays in the scan stage and the aggregation shuffles (id, count)
    * pairs only. No shuffle ever carries document text.
    */
  def decontaminate(docs: DataFrame, textCol: String, idCol: String,
                    bench: DataFrame, benchTextCol: String,
                    n: Int = 8): DataFrame = {
    val benchShingles = bench
      .select(explode(TextAnalysis.wordShingles(col(benchTextCol), n)).as("sh"))
      .select(md5(col("sh")).as("h")).distinct()
    val docShingles = docs.select(col(idCol).as("id"),
        explode(TextAnalysis.wordShingles(col(textCol), n)).as("sh"))
      .select(col("id"), md5(col("sh")).as("h")).distinct()
    val hits = docShingles
      .join(broadcast(benchShingles), Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** The eval-side contamination report — [[decontaminate]] transposed:
    * for every EVAL document, how many of its distinct word `n`-grams
    * also occur anywhere in the training corpus, and the overlap
    * fraction. This is the number a benchmark card publishes ("x% of
    * GSM8K 8-grams appear in the training set" — the train-test overlap
    * appendix of Brown et al. 2020); [[decontaminate]] answers "which
    * training docs do I drop", this answers "how burned is each eval
    * item".
    *
    * 100 TB shape: the corpus side reduces to distinct 16-byte digests
    * STREAMED through a broadcast-hash semi join keyed by the (small)
    * eval set's digests — the corpus is never collected, shuffled on
    * text, or grouped; only the matched digests (bounded by the eval
    * set's size) reach the per-eval-doc count.
    */
  def evalOverlapReport(corpus: DataFrame, textCol: String,
                        bench: DataFrame, benchTextCol: String,
                        benchIdCol: String, n: Int = 8): DataFrame = {
    val evalGrams = bench.select(col(benchIdCol).as("id"),
        explode(TextAnalysis.wordShingles(col(benchTextCol), n)).as("sh"))
      .select(col("id"), md5(col("sh")).as("h")).distinct()
    val evalDigests = evalGrams.select(col("h")).distinct()
    // corpus grams matched by ANY eval digest: a broadcast semi join the
    // corpus side streams through; output ≤ |eval digests|
    val hitDigests = corpus
      .select(explode(TextAnalysis.wordShingles(col(textCol), n)).as("sh"))
      .select(md5(col("sh")).as("h"))
      .join(broadcast(evalDigests), Seq("h"), "left_semi").distinct()
    evalGrams
      .join(hitDigests.withColumn("__hit", lit(1)), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("__hit"), lit(0)))
        .as("n_overlap"))
      .select(col("id"), col("n_grams"), col("n_overlap"),
        round(col("n_overlap").cast("double") /
          col("n_grams").cast("double"), 6).as("overlap_frac"))
  }

  /** Bloom-filter decontamination — the broadcast-a-FILTER variant of
    * [[decontaminate]] for when even the distinct eval-set digest relation
    * is too large to ship: the benchmark's word n-grams compress into an
    * `mBits`-bit Bloom filter stored as (word_idx, bits) rows — at most
    * mBits/32 of them, ~mBits/8 bytes total regardless of eval-set size —
    * and each document shingle probes its `k` md5-derived bit positions.
    * A document is flagged iff some shingle finds ALL k bits set. Error
    * is one-sided: every true overlap is flagged (hits are a superset of
    * [[decontaminate]]'s); false positives ~(1−e^{−kn/m})^k, sized by
    * `mBits`. All positions derive from md5, so the filter — and
    * therefore the flag set — is deterministic and oracle-checkable.
    *
    * Returns (id, n_grams, n_hits, flagged), n_grams = distinct shingles.
    *
    * 100 TB shape: the build shuffles (word_idx, mask) pairs with
    * map-side bit_or combine — bounded by the filter size, not the eval
    * set; the probe is a broadcast join on word index, and document text
    * never leaves the scan stage (only (id, 16-byte digest, word, mask)
    * rows move).
    */
  def bloomDecontaminate(docs: DataFrame, textCol: String, idCol: String,
                         bench: DataFrame, benchTextCol: String,
                         n: Int = 8, mBits: Int = 1 << 20,
                         k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 4, "md5 yields four independent 32-bit segments")
    def positions(hx: Column): Seq[Column] =
      (0 until k).map(i =>
        conv(substring(hx, i * 8 + 1, 8), 16, 10).cast("long") % mBits)
    val bloom = bench
      .select(explode(TextAnalysis.wordShingles(col(benchTextCol), n)).as("sh"))
      .select(explode(array(positions(md5(col("sh"))): _*)).as("pos"))
      .select((col("pos") / 32).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("bits"))
    val docSh = docs
      .select(col(idCol).as("id"),
        explode(TextAnalysis.wordShingles(col(textCol), n)).as("sh"))
      .select(col("id"), md5(col("sh")).as("hx")).distinct()
    val probed = docSh
      .select(col("id"), col("hx"),
        explode(array(positions(col("hx")): _*)).as("pos"))
      .withColumn("w", (col("pos") / 32).cast("long"))
      .withColumn("m",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"))
      .join(broadcast(bloom), Seq("w"), "left")
      .select(col("id"), col("hx"),
        when(col("bits").isNotNull &&
          (col("bits").bitwiseAND(col("m")) =!= 0L), 1).otherwise(0)
          .as("present"))
    val perGram = probed.groupBy(col("id"), col("hx"))
      .agg((sum(col("present")) === k).as("hit"))
    val agg = perGram.groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
    docs.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("flagged"))
  }

  /** Cross-document duplicate-span coverage: for each document, the
    * fraction of word `n`-gram START positions whose n-gram also occurs in
    * at least one OTHER document — the per-document signal behind exact
    * substring deduplication (Lee et al. 2021 "Deduplicating Training Data
    * Makes Language Models Better", §4.1: remove spans shared across
    * documents). Documents made of boilerplate shared with the rest of the
    * corpus score near 1; unique prose scores near 0. Positional n-grams
    * (with multiplicity), unlike [[TextAnalysis]]'s within-doc repetition
    * ratio (same doc) and [[dupSentenceFraction]] (sentence granularity).
    * Returns (id, n_pos, dup_frac); docs shorter than n tokens have
    * n_pos = 0 and dup_frac = 0.
    *
    * 100 TB shape: n-gram TEXT never shuffles — positions leave the scan
    * as (id, xxhash64(gram)) pairs (8-byte keys), and the cross-doc test
    * is a min/max window over ONE digest-keyed shuffle. A 64-bit
    * digest collides at birthday scale (~2^32 grams); a collision upgrades
    * a unique gram to "duplicated" — acceptable for a filter signal, and
    * the digest width is swappable for md5's 128 bits where it isn't.
    */
  def crossDocSpanDupFraction(df: DataFrame, textCol: String, idCol: String,
                              n: Int = 5): DataFrame = {
    val t = df.select(col(idCol).as("id"),
      TextAnalysis.asciiTokens(col(textCol)).as("toks"))
    // Cached (caller-released): withCrossDocFlag consumes grams TWICE
    // (min/max aggregate + join probe) — uncached, the scan + tokenize +
    // explode + hash subtree runs once per consumer (measured 2x on the
    // same shape in dupSentenceFraction). Slim (id, 8-byte digest) rows.
    val grams = graft.CacheScope.cache(t.select(col("id"),
        explode(TextAnalysis.positionalNgrams(col("toks"), n)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h")))
    // cross-doc test via [[withCrossDocFlag]] (hot-digest / AQE rationale
    // lives there)
    val perDoc = withCrossDocFlag(grams, "h", "__xdup")
      .filter(col("__xdup"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup"))
    t.select(col("id"),
        greatest(size(col("toks")) - lit(n - 1), lit(0)).cast("long").as("n_pos"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_pos"),
        round(when(col("n_pos") > 0,
            coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_pos").cast("double"))
          .otherwise(lit(0.0)), 6).as("dup_frac"))
  }

  /** Exact duplicate-span REMOVAL — the rewrite operator behind Lee et
    * al. 2021's ExactSubstr dedup: every token covered by a word `n`-gram
    * that also occurs in another document is cut out, and the document is
    * reassembled from the surviving tokens. (The paper removes one copy
    * and keeps one; removing all copies is the conservative variant used
    * when any cross-document boilerplate is unwanted — the choice is a
    * policy knob, the plumbing is identical.) Returns
    * (id, n_toks, n_removed, clean_md5) — the md5 travels instead of the
    * rewritten text so downstream compares stay fixed-width; swap the
    * select to carry `clean` itself in a real pipeline.
    *
    * 100 TB shape: three digest-or-integer-keyed shuffles — (id, gram-
    * digest) for the cross-doc window test, (id, position) for
    * coverage expansion, and the per-doc reassembly whose rows are (pos,
    * token) pairs. Reassembly sorting happens per document via
    * `array_sort` on collected (pos, tok) structs — a doc-sized sort, not
    * a global one; document text enters exactly two scans and no join
    * carries it.
    */
  def removeDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 5): DataFrame = {
    val t = graft.CacheScope.cache(df.select(col(idCol).as("id"),
      TextAnalysis.asciiTokens(col(textCol)).as("toks")))
    val grams = t.select(col("id"),
        posexplode(TextAnalysis.positionalNgrams(col("toks"), n)).as(Seq("p0", "g")))
      .select(col("id"), (col("p0") + 1).as("i"), xxhash64(col("g")).as("h"))
    // positions covered by ANY cross-doc-duplicated n-gram start: i..i+n-1;
    // cross-doc test via [[withCrossDocFlag]]
    val covered = withCrossDocFlag(grams, "h", "__xdup")
      .filter(col("__xdup"))
      .select(col("id"), explode(sequence(col("i"), col("i") + lit(n - 1))).as("pos"))
      .distinct()
    removeCovered(t, covered)
  }

  /** Within-document repeated-span REMOVAL: every token covered by a word
    * `n`-gram that occurs at 2+ positions of the SAME document is cut —
    * the decoding-loop / stutter cleanup counterpart of
    * [[removeDuplicateSpans]] (whose signal is cross-document).
    * [[TextAnalysis]]'s Gopher repetition ratio SCORES this; here the
    * spans are actually rewritten out. Same return shape:
    * (id, n_toks, n_removed, clean_md5).
    *
    * 100 TB shape: the repeat test is a count window over (id, digest) —
    * doc-local keys, so the shuffle partitions by document content and
    * has no corpus-wide hot keys; everything downstream is the shared
    * position-set reassembly (doc-sized sorts, text never joins).
    */
  def removeRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                          n: Int = 5): DataFrame = {
    val t = graft.CacheScope.cache(df.select(col(idCol).as("id"),
      TextAnalysis.asciiTokens(col(textCol)).as("toks")))
    val grams = t.select(col("id"),
        posexplode(TextAnalysis.positionalNgrams(col("toks"), n)).as(Seq("p0", "g")))
      .select(col("id"), (col("p0") + 1).as("i"), xxhash64(col("g")).as("h"))
    val w = Window.partitionBy(col("id"), col("h"))
    val covered = grams
      .withColumn("rep", count(lit(1)).over(w) > 1)
      .filter(col("rep"))
      .select(col("id"), explode(sequence(col("i"), col("i") + lit(n - 1))).as("pos"))
      .distinct()
    removeCovered(t, covered)
  }

  /** Shared span-removal reassembly: drop the covered (id, pos) token
    * positions and rebuild each document from the survivors (per-doc
    * `array_sort` on collected (pos, tok) structs — a doc-sized sort, not
    * a global one; document text enters exactly two scans and no join
    * carries it). `t` must be (id, toks).
    */
  private def removeCovered(t: DataFrame, covered: DataFrame): DataFrame = {
    val tokens = t.select(col("id"),
      posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = tokens.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean"))
    t.select(col("id"), size(col("toks")).cast("long").as("n_toks"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_toks"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
  }

  /** 64-bit SimHash over word shingles, computed in one per-row pass by
    * [[graft.exprs.HashExprs.SimHash64]] (the column-function formulation
    * needs 64 aggregate passes per row — quadratic and codegen-hostile).
    */
  def simhash(text: Column, shingleSize: Int = 2): Column =
    graft.exprs.HashExprs.simhash64(TextAnalysis.wordShingles(text, shingleSize))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs within identical 16-bit blocks
    * (pigeonhole: any pair within distance 3 shares at least one of 4
    * blocks). Shuffle key = (block index, block value) — small and uniform.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // Signatures computed once into a slim (id, sig) relation; the block
    // join and the verification both reuse it (8-byte payloads only).
    // Cached (caller-released via [[graft.CacheScope.releaseAll]]) so the
    // a/b self-join doesn't shingle + SimHash the corpus twice (each
    // self-join side is evaluated independently).
    val sigs = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val blocked = graft.CacheScope.cache(sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map { i =>
        struct(lit(i).as("i"),
          shiftright(col("sig"), i * 16).bitwiseAND(0xFFFFL).as("v"))
      }: _*)).as("blk")))
    val a = blocked.alias("a"); val b = blocked.alias("b")
    a.join(b,
        col("a.blk.i") === col("b.blk.i") && col("a.blk.v") === col("b.blk.v") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** URL-keyed dedup — the CommonCrawl first pass: canonicalize each
    * document's URL ([[graft.text.TextAnalysis.normalizeUrl]]: fragment
    * and utm_* stripped, default ports dropped, params sorted, host
    * lowercased) and keep ONE document per canonical URL — the longest
    * text, ties to the smallest id (recrawls and tracking-parameter
    * variants collapse onto the best capture). Returns the kept rows as
    * (id, url_norm, keep_len).
    *
    * Scale: one shuffle keyed on the canonical-URL string, then a
    * per-key WindowGroupLimit (rank-1 filter prunes map-side before the
    * exchange); document text never travels — only (id, url, length).
    */
  def urlDedup(df: DataFrame, urlCol: String, lenCol: String,
               idCol: String): DataFrame = {
    val w = Window.partitionBy(col("url_norm"))
      .orderBy(col("keep_len").desc, col("id"))
    // id keeps its native type — only ordering is needed, and casting a
    // non-numeric id to long would NULL it out.
    df.select(col(idCol).as("id"),
        graft.text.TextAnalysis.normalizeUrl(col(urlCol)).as("url_norm"),
        col(lenCol).cast("long").as("keep_len"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("url_norm"), col("keep_len"))
  }

  /** Domain-level quality gate — the C4/RefinedWeb "bad host" filter done
    * from the data instead of a handed-down blocklist: aggregate a
    * per-document quality score by registered host, flag hosts whose MEAN
    * quality falls below `minMeanQuality` (or with fewer than `minDocs`
    * captures — too thin to judge), and keep only documents on surviving
    * hosts. Returns kept (id, domain, domain_docs, domain_mean_q).
    *
    * Scale: the per-domain aggregate is map-side combined and bounded by
    * distinct hosts (millions, not documents); the join back is an
    * EXPLICIT broadcast — the aggregate's size estimate inherits the
    * corpus scan's (the estimate-lapse pattern measured on the DSIR
    * model join), so auto-broadcast would abandon exactly this join at
    * scale. Quality evaluates once per document in the scan stage.
    */
  def domainQualityFilter(df: DataFrame, domainCol: String, qualityCol: String,
                          idCol: String, minMeanQuality: Double,
                          minDocs: Long = 2L): DataFrame = {
    // Cached (guide §2.4): this projection feeds BOTH the per-domain
    // aggregate and the final probe join, and the caller's quality
    // column is typically an expensive scan-stage expression
    // (d_domain_filter: qualityScore's regex battery over full text) —
    // uncached it evaluated twice per invocation (round-22 ScanAudit:
    // 2 scans of documents, dup_max=2). Slim rows (id, domain, q);
    // caller-released via CacheScope.releaseAll.
    val scored = graft.CacheScope.cache(df.select(col(idCol).as("id"),
      col(domainCol).as("domain"), col(qualityCol).cast("double").as("q")))
    val dom = scored.groupBy(col("domain"))
      .agg(count(lit(1)).as("domain_docs"),
        round(avg(col("q")), 6).as("domain_mean_q"))
      .filter(col("domain_docs") >= minDocs &&
        col("domain_mean_q") >= minMeanQuality)
    scored.join(broadcast(dom), Seq("domain"))
      .select(col("id"), col("domain"), col("domain_docs"),
        col("domain_mean_q"))
  }

  /** MOSS cross-document matching (Schleimer SIGMOD 2003 §5): candidate
    * plagiarism/boilerplate pairs = documents sharing at least `minShared`
    * winnowing fingerprints ([[TextAnalysis.winnowGramHashes]] +
    * [[TextAnalysis.winnowSelect]] — any shared substring of length
    * ≥ w+k−1 guarantees a shared fingerprint). Fingerprints appearing in
    * more than `maxDf` documents are dropped BEFORE pairing, exactly as
    * MOSS ignores ubiquitous fingerprints (template/boilerplate hashes
    * would otherwise dominate every ranking and blow up the join).
    * Returns (id_a, id_b, shared) with id_a &lt; id_b.
    *
    * Scale: the pair join is posting-list-shaped — keyed on the 8-byte
    * fingerprint, with each posting list hard-capped at `maxDf` by the
    * pre-filter, so one fingerprint contributes ≤ maxDf²/2 pairs and the
    * hot-key blow-up of a naive signature join cannot happen. Document
    * text never shuffles: fingerprinting is scan-stage, and only (fp, id)
    * longs reach the exchange. The shared-count aggregate is map-side
    * combined on (id_a, id_b).
    */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 5, w: Int = 4, minShared: Int = 2,
                  maxDf: Int = 64): DataFrame = {
    // native one-pass fingerprinting: the column formulation
    // (winnowGramHashes → winnowSelect) re-evaluates its lambda subtrees
    // per element once the optimizer collapses the staging projections —
    // O(m²) regex work per doc (a 40-minute single task at sf0.01)
    // id keeps its NATIVE type: the self-join needs only equality +
    // ordering, and a cast("long") would turn non-numeric ids into NULL —
    // NULL fails `a.id < b.id`, silently dropping those documents from
    // pairing.
    val fps = df
      .select(col(idCol).as("id"),
        explode(TextAnalysis.winnowFingerprints(col(textCol), k, w)).as("fp"))
    // (fp, df) is fingerprint-vocabulary-bounded; the semi join back
    // prunes hot fingerprints before any pairing
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= 2 && col("dfreq") <= maxDf)
      .select(col("fp"))
    // cached: the pruned posting relation feeds BOTH sides of the self
    // join (caller-released via [[graft.CacheScope.releaseAll]])
    val posts = graft.CacheScope.cache(fps.join(rare, Seq("fp")))
    val a = posts.alias("a"); val b = posts.alias("b")
    a.join(b, col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The dedup-funnel datasheet: how many documents survive each stage of
    * the standard curation sequence — exact content dedup → normalized
    * word-set fingerprint dedup → benchmark decontamination — as
    * (stage, docs_in, docs_out, removed, removed_frac) rows, the "data
    * was deduplicated; here is the funnel" table a dataset card publishes.
    *
    * Stages are SEQUENTIAL (each filters the previous stage's survivors),
    * but the whole funnel is computed in one pass of per-doc survival
    * flags: the stage-2 window ranks by (stage-1-survivor DESC, id), so
    * rank 1 is precisely the lowest-id stage-1 survivor of each
    * fingerprint class — no intermediate materialization, no re-scan per
    * stage.
    *
    * Scale: two digest-keyed windows (16-byte keys, text never shuffles —
    * the [[exact]]/[[byFingerprint]] shape), one broadcast semi join for
    * contamination ([[decontaminate]]'s eval-digest broadcast), then a
    * single global count aggregate — map-side combined, output is 3 rows.
    */
  def dedupFunnel(docs: DataFrame, textCol: String, idCol: String,
                  bench: DataFrame, benchTextCol: String,
                  n: Int = 8): DataFrame = {
    val w1 = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    val w2 = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col("__s1").desc, col(idCol))
    val hits = decontaminate(docs, textCol, idCol, bench, benchTextCol, n)
      .select(col("id").as(idCol), col("n_hits"))
    val flags = docs
      .withColumn("__s1", row_number().over(w1) === 1)
      .withColumn("__s2", col("__s1") && row_number().over(w2) === 1)
      .join(hits, Seq(idCol), "left")
      .withColumn("__s3", col("__s2") && coalesce(col("n_hits"), lit(0L)) === 0)
    val a = flags.agg(
      count(lit(1)).as("n_raw"),
      sum(col("__s1").cast("long")).as("n1"),
      sum(col("__s2").cast("long")).as("n2"),
      sum(col("__s3").cast("long")).as("n3"))
    a.select(expr(
        """stack(3,
          |  '1_exact', n_raw, n1,
          |  '2_fingerprint', n1, n2,
          |  '3_decontaminate', n2, n3) AS (stage, docs_in, docs_out)"""
          .stripMargin))
      .withColumn("removed", col("docs_in") - col("docs_out"))
      .withColumn("removed_frac", round(col("removed").cast("double") /
        col("docs_in").cast("double"), 6))
  }
}
