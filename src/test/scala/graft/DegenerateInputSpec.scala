package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Degenerate-input totality sweep (round 15, second hardening pass).
  *
  * At 100 TB a filter chain, a partition, or a date slice routinely yields
  * ZERO rows; real corpora carry null text/url/vec fields. A library entry
  * point that NPEs on an empty corpus (null aggregate sums read with
  * getLong, head() on an empty model relation) turns a benign empty split
  * into a job abort at stage boundaries. Contract asserted here:
  *
  *  - empty in → empty (or well-formed zero-count report) out, never an
  *    uncaught NPE/NoSuchElementException;
  *  - model FITTERS on an empty corpus either return an empty model
  *    relation (merge tables) or throw a CLEAR IllegalArgumentException
  *    naming the problem — never a null-deref;
  *  - null text / null vec rows behave like kite's missing fields:
  *    excluded or null-scored, never a crash;
  *  - single-row corpora (self-join degeneracies) produce zero pairs.
  */
class DegenerateInputSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("url", StringType),
    StructField("source", StringType)))

  private def docsOf(rows: Row*): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      docSchema)

  private def emptyDocs = docsOf()
  private def oneDoc = docsOf(
    Row(1L, "the quick brown fox jumps over the lazy dog", // 9 tokens
      "http://example.com/a?b=1", "web"))
  private def nullDocs = docsOf(
    Row(1L, null, null, null),
    Row(2L, "a valid document with several plain words inside it",
      "http://example.com/ok", "web"),
    Row(3L, null, "http://example.com/u", "books"))

  private def afterEach[T](body: => T): T =
    try body finally CacheScope.releaseAll()

  private val embSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("vec", ArrayType(FloatType))))

  private def embOf(rows: Row*): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      embSchema)

  private def emptyEmb = embOf()
  private def oneEmb = embOf(Row(1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
  private def degenerateEmb = embOf(
    Row(1L, null),                           // null vector
    Row(2L, Seq(0.6f, 0.8f, 0.0f, 0.0f)),
    Row(3L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))    // zero-norm vector

  // ---------------------------------------------------------------- dedup

  test("Dedup digest family is total on empty/one/null-text corpora") {
    afterEach {
      import graft.dedup.Dedup
      assert(Dedup.exact(emptyDocs, "text", "doc_id").count() == 0)
      assert(Dedup.exact(oneDoc, "text", "doc_id").count() == 1)
      // null text: md5(null) = null digest — both null rows fall in one
      // digest group; contract is no-crash and the valid row survives
      assert(Dedup.exact(nullDocs, "text", "doc_id").count() >= 1)
      assert(Dedup.byFingerprint(emptyDocs, "text", "doc_id").count() == 0)
      assert(Dedup.byFingerprint(nullDocs, "text", "doc_id").count() >= 1)
      assert(Dedup.incrementalExact(emptyDocs, emptyDocs, "text", "doc_id")
        .count() == 0)
      assert(Dedup.incrementalExact(emptyDocs, oneDoc, "text", "doc_id")
        .count() == 1)
      assert(Dedup.incrementalExact(oneDoc, emptyDocs, "text", "doc_id")
        .count() == 0)
      assert(Dedup.lineDedup(
        emptyDocs.select(col("doc_id"), split(col("text"), "\\.").as("lines")),
        "lines", "doc_id").count() == 0)
      assert(Dedup.lineDedup(
        nullDocs.select(col("doc_id"), split(col("text"), " ").as("lines")),
        "lines", "doc_id").count() == 3)
    }
  }

  test("Dedup pair finders yield zero pairs on empty and singleton corpora") {
    afterEach {
      import graft.dedup.Dedup
      for (d <- Seq(emptyDocs, oneDoc, nullDocs)) {
        assert(Dedup.minhashLshPairs(d, "text", "doc_id").count() == 0)
        assert(PairPaths.jaccard(d, "text", "doc_id").count() == 0)
        assert(Dedup.containmentPairsExact(d, "text", "doc_id").count() == 0)
        assert(Dedup.simhashPairs(d, "text", "doc_id").count() == 0)
        assert(Dedup.winnowPairs(d, "text", "doc_id").count() == 0)
      }
    }
  }

  test("exact pair finders reject a threshold of zero or below") {
    // a prefix filter finds only pairs that share a shingle, so it cannot
    // return the zero-overlap pairs a threshold <= 0 would promise
    afterEach {
      import graft.dedup.Dedup
      val twoDocs = docsOf(
        Row(1L, "alpha beta gamma delta", null, "web"),
        Row(2L, "epsilon zeta eta theta", null, "web"))
      for (t <- Seq(0.0, -0.5)) {
        val calls = Seq[() => DataFrame](
          () => Dedup.jaccardPairsExact(twoDocs, "text", "doc_id", threshold = t),
          () => Dedup.jaccardPairsDistributed(twoDocs, "text", "doc_id",
            threshold = t),
          () => Dedup.containmentPairsExact(twoDocs, "text", "doc_id",
            threshold = t))
        for (call <- calls) {
          val e = intercept[IllegalArgumentException](call())
          assert(e.getMessage.contains("threshold must be > 0"), e.getMessage)
        }
      }
    }
  }

  test("Dedup per-doc fraction reports are total on degenerate corpora") {
    afterEach {
      import graft.dedup.Dedup
      assert(Dedup.dupSentenceFraction(emptyDocs, "text", "doc_id")
        .count() == 0)
      assert(Dedup.dupSentenceFraction(nullDocs, "text", "doc_id")
        .count() == 3)
      assert(Dedup.crossDocSpanDupFraction(emptyDocs, "text", "doc_id")
        .count() == 0)
      assert(Dedup.crossDocSpanDupFraction(nullDocs, "text", "doc_id")
        .count() == 3)
      assert(Dedup.removeDuplicateSpans(emptyDocs, "text", "doc_id")
        .count() == 0)
      assert(Dedup.removeDuplicateSpans(nullDocs, "text", "doc_id")
        .count() == 3)
      assert(Dedup.removeRepeatedSpans(emptyDocs, "text", "doc_id")
        .count() == 0)
      assert(Dedup.removeRepeatedSpans(nullDocs, "text", "doc_id")
        .count() == 3)
    }
  }

  test("dedupClusters/keep-best handle an empty pair relation") {
    afterEach {
      import graft.dedup.Dedup
      val emptyPairs = spark.createDataFrame(
        new java.util.ArrayList[Row](),
        StructType(Seq(StructField("id_a", LongType),
          StructField("id_b", LongType))))
      val driver = Dedup.dedupClusters(emptyPairs)
      val star = Dedup.starClusters(emptyPairs)
      assert(driver.count() == 0 && star.count() == 0)
      assert(driver.schema == star.schema, s"${driver.schema} vs ${star.schema}")
    }
  }

  test("decontamination family is total when either side is empty") {
    afterEach {
      import graft.dedup.Dedup
      // empty corpus × nonempty bench and vice versa; null-text corpus
      assert(Dedup.decontaminate(emptyDocs, "text", "doc_id",
        oneDoc, "text").count() == 0)
      assert(Dedup.decontaminate(nullDocs, "text", "doc_id",
        emptyDocs, "text").count() == 3)
      assert(Dedup.bloomDecontaminate(emptyDocs, "text", "doc_id",
        oneDoc, "text").count() == 0)
      assert(Dedup.bloomDecontaminate(nullDocs, "text", "doc_id",
        emptyDocs, "text").count() == 3)
      // report: one row per bench item (zero hits), or zero rows for an
      // empty bench — and never a crash on an empty corpus
      assert(Dedup.evalOverlapReport(emptyDocs, "text",
        oneDoc, "text", "doc_id").count() == 1)
      assert(Dedup.evalOverlapReport(oneDoc, "text",
        emptyDocs, "text", "doc_id").count() == 0)
      val funnel = Dedup.dedupFunnel(emptyDocs, "text", "doc_id",
        emptyDocs, "text").collect()
      assert(funnel.length == 3, "funnel always reports its three stages")
    }
  }

  test("url/domain filters are total on empty and null-url corpora") {
    afterEach {
      import graft.dedup.Dedup
      val withLen = nullDocs.withColumn("len", length(col("text")))
      assert(Dedup.urlDedup(emptyDocs.withColumn("len", length(col("text"))),
        "url", "len", "doc_id").count() == 0)
      assert(Dedup.urlDedup(withLen, "url", "len", "doc_id").count() >= 2)
      assert(Dedup.domainQualityFilter(emptyDocs, "source", "doc_id",
        "doc_id", 0.0).count() == 0)
      assert(Dedup.domainQualityFilter(
        nullDocs.withColumn("q", lit(1.0)), "source", "q", "doc_id",
        0.5, minDocs = 1L).count() >= 1)
    }
  }

  // -------------------------------------------------------------- packing

  test("Packing is total on empty/one/null-text corpora") {
    afterEach {
      import graft.pack.Packing
      assert(Packing.packSequences(emptyDocs, "text", "doc_id", 64L)
        .count() == 0)
      assert(Packing.packSequences(oneDoc, "text", "doc_id", 64L)
        .count() == 1)
      // null text packs as a zero-length doc (bin assigned, no cost) —
      // it must not null-poison bin/bin_off
      val packed = Packing.packSequences(nullDocs, "text", "doc_id", 64L)
        .collect()
      assert(packed.length == 3 && packed.forall(!_.isNullAt(2)))
      assert(Packing.lengthBuckets(emptyDocs, "text", "doc_id").count() == 0)
      assert(Packing.lengthBuckets(nullDocs, "text", "doc_id").count() == 3)
      assert(Packing.selectWithinBudget(
        emptyDocs.withColumn("s", lit(1.0)), "text", "doc_id", "s", 100L)
        .count() == 0)
      // null text = zero tokens = fits any budget; never silently dropped
      assert(Packing.selectWithinBudget(
        nullDocs.withColumn("s", lit(1.0)), "text", "doc_id", "s", 1000L)
        .count() == 3)
      assert(Packing.temperatureMixWeights(emptyDocs, "source", 2.0)
        .count() == 0)
      assert(Packing.mixSources(emptyDocs, "doc_id", "source",
        Map("web" -> 500)).count() == 0)
      assert(Packing.mixSources(nullDocs, "doc_id", "source",
        Map("web" -> 1000, "books" -> 1000)).count() >= 0)
      assert(Packing.spanCorrupt(emptyDocs, "text", "doc_id").count() == 0)
      assert(Packing.spanCorrupt(nullDocs, "text", "doc_id").count() == 3)
      assert(Packing.fimTransform(emptyDocs, "text", "doc_id").count() == 0)
      assert(Packing.fimTransform(nullDocs, "text", "doc_id").count() == 3)
      assert(Packing.chunkDocs(emptyDocs, "text", "doc_id").count() == 0)
      // null text tokenizes to null/empty: the doc must not silently
      // crash the chunker
      assert(Packing.chunkDocs(nullDocs, "text", "doc_id").count() >= 1)
    }
  }

  test("packSequences leaves null ids out of the tape") {
    afterEach {
      // a null id has no place on an id-ordered tape and cannot join back
      // by id: the row is dropped, and its two tokens must not shift the
      // surviving docs, whose bins and offsets run from 0
      val docs = docsOf(Row(1L, "a b c", null, null),
        Row(null, "d e", null, null), Row(2L, "f", null, null))
      val packed = graft.pack.Packing.packSequences(docs, "text", "doc_id", 4L)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(packed.toSeq == Seq((1L, 3L, 0L, 0L), (2L, 1L, 0L, 3L)))
    }
  }

  // --------------------------------------------------------- corpus stats

  test("CorpusStats model fitters and scorers are total on empty corpora") {
    afterEach {
      import graft.text.CorpusStats
      val lm = CorpusStats.fitUnigramLm(emptyDocs, "text")
      assert(lm.n == 0L && lm.v == 0L)
      assert(CorpusStats.scoreUnigramNll(lm, emptyDocs, "text", "doc_id")
        .count() == 0)
      // empty-model scoring completes (all-unseen floor), stays total
      assert(CorpusStats.scoreUnigramNll(lm, nullDocs, "text", "doc_id")
        .count() == 3)
      assert(CorpusStats.unigramNll(emptyDocs, "text", "doc_id").count() == 0)
      assert(CorpusStats.unigramNll(nullDocs, "text", "doc_id").count() == 3)
      val nb = CorpusStats.fitNaiveBayes(emptyDocs, "text",
        col("source") === "web")
      assert(CorpusStats.scoreNaiveBayes(nb, nullDocs, "text", "doc_id")
        .count() == 3)
      val dsir = CorpusStats.fitDsir(emptyDocs, emptyDocs, "text")
      assert(CorpusStats.scoreDsir(dsir, nullDocs, "text", "doc_id")
        .count() == 3)
      val dsirL = CorpusStats.fitDsirLabeled(emptyDocs, "text",
        col("source") === "web")
      assert(CorpusStats.scoreDsir(dsirL, emptyDocs, "text", "doc_id")
        .count() == 0)
    }
  }

  test("CorpusStats per-doc scorers stay total; corpus reports empty-safe") {
    afterEach {
      import graft.text.CorpusStats
      // per-doc NLL relations: one row per input doc, null score for
      // unscorable docs (the scoreNaiveBayes/scoreDsir contract)
      assert(CorpusStats.bigramNll(emptyDocs, "text", "doc_id").count() == 0)
      assert(CorpusStats.bigramNll(nullDocs, "text", "doc_id").count() == 3)
      assert(CorpusStats.knBigramNll(emptyDocs, "text", "doc_id").count() == 0)
      assert(CorpusStats.knBigramNll(nullDocs, "text", "doc_id").count() == 3)
      assert(CorpusStats.perplexityBuckets(emptyDocs, "text", "doc_id",
        "source").count() == 0)
      val ppl = CorpusStats.perplexityBuckets(nullDocs, "text", "doc_id",
        "source").collect()
      assert(ppl.length == 3, "zero-token docs lost from the bucket report")
      assert(ppl.count(_.isNullAt(3)) == 2, "null-text docs get NULL bucket")
      // corpus-level reports
      assert(CorpusStats.topNgrams(emptyDocs, "text", 2, 5).count() == 0)
      assert(CorpusStats.topNgrams(nullDocs, "text", 2, 5).count() >= 1)
      assert(CorpusStats.bm25TopK(emptyDocs, "text", "doc_id",
        Seq("quick", "fox"), 3).count() == 0)
      assert(CorpusStats.bm25TopK(nullDocs, "text", "doc_id",
        Seq("valid", "words"), 3).count() >= 1)
      assert(CorpusStats.tfIdfTopK(emptyDocs, "text", "doc_id", 3)
        .count() == 0)
      assert(CorpusStats.pmiCollocations(emptyDocs, "text", "doc_id")
        .count() == 0)
      assert(CorpusStats.sourceDivergence(emptyDocs, "text", "source")
        .count() == 0)
      assert(CorpusStats.sourceDivergence(nullDocs, "text", "source")
        .count() >= 1)
      assert(CorpusStats.gumbelTopK(
        emptyDocs.withColumn("wt", lit(1.0)), "wt", "doc_id", 3).count() == 0)
    }
  }

  test("tokenizer trainers/encoders are total on empty corpora") {
    afterEach {
      import graft.text.CorpusStats
      assert(CorpusStats.bpePairCounts(emptyDocs, "text", 10).count() == 0)
      // no merges learnable from nothing — empty merge table, not a crash
      assert(CorpusStats.bpeTrain(emptyDocs, "text", 4).count() == 0)
      assert(CorpusStats.bpeEncode(emptyDocs, "text", "doc_id",
        Seq(("t", "h"))).count() == 0)
      assert(CorpusStats.bpeEncode(oneDoc, "text", "doc_id", Nil)
        .count() == 1)
      assert(CorpusStats.wordpieceTrain(emptyDocs, "text", 4).count() == 0)
      assert(CorpusStats.wordpieceEncode(emptyDocs, "text", "doc_id",
        Seq("a", "b")).count() == 0)
    }
  }

  // ----------------------------------------------------------- similarity

  test("Similarity search is total on empty/degenerate corpora and queries") {
    afterEach {
      import graft.sim.Similarity
      val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
      assert(Similarity.bruteForceKnn(emptyEmb, "id", "vec",
        oneEmb, "id", "vec", 3).count() == 0)
      assert(Similarity.bruteForceKnn(oneEmb, "id", "vec",
        emptyEmb, "id", "vec", 3).count() == 0)
      assert(Similarity.bruteForceMips(emptyEmb, "id", "vec",
        oneEmb, "id", "vec", 3).count() == 0)
      assert(Similarity.lshKnn(emptyEmb, "id", "vec",
        oneEmb, "id", "vec", 3, dim = 4).count() == 0)
      assert(Similarity.ivfAssign(emptyEmb, "vec", cents).count() == 0)
      assert(Similarity.ivfKnn(emptyEmb, "id", "vec", oneEmb, "id", "vec",
        cents, nProbe = 1, k = 3).count() == 0)
      assert(Similarity.pqEncode(emptyEmb, "id", "vec", cents, m = 2)
        .count() == 0)
      assert(Similarity.centroidStats(emptyEmb, "vec", "id").count() == 0)
      assert(Similarity.knnGraph(emptyEmb, "id", "vec", 2).count() == 0)
      // singleton: no neighbours, no pairs — and no crash
      assert(Similarity.knnGraph(oneEmb, "id", "vec", 2).count() == 0)
      assert(Similarity.pageRankKnn(emptyEmb, "id", "vec").count() == 0)
      assert(Similarity.cosinePairsBlocked(
        emptyEmb.withColumn("blk", col("id") % 2), "id", "vec", "blk", 0.8)
        .count() == 0)
      assert(Similarity.semanticDedup(emptyEmb, "id", "vec", cents, 0.9)
        .count() == 0)
      assert(Similarity.mmrDiversify(emptyEmb, "id", "vec",
        oneEmb, "id", "vec", k = 2, shortlist = 4).count() == 0)
      assert(Similarity.bitextMarginMine(emptyEmb, oneEmb, "id", "vec")
        .count() == 0)
      assert(Similarity.bitextMarginMine(oneEmb, emptyEmb, "id", "vec")
        .count() == 0)
      assert(Similarity.randomProject(emptyEmb, "id", "vec", 2, 4)
        .count() == 0)
      // null vec + zero-norm vec rows: under ANSI mode a zero-norm
      // divisor is a JOB ABORT unless the cosine is null-safe — one
      // failed-encoder row must never kill a corpus job. Degenerate rows
      // are EXCLUDED (the knnGraph contract), never ranked.
      val brute = Similarity.bruteForceKnn(degenerateEmb, "id", "vec",
        oneEmb, "id", "vec", 3).collect()
      assert(brute.length == 1 && brute.head.getLong(1) == 2L,
        "only the one valid corpus vector may rank")
      val dq = Similarity.bruteForceKnn(oneEmb, "id", "vec",
        degenerateEmb, "id", "vec", 3).collect()
      assert(dq.forall(_.getLong(0) == 2L),
        "degenerate queries yield no neighbours")
      assert(Similarity.knnGraph(degenerateEmb, "id", "vec", 2)
        .count() == 0)
      assert(Similarity.lshKnn(degenerateEmb, "id", "vec",
        degenerateEmb, "id", "vec", 2, dim = 4).count() <= 1)
      assert(Similarity.ivfKnn(degenerateEmb, "id", "vec",
        degenerateEmb, "id", "vec", cents, nProbe = 2, k = 2).count() <= 1)
      assert(Similarity.cosinePairsBlocked(
        degenerateEmb.withColumn("blk", lit(0)), "id", "vec", "blk", 0.5)
        .count() == 0)
      assert(Similarity.bitextMarginMine(degenerateEmb, degenerateEmb,
        "id", "vec").count() <= 1)
      assert(Similarity.hardTriplets(
        degenerateEmb.withColumn("lbl", col("id") % 2), "id", "vec", "lbl",
        oneEmb.withColumn("lbl", lit(0L))).count() <= 1)
      assert(Similarity.mmrDiversify(degenerateEmb, "id", "vec",
        oneEmb, "id", "vec", k = 2, shortlist = 4).count() <= 2)
      assert(Similarity.pageRankKnn(degenerateEmb, "id", "vec").count() == 0)
    }
  }

  test("kmeansFit on an empty corpus throws a clear contract error") {
    afterEach {
      import graft.sim.Similarity
      // "sample 0 smaller than k=2" — names the problem and the knob
      val e = intercept[IllegalArgumentException](
        Similarity.kmeansFit(emptyEmb, "vec", k = 2))
      assert(e.getMessage.contains("smaller than k"),
        s"unclear empty-fit error: ${e.getMessage}")
    }
  }

  test("cosine is NULL for non-finite vectors (NaN/Inf never rank)") {
    afterEach {
      import graft.sim.Similarity
      val df = embOf(
        Row(1L, Seq(Float.PositiveInfinity, 0.0f, 0.0f, 0.0f)),
        Row(2L, Seq(Float.NaN, Float.NaN, Float.NaN, Float.NaN)),
        Row(3L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
        .withColumn("q", typedLit(Seq(1.0, 2.0, 3.0, 4.0)))
      val out = df.select(col("id"),
        Similarity.cosine(transform(col("vec"), _.cast("double")),
          col("q")).as("cos")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.get(1))).toMap
      // descending sort treats NaN as LARGEST: a NaN score would take
      // rank 1 in every knn/margin ranking — must be NULL instead
      assert(out(1L) == null && out(2L) == null && out(3L) != null)
    }
  }

  test("pqKnn excludes a null-embedding corpus vector from ranking") {
    afterEach {
      import graft.sim.Similarity
      // 4-dim, m=2 -> 2 subspaces of 2; codebook of 2 centroids
      val cb = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 1.0))
      val corpus = embOf(
        Row(1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
        Row(2L, null), // ascending ADC sort is NULLS FIRST: pre-fix rank 1
        Row(3L, Seq(0.0f, 1.0f, 0.0f, 1.0f)))
      val q = embOf(Row(1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      val out = Similarity.pqKnn(corpus, "id", "vec", q, "id", "vec",
        cb, m = 2, k = 3).collect()
      assert(out.forall(!_.isNullAt(2)), "null-adc row must not rank")
      assert(out.map(_.getLong(1)).toSet == Set(1L, 3L))
      assert(out.find(_.getInt(3) == 1).get.getLong(1) == 1L)
    }
  }

  test("empty token sets digest to NULL, not md5('')") {
    afterEach {
      import graft.text.TextAnalysis
      import graft.dedup.Dedup
      import graft.pack.Packing
      // fingerprint: null/empty/whitespace -> NULL; contentful -> defined
      val fp = nullDocs
        .withColumn("t2", when(col("doc_id") === 2, lit("   ")).otherwise(col("text")))
        .select(col("doc_id"), TextAnalysis.fingerprint(col("t2")).as("fp"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(fp(1L) == null && fp(2L) == null && fp(3L) == null)
      // chunkDocs: the empty doc's single chunk digests NULL
      val ch = Packing.chunkDocs(
        docsOf(Row(1L, "", null, "web")), "text", "doc_id").collect()
      assert(ch.length == 1 && ch(0).isNullAt(4))
      // lineDedup: null lines -> NULL rebuilt digest; real empty line kept
      val staged = docsOf(Row(1L, null, null, "web"))
        .select(col("doc_id"), lit(null).cast("array<string>").as("lines"))
      val ld = Dedup.lineDedup(staged, "lines", "doc_id").collect()
      assert(ld.length == 1 && ld(0).isNullAt(3))
    }
  }

  test("spanCorrupt input digest preserves leading empty tokens (true join)") {
    afterEach {
      import graft.pack.Packing
      // '  a b' splits to ['','','a','b'] on ' ' — the rebuilt input must
      // keep the two separator positions, like ' '-joining the tokens
      val df = docsOf(Row(977L, "  a b", null, "web")) // seed: no masks at 977
      val out = Packing.spanCorrupt(df, "text", "doc_id").collect()(0)
      if (out.getLong(2) == 0) { // n_masked == 0 -> input == original text
        val expect = java.security.MessageDigest.getInstance("MD5")
          .digest("  a b".getBytes("UTF-8")).map("%02x".format(_)).mkString
        assert(out.getString(4) == expect, "ltrim ate leading empty-token separators")
      }
    }
  }

  // ----------------------------------------------------------- multimodal

  test("Multimodal feature extraction is total on empty media frames") {
    afterEach {
      import graft.multimodal.Multimodal
      val emptyImgs = emptyDocs
        .withColumn("w", lit(4)).withColumn("h", lit(4))
      val media = Multimodal.synthesizePng(emptyImgs, "w", "h", "doc_id")
      assert(media.count() == 0)
      assert(Multimodal.mediaStats(media).count() == 0)
      assert(Multimodal.imageAvgHashBits(media).count() == 0)
      assert(Multimodal.frameSample(media, "media.body", 64, 2).count() == 0)
      val pcm = Multimodal.synthesizePcm(
        emptyDocs.withColumn("tone", lit(440)), "tone", "doc_id")
      assert(pcm.count() == 0)
      assert(Multimodal.pcmFeatures(pcm).count() == 0)
    }
  }
}
