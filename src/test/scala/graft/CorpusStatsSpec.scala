package graft

import graft.dedup.Dedup
import graft.pack.Packing
import graft.sim.Similarity
import graft.text.CorpusStats
import org.apache.spark.sql.functions._

class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------- span corruption ----------------

  test("spanCorrupt matches an independent single-node reference implementation") {
    // reference: same stable draw (first 8 md5 hex digits of "29|id:p"),
    // span starts < 50‰, length-3 flags, merged runs → sentinels —
    // written straight from the T5 §3.1.4 description, not from the
    // Spark column code
    def draw(id: Long, p: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"29|$id:$p".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def md5s(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def reference(id: Long, text: String)
        : (Long, Long, Long, String, String) = {
      val toks = text.split(" ", -1)
      val starts = toks.indices.map(p => draw(id, p) % 1000 < 50)
      val flags = toks.indices.map(p =>
        (0 until 3).exists(o => p - o >= 0 && starts(p - o)))
      val inp = new StringBuilder; val tgt = new StringBuilder
      var k = 0; var prev = false; var nm = 0
      toks.indices.foreach { p =>
        if (!flags(p)) inp.append(" ").append(toks(p))
        else {
          nm += 1
          if (!prev) {
            inp.append(s" <extra_id_$k>")
            tgt.append(s" <extra_id_$k> ").append(toks(p))
            k += 1
          } else tgt.append(" ").append(toks(p))
        }
        prev = flags(p)
      }
      tgt.append(s" <extra_id_$k>")
      (toks.length.toLong, nm.toLong, k.toLong,
        md5s(inp.toString.stripPrefix(" ")), md5s(tgt.toString.stripPrefix(" ")))
    }
    // seeded random lengths, including degenerate 1- and 2-token docs
    // (all-masked and no-masked folds must both terminate correctly)
    val rnd = new scala.util.Random(
      sys.props.getOrElse("graft.prop.seed", "42").toLong)
    val docsIn = (0L until 12L).map { i =>
      val len = Seq(1, 2, 3, 40, 120)(rnd.nextInt(5))
      (i, (0 until len).map(t => s"w${i}_$t").mkString(" "))
    }
    val out = Packing.spanCorrupt(docsIn.toDF("doc_id", "text"),
        "text", "doc_id")
      .orderBy("id")
      .select("id", "n_toks", "n_masked", "n_spans", "input_md5", "target_md5")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    docsIn.foreach { case (id, text) =>
      val (nt, nm, ns, imd, tmd) = reference(id, text)
      assert(out(id) == ((nt, nm, ns, imd, tmd)), s"doc $id diverged")
    }
    // sanity: corruption actually happened somewhere and not everywhere
    val totalMasked = out.values.map(_._2).sum
    val totalToks = out.values.map(_._1).sum
    assert(totalMasked > 0 && totalMasked < totalToks / 2,
      s"mask rate implausible: $totalMasked/$totalToks")
  }

  test("fimTransform matches an independent reference; splits partition the doc") {
    def draw(tag: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"31|$tag".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def md5s(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // includes 1-token docs: cuts land in [0, 1], so empty prefix /
    // middle / suffix segments all occur
    val rnd = new scala.util.Random(
      sys.props.getOrElse("graft.prop.seed", "42").toLong)
    val docsIn = (0L until 12L).map { i =>
      val len = Seq(1, 2, 5, 20)(rnd.nextInt(4))
      (i, (0 until len).map(t => s"t${i}_$t").mkString(" "))
    }
    val out = Packing.fimTransform(docsIn.toDF("doc_id", "text"),
        "text", "doc_id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2), r.getInt(3),
        r.getString(4)))).toMap
    var sawPsm = false; var sawAr = false
    docsIn.foreach { case (id, text) =>
      val toks = text.split(" ")
      val n = toks.length
      val ap = draw(s"f:$id") % 1000 < 500
      val d1 = draw(s"c1:$id") % (n + 1); val d2 = draw(s"c2:$id") % (n + 1)
      val (c1, c2) = (math.min(d1, d2).toInt, math.max(d1, d2).toInt)
      val expected = if (ap) {
        sawPsm = true
        ("psm", c1, c2, md5s(
          "<fim_prefix>" + toks.take(c1).mkString(" ") +
          "<fim_suffix>" + toks.drop(c2).mkString(" ") +
          "<fim_middle>" + toks.slice(c1, c2).mkString(" ")))
      } else { sawAr = true; ("ar", 0, 0, md5s(text)) }
      assert(out(id) == expected, s"doc $id diverged")
    }
    assert(sawPsm && sawAr, "fixture did not exercise both modes")
  }

  // ---------------- sequence packing ----------------

  test("packSequences chops the concatenated token tape at capacity") {
    // 4 docs of 3 tokens each, capacity 5: tape offsets 0,3,6,9 → bins
    // 0,0,1,1 (a doc is assigned the bin its FIRST token lands in).
    val df = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"), (4L, "j k l"))
      .toDF("doc_id", "text")
    val out = Packing.packSequences(df, "text", "doc_id", capacity = 5)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 0L, 0L), (2L, 3L, 0L, 3L),
      (3L, 3L, 1L, 1L), (4L, 3L, 1L, 4L)))
  }

  test("packSequences is invariant to input partitioning and range size") {
    val df = Tables.load(spark, sf0, "documents")
    val a = Packing.packSequences(df, "text", "doc_id", capacity = 2048)
      .orderBy("id").collect().toSeq
    val b = Packing.packSequences(df.repartition(7), "text", "doc_id",
        capacity = 2048, rangeSize = 17)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("packSequences distributed prefix matches the driver-collect path exactly") {
    val df = Tables.load(spark, sf0, "documents")
    val driver = Packing.packSequences(df, "text", "doc_id", capacity = 2048)
      .orderBy("id").collect().toSeq
    val dist = Packing.packSequences(df.repartition(5), "text", "doc_id",
        capacity = 2048, rangeSize = 17, distributedPrefix = true)
      .orderBy("id").collect().toSeq
    assert(driver == dist)
    // and no collect happens on the distributed path's plan: the prefix
    // subtree must be a Window, not a LogicalRDD from parallelize
    val plan = Packing.packSequences(df, "text", "doc_id", capacity = 2048,
      distributedPrefix = true).queryExecution.optimizedPlan.toString
    assert(!plan.contains("LogicalRDD"), plan)
  }

  test("packSequences bins are contiguous and capacity-consistent") {
    // every bin's token span must start strictly inside the bin (first
    // token offset < (bin+1)*capacity) — i.e. assignment matches the tape.
    val df = Tables.load(spark, sf0, "documents")
    val rows = Packing.packSequences(df, "text", "doc_id", capacity = 1024)
      .orderBy("id").as[(Long, Long, Long, Long)].collect()
    var off = 0L
    rows.foreach { case (_, nToks, bin, binOff) =>
      assert(off / 1024 == bin)
      assert(off % 1024 == binOff)
      off += nToks
    }
  }

  // ---------------- source mixing ----------------

  test("mixSources keeps rate-1000 sources, drops rate-0, is deterministic") {
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "keep" else "drop"))
      .toDF("doc_id", "source")
    val out = Packing.mixSources(df, "doc_id", "source",
      Map("keep" -> 1000, "drop" -> 0))
    assert(out.count() == 200)
    assert(out.filter(col("source") === "drop").count() == 0)
    // half-rate keeps roughly half, and identically across calls
    val half = Packing.mixSources(df, "doc_id", "source",
      Map("keep" -> 500, "drop" -> 500))
    val ids1 = half.select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = Packing.mixSources(df.repartition(5), "doc_id", "source",
        Map("keep" -> 500, "drop" -> 500))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    assert(math.abs(ids1.size - 200) < 60) // md5 draw ≈ uniform
  }

  test("lengthBuckets: monotone in length, same-length together, roughly equal population") {
    val df = Tables.load(spark, sf0, "documents")
    val out = Packing.lengthBuckets(df, "text", "doc_id", buckets = 8)
      .select("n_toks", "bucket").as[(Long, Int)].collect().toSeq
    // same length -> same bucket, and bucket is monotone in length
    val byLen = out.distinct.sortBy(_._1)
    assert(byLen.map(_._1).distinct.size == byLen.size,
      "a length value must map to exactly one bucket")
    assert(byLen.map(_._2) == byLen.map(_._2).sorted)
    // populations within 3x of each other (histogram-midpoint assignment
    // can't split a length value across buckets, so exact eighths are
    // impossible; gross skew would mean the cumulative math is wrong)
    val pops = out.groupBy(_._2).map(_._2.size)
    assert(pops.size == 8 && pops.max <= 3 * pops.min, pops.toString)
  }

  test("evalOverlapReport: contained eval scores 1.0, disjoint eval scores 0.0") {
    val corpus = Tables.load(spark, sf0, "documents").select("doc_id", "text")
    val contained = graft.dedup.Dedup.evalOverlapReport(
      corpus.filter(col("doc_id") >= 5), "text",
      corpus.filter(col("doc_id") >= 5 && col("doc_id") < 8), "text", "doc_id")
    assert(contained.select("overlap_frac").as[Double].collect()
      .forall(_ == 1.0), "an eval doc drawn from the corpus is 100% burned")
    val disjoint = graft.dedup.Dedup.evalOverlapReport(
      corpus, "text",
      Seq((1L, "zq xv qx vz zx qv xq vq zv qz wq")).toDF("doc_id", "text"),
      "text", "doc_id")
    assert(disjoint.select("overlap_frac").as[Double].collect().toSeq == Seq(0.0))
  }

  test("selectWithinBudget keeps a deterministic quality-ranking prefix that fits") {
    val df = Tables.load(spark, sf0, "documents")
    val scored = df.select(col("doc_id"), col("text"),
      round(graft.text.TextAnalysis.qualityScore(col("text")), 4).as("q"))
    val kept = Packing.selectWithinBudget(scored, "text", "doc_id", "q", 15000L)
      .select("id", "n_toks", "score", "cum_end")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(kept.nonEmpty && kept.map(_._2).sum <= 15000L)
    assert(kept.map(_._4).max <= 15000L)
    // prefix property: every kept doc ranks (score desc, id asc) before
    // every dropped doc OR the dropped doc wouldn't fit at its position
    val keptIds = kept.map(_._1).toSet
    val all = scored.select(col("doc_id"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
        col("q")).as[(Long, Long, Double)].collect()
      .sortBy { case (id, _, q) => (-q, id) }
    var cum = 0L
    all.foreach { case (id, nt, _) =>
      cum += nt
      assert(keptIds.contains(id) == (cum <= 15000L),
        s"doc $id: cum=$cum kept=${keptIds.contains(id)}")
    }
    // invariant to input layout
    val kept2 = Packing.selectWithinBudget(scored.repartition(7), "text",
      "doc_id", "q", 15000L).select("id").as[Long].collect().toSet
    assert(kept2 == keptIds)
  }

  test("sampling and split draws are seed-independent: a mixed corpus still splits") {
    // mixSources at 500 permille keeps only rows with draw(42) % 1000 <
    // 500; a split thresholded on the SAME seed's draw would then put
    // every surviving row in the lowest band (empty val/test). The
    // eval-split draw uses seed 13, so the composition stays proportional.
    val df = (1L to 2000L).map(i => (i, "s")).toDF("doc_id", "source")
    val mixed = Packing.mixSources(df, "doc_id", "source", Map("s" -> 500))
    val splitDraw = Packing.stableDraw(col("doc_id"), 13L) % 1000
    val bands = mixed.select(
        when(splitDraw < 900, "train").otherwise("heldout").as("split"))
      .groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val n = bands.values.sum
    assert(bands.getOrElse("heldout", 0L) > 0L,
      "held-out band empty: split draw is correlated with the sampling draw")
    assert(math.abs(bands("heldout").toDouble / n - 0.1) < 0.05)
    // degeneracy cross-check: the SHARED-seed composition really is empty
    val sharedDraw = Packing.stableDraw(col("doc_id"), 42L) % 1000
    assert(mixed.filter(sharedDraw >= 500).count() == 0L)
  }

  // ---------------- unigram LM scoring ----------------

  test("unigramNll: rare-vocabulary docs score higher than frequent ones") {
    val common = (1 to 50).map(_ => "the cat sat").mkString(" ")
    val df = Seq((1L, common), (2L, common), (3L, common),
      (4L, "zyx wvu tsr qpo nml")).toDF("doc_id", "text")
    val out = CorpusStats.unigramNll(df, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double)].collect()
    val byId = out.map(r => r._1 -> r._3).toMap
    assert(byId(4L) > byId(1L))
    assert(out.find(_._1 == 1L).get._2 == 150L)
  }

  test("unigramNll matches a hand-computed two-doc corpus") {
    // corpus: "a a b" + "b" → N=4, V=2; p(a)=(2+.5)/(4+1)=.5, p(b)=(2+.5)/5=.5
    val df = Seq((1L, "a a b"), (2L, "b")).toDF("doc_id", "text")
    val out = CorpusStats.unigramNll(df, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double)].collect()
    val expected = BigDecimal(-math.log(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq((1L, 3L, expected), (2L, 1L, expected)))
  }

  test("naive bayes: hand-computed llr, prior, unseen floor, empty doc") {
    // vocab: good(2,0) nice(1,0) bad(0,2) → V=3, nPos=3, nNeg=2; addK=0.5
    // denomPos=4.5, denomNeg=3.5; prior=ln(1.5/2.5); unseen=ln(3.5/4.5)
    val df = Seq((1L, "good good nice", true), (2L, "bad bad", false),
      (3L, "", false)).toDF("doc_id", "text", "y")
    val m = CorpusStats.fitNaiveBayes(df, "text", col("y"))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val llrGood = math.log(2.5 / 4.5) - math.log(0.5 / 3.5)
    val llrNice = math.log(1.5 / 4.5) - math.log(0.5 / 3.5)
    val llrBad = math.log(0.5 / 4.5) - math.log(2.5 / 3.5)
    val prior = math.log(1.5 / 2.5)
    val out = CorpusStats.scoreNaiveBayes(m, df, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, r6(prior + 2 * llrGood + llrNice), true),
      (2L, 2L, r6(prior + 2 * llrBad), false),
      (3L, 0L, r6(prior), false)))
    // a token absent at fit time scores the add-k floor ratio
    val unseen = CorpusStats.scoreNaiveBayes(m,
        Seq((9L, "zzz")).toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, Double, Boolean)].head()
    assert(unseen == ((9L, 1L, r6(prior + math.log(3.5 / 4.5)), false)))
  }

  test("nbScoreLabeled ≡ fitNaiveBayes ∘ scoreNaiveBayes (one-pass fusion, r21)") {
    // edge cases on purpose: empty doc (prior-only score via the outer
    // explode), null text, all-positive token, token seen in both classes
    val df = Seq((1L, "good good nice", true), (2L, "bad bad good", false),
      (3L, "", false), (4L, null.asInstanceOf[String], true))
      .toDF("doc_id", "text", "y")
    val m = CorpusStats.fitNaiveBayes(df, "text", col("y"))
    val twoPass = CorpusStats.scoreNaiveBayes(m, df, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double, Boolean)].collect().toSeq
    val fused = CorpusStats.nbScoreLabeled(df, "text", "doc_id", col("y"))
      .orderBy("id").as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(fused == twoPass)
    graft.CacheScope.releaseAll()
  }

  test("dsirScoreLabeled ≡ fitDsirLabeled ∘ scoreDsir (one-pass fusion, r21)") {
    val df = Seq((1L, "alpha beta alpha beta", true),
      (2L, "gamma delta gamma delta", false),
      (3L, "gamma delta epsilon", false),
      (4L, "", false), (5L, null.asInstanceOf[String], true))
      .toDF("doc_id", "text", "y")
    val m = CorpusStats.fitDsirLabeled(df, "text", col("y"))
    val twoPass = CorpusStats.scoreDsir(m, df, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Option[Double])].collect().toSeq
    val fused = CorpusStats.dsirScoreLabeled(df, "text", "doc_id", col("y"))
      .orderBy("id").as[(Long, Long, Option[Double])].collect().toSeq
    assert(fused == twoPass)
    // zero-feature docs must survive with NULL logw (totality contract)
    assert(twoPass.count(_._3.isEmpty) == 2)
    // layout-independence rides along (the scoreDsir partitioning contract)
    val fused5 = CorpusStats.dsirScoreLabeled(df.repartition(5), "text",
        "doc_id", col("y"))
      .orderBy("id").as[(Long, Long, Option[Double])].collect().toSeq
    assert(fused5 == twoPass)
    graft.CacheScope.releaseAll()
  }

  test("charSpread ≡ regexp_replace char spread on the asciiTokens charset (r21)") {
    // the r21 split-empty spread must match the original group-ref regex
    // byte-for-byte on every token asciiTokens can produce ([a-z0-9]+):
    // 1-char, digits, long same-char runs, mixed alnum
    val gen = org.scalacheck.Gen.nonEmptyListOf(
      org.scalacheck.Gen.oneOf(("abcxyz0159".toSeq))).map(_.mkString)
    val samples = org.scalacheck.Gen.listOfN(300, gen)
      .sample.get ++ Seq("a", "7", "aaaaaaa", "a0a0a0", "z" * 64)
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "tok")
    val diff = df.select(
        graft.text.CorpusStats.charSpread(col("tok")).as("a"),
        trim(regexp_replace(col("tok"), "(.)", "$1  ")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("bpe pair counts: multiplicity-weighted, single-char tokens skipped") {
    // "aba ab x aba" → pairs: ab,ba (×2 from aba×2) + ab (×1) → ab:3 ba:2;
    // "x" contributes none
    val df = Seq((1L, "aba ab x"), (2L, "aba")).toDF("doc_id", "text")
    val out = CorpusStats.bpePairCounts(df, "text", k = 10)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("ab", 3L), ("ba", 2L)), out)
  }

  test("bpeTrain learns hand-checkable merges, greedy within runs, ties lexicographic") {
    // corpus: "abab" ×3, "aab" ×2, "cd" ×1.
    // round 1 pair counts: (a,b): 3·2 + 2 = 8, (b,a): 3, (a,a): 2, (c,d): 1
    //   → merge (a,b) → "ab ab"×3, "a ab"×2, "c d"
    // round 2: (ab,ab): 3, (a,ab): 2, (c,d): 1 → merge (ab,ab)
    // round 3: (a,ab): 2, (c,d): 1 → merge (a,ab)
    // round 4: (c,d): 1 → merge (c,d); round 5: nothing left → stops early
    val df = Seq((1L, "abab abab abab aab aab cd")).toDF("doc_id", "text")
    val out = CorpusStats.bpeTrain(df, "text", steps = 5)
      .orderBy("step").as[(Long, String, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a", "b", "ab", 8L),
      (2L, "ab", "ab", "abab", 3L),
      (3L, "a", "ab", "aab", 2L),
      (4L, "c", "d", "cd", 1L)), out)
  }

  test("bpeTrain merge application is greedy left-to-right in same-symbol runs") {
    // "aaa": pairs (a,a)=2 → merge at positions 0-1 only → "aa a";
    // round 2 then merges (aa,a)=1 (tie with nothing) → check the chain
    val df = Seq((1L, "aaa")).toDF("doc_id", "text")
    val out = CorpusStats.bpeTrain(df, "text", steps = 2)
      .orderBy("step").as[(Long, String, String, String, Long)].collect().toSeq
    assert(out == Seq((1L, "a", "a", "aa", 2L), (2L, "aa", "a", "aaa", 1L)), out)
  }

  test("bpeTrain greedy on ODD same-symbol runs >= 5 (r11 seeded-sweep counterexample)") {
    // "bbbbb" under merge (b,b): textbook greedy (subword-nmt) yields
    // [bb, bb, b]; the old single-space replace-pass yielded [bb, b, bb]
    // because each match consumed the shared delimiter space and
    // orphaned the middle symbol. Round 2 distinguishes them: greedy
    // pairs are (bb,bb) and (bb,b) → top by (cnt, a, b) is (bb,b);
    // broken pairs were (bb,b) and (b,bb) → top would be (b,bb).
    val df = Seq((1L, "bbbbb")).toDF("doc_id", "text")
    val out = CorpusStats.bpeTrain(df, "text", steps = 2)
      .orderBy("step").as[(Long, String, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "b", "b", "bb", 4L),
      (2L, "bb", "b", "bbb", 1L)), out)
  }

  test("bpeEncode counts subwords under the learned merges") {
    // merges (a,b)->(ab), (ab,ab)->(abab): "abab"->1, "aab"->"a ab"->2,
    // "cd"->"c d"->2, "ababab"->"abab ab"->2
    val df = Seq((1L, "abab aab"), (2L, "cd ababab")).toDF("doc_id", "text")
    val out = CorpusStats.bpeEncode(df, "text", "doc_id",
        Seq(("a", "b"), ("ab", "ab")))
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 3L), (2L, 2L, 4L)), out)
  }

  test("knBigramNll: hand-checkable continuation backoff; model normalizes") {
    // corpus "a b a b" + "a c": big = {(<s>,a):2,(a,b):2,(b,a):1,(a,c):1},
    // bt=4; P_kn(w|v) = (c-0.75 + 0.75*N1+(v.)*(N1+(.w)/4)) / c(v)
    val df = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = CorpusStats.knBigramNll(df, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    def p(cb: Double, n1v: Double, n1w: Double, cc: Double) =
      (cb - 0.75 + 0.75 * n1v * (n1w / 4.0)) / cc
    val psa = p(2, 1, 2, 2); val pab = p(2, 2, 1, 3)
    val pba = p(1, 1, 2, 1); val pac = p(1, 2, 1, 3)
    // normalization over the FULL vocab: seen w carry discounted counts
    // plus their continuation share; unseen w (a, <s>) carry pure backoff
    // mass d*n1v*Pcont(w)/cc. Over the seen set {b, c} the sum is
    // (discounted mass + d*n1v*(Pcont(b)+Pcont(c)))/cc — with the unseen
    // share (Pcont(a)+Pcont(<s>) = 1/2) it totals exactly 1.
    val seenSum = ((3 - 2 * 0.75) + 0.75 * 2 * (2.0 / 4.0)) / 3.0
    val unseenSum = 0.75 * 2 * ((2.0 + 0.0) / 4.0) / 3.0 // Pcont(a)=2/4, <s> never follows
    assert(math.abs((pab + pac) - seenSum) < 1e-12)
    assert(math.abs(seenSum + unseenSum - 1.0) < 1e-12)
    val d1 = -(math.log(psa) + math.log(pab) + math.log(pba) + math.log(pab)) / 4
    val d2 = -(math.log(psa) + math.log(pac)) / 2
    assert(out.map(t => (t._1, t._2)) == Seq((1L, 4L), (2L, 2L)), out)
    assert(math.abs(out(0)._3 - d1) < 1e-6 && math.abs(out(1)._3 - d2) < 1e-6,
      s"$out vs ($d1, $d2)")
  }

  test("wordpieceTrain ranks by likelihood, not frequency (qu beats the)") {
    // tokens: "qu"×2, "the"×4. Round-1 pair counts: (t,h)=4, (h,e)=4,
    // (q,u)=2 — frequency (BPE) would merge (h,e) (tie → lexicographic);
    // likelihood scores ×10^9: (q,u)=2e9/(2·2)=5e8 beats (t,h)=(h,e)=
    // 4e9/(4·4)=2.5e8 → WordPiece merges (q,u) FIRST. Then (h,e) on the
    // lexicographic tie, then (t,he); round 4 finds no pair and stops.
    val df = Seq((1L, "qu qu the the the the")).toDF("doc_id", "text")
    val out = CorpusStats.wordpieceTrain(df, "text", steps = 5)
      .orderBy("step")
      .as[(Long, String, String, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "q", "u", "qu", 2L, 500000000L),
      (2L, "h", "e", "he", 4L, 250000000L),
      (3L, "t", "he", "the", 4L, 250000000L)), out)
  }

  test("WordpieceCount: greedy longest-match-first with single-char fallback") {
    val pieces = Seq("ab", "abc", "bc")
    val df = Seq(("abcbc"), ("abd"), ("xyz"), ("ab")).toDF("tok")
    val out = df.select(
        graft.exprs.TextExprs.wordpiece_count(col("tok"), pieces).as("n"))
      .as[Int].collect().toSeq
    // "abcbc" → [abc, bc]; "abd" → [ab, d]; "xyz" → [x, y, z]; "ab" → [ab]
    assert(out == Seq(2, 2, 3, 1), out)
  }

  test("wordpieceEncode counts pieces under the learned vocabulary") {
    val df = Seq((1L, "abcbc abd"), (2L, "xyz")).toDF("doc_id", "text")
    val out = CorpusStats.wordpieceEncode(df, "text", "doc_id",
        Seq("ab", "abc", "bc"))
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 4L), (2L, 1L, 3L)), out)
  }

  test("perplexityBuckets: thirds per group by value threshold, ties share a bucket") {
    // group g: six docs with strictly increasing rarity → 2 head, 2 middle,
    // 2 tail; the common-word doc scores lowest nll (head).
    val docs = Seq(
      (1L, "g", "the the the the"), (2L, "g", "the the the cat"),
      (3L, "g", "the the cat cat"), (4L, "g", "the cat cat rare1"),
      (5L, "g", "cat rare1 rare2 rare3"), (6L, "g", "rare4 rare5 rare6 rare7"))
      .toDF("doc_id", "source", "text")
    val out = CorpusStats.perplexityBuckets(docs, "text", "doc_id", "source")
      .orderBy("id").as[(Long, String, Double, String)].collect().toSeq
    assert(out.map(_._4) == Seq("head", "head", "middle", "middle", "tail", "tail"), out)
    // scores must be non-decreasing with rarity for this construction
    val nll = out.map(_._3)
    assert(nll == nll.sorted, nll)
  }

  test("round-10 ops are layout-independent: repartitioned input, identical output") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val shuffled = docs.repartition(7, col("source"))
    def bpe(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.bpeTrain(d, "text", steps = 3)
        .orderBy("step").collect().toSeq
    assert(bpe(docs) == bpe(shuffled))
    def ppl(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.perplexityBuckets(d, "text", "doc_id", "source")
        .orderBy("id").collect().toSeq
    assert(ppl(docs) == ppl(shuffled))
    val merges = Seq(("t", "h"), ("th", "e"))
    def enc(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.bpeEncode(d, "text", "doc_id", merges)
        .orderBy("id").collect().toSeq
    assert(enc(docs) == enc(shuffled))
    // round-11: the likelihood-ranked trainer's argmax (score, a, b) and
    // the greedy encoder must also be layout-blind
    def wp(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.wordpieceTrain(d, "text", steps = 3)
        .orderBy("step").collect().toSeq
    assert(wp(docs) == wp(shuffled))
    def wenc(d: org.apache.spark.sql.DataFrame) =
      CorpusStats.wordpieceEncode(d, "text", "doc_id", Seq("th", "the"))
        .orderBy("id").collect().toSeq
    assert(wenc(docs) == wenc(shuffled))
  }

  test("dsir: target-like docs weigh higher; weights and selection are layout-independent") {
    val target = Seq((1L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val raw = Seq((1L, "alpha beta alpha beta"),
      (2L, "gamma delta gamma delta"),
      (3L, "gamma delta epsilon")).toDF("doc_id", "text")
    val m = CorpusStats.fitDsir(target, raw, "text")
    val w = CorpusStats.scoreDsir(m, raw, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    // doc 1: 4 unigrams + 3 bigrams = 7 features, and it IS the target
    assert(w.head._2 == 7L)
    assert(w(0)._3 > w(1)._3 && w(0)._3 > w(2)._3)
    val w7 = CorpusStats.scoreDsir(m, raw.repartition(7), "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(w == w7)
    // one-pass labeled fit ≡ two-frame fit when target ⊆ raw
    val raw2 = raw.withColumn("y", col("doc_id") === 1L)
    val mL = CorpusStats.fitDsirLabeled(raw2, "text", col("y"))
    val wL = CorpusStats.scoreDsir(mL, raw, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(wL == w)
    assert(mL.unseenLr == m.unseenLr)
    // Gumbel-top-k: deterministic selection, invariant to partitioning
    val scored = CorpusStats.scoreDsir(m, raw, "text", "doc_id")
    val sel = CorpusStats.gumbelTopK(scored, "dsir_logw", "id", k = 2)
      .select("id").as[Long].collect().toSet
    val sel7 = CorpusStats.gumbelTopK(
        CorpusStats.scoreDsir(m, raw.repartition(5), "text", "doc_id"),
        "dsir_logw", "id", k = 2)
      .select("id").as[Long].collect().toSet
    assert(sel == sel7 && sel.size == 2)
  }

  test("bigramNll penalizes scrambled word order that unigramNll cannot see") {
    val fluent = (1 to 30).map(_ => "the cat sat down").mkString(" ")
    val df = Seq((1L, fluent), (2L, fluent), (3L, fluent),
      (4L, "down the sat cat " + fluent.split(' ').drop(4).mkString(" ")))
      .toDF("doc_id", "text")
    val uni = CorpusStats.unigramNll(df, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double)].collect()
    val bi = CorpusStats.bigramNll(df, "text", "doc_id")
      .orderBy("id").as[(Long, Long, Double)].collect()
    // same unigram bag → unigram scores nearly equal; bigram separates
    assert(math.abs(uni(3)._3 - uni(0)._3) < 0.05)
    assert(bi(3)._3 > bi(0)._3 + 0.05)
  }

  // ---------------- BM25 ----------------

  test("bm25TopK ranks the term-dense short doc first") {
    val df = Seq(
      (1L, "join join join"), // dense in the query term
      (2L, "join " + (1 to 60).map(i => s"w$i").mkString(" ")), // diluted
      (3L, "nothing relevant here"),
      (4L, "vector vector join")).toDF("doc_id", "text")
    val out = CorpusStats.bm25TopK(df, "text", "doc_id",
        Seq("join", "vector"), k = 3)
      .as[(Long, Double)].collect()
    assert(out.map(_._1).head == 4L) // hits BOTH terms
    assert(out.map(_._1).toSet == Set(1L, 2L, 4L)) // doc 3 scores nothing
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.reverse.toSeq)
  }

  // ---------------- cross-doc span dup ----------------

  test("crossDocSpanDupFraction flags only spans shared ACROSS documents") {
    val shared = "one two three four five six seven"
    val df = Seq(
      (1L, shared + " alpha beta gamma delta epsilon"),
      (2L, shared + " zeta eta theta iota kappa"),
      (3L, "totally different words with no overlap at all ok"),
      (4L, "tiny doc")).toDF("doc_id", "text") // < n tokens
    val out = Dedup.crossDocSpanDupFraction(df, "text", "doc_id", n = 5)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    // docs 1,2: 12 tokens → 8 positions; the 3 five-grams fully inside
    // `shared` (positions 1..3) are cross-doc dups → 3/8
    assert(out(0) == (1L, 8L, 0.375))
    assert(out(1) == (2L, 8L, 0.375))
    assert(out(2) == (3L, 5L, 0.0)) // 9 tokens → 5 five-gram positions
    assert(out(3) == (4L, 0L, 0.0))
  }

  test("crossDocSpanDupFraction counts repeated spans with multiplicity") {
    val span = "p q r s t"
    val df = Seq(
      (1L, s"$span x $span"), // the shared 5-gram occurs twice in doc 1
      (2L, span)).toDF("doc_id", "text")
    val out = Dedup.crossDocSpanDupFraction(df, "text", "doc_id", n = 5)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    // doc1: 11 tokens → 7 positions, dup positions = 2 (both copies of span)
    assert(out(0) == (1L, 7L, BigDecimal(2.0 / 7.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(out(1) == (2L, 1L, 1.0))
  }

  // ---------------- winnowing ----------------

  test("winnowing guarantees a shared fingerprint for matches >= w+k-1 chars") {
    import graft.text.TextAnalysis
    // normalized shared run: "sharedboilerplateregion" (23 chars >= 8)
    val df = Seq(
      (1L, "AAA shared boilerplate region BBB"),
      (2L, "xyz shared-boilerplate/region qqq"),
      (3L, "completely different content z9")).toDF("doc_id", "text")
    val fps = df.withColumn("wh", TextAnalysis.winnowGramHashes(col("text"), 5))
      .select(col("doc_id"), TextAnalysis.winnowSelect(col("wh"), 4).as("fps"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared 23-char run produced no shared fp")
    assert((fps(1L) & fps(3L)).isEmpty)
    // selection is sublinear: far fewer fingerprints than k-grams
    val nGrams = df.select(TextAnalysis.winnowGramHashes(col("text"), 5))
      .as[Seq[Long]].collect().map(_.size)
    assert(fps(1L).size < nGrams(0))
  }

  test("winnowing edge cases: short and empty docs") {
    import graft.text.TextAnalysis
    val df = Seq((1L, "ab"), (2L, ""), (3L, "abcdef")).toDF("doc_id", "text")
    val out = df.withColumn("wh", TextAnalysis.winnowGramHashes(col("text"), 5))
      .select(col("doc_id"), TextAnalysis.winnowSelect(col("wh"), 4).as("fps"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2).toMap
    assert(out(1L).isEmpty) // 2 chars < k
    assert(out(2L).isEmpty)
    assert(out(3L).size == 1) // 2 grams < w -> single global min
  }

  test("native winnowFingerprints equals the column formulation on real docs") {
    import graft.text.TextAnalysis
    val df = Tables.load(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
      .unionAll(Seq((9001L, "ab"), (9002L, ""), (9003L, "abcdef"),
        (9004L, "MiXeD-CaSe 123 text!")).toDF("doc_id", "text"))
    val nat = df.select(col("doc_id"),
        TextAnalysis.winnowFingerprints(col("text"), 5, 4).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    val cols = df.withColumn("wh", TextAnalysis.winnowGramHashes(col("text"), 5))
      .select(col("doc_id"), TextAnalysis.winnowSelect(col("wh"), 4).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(nat == cols)
  }

  // ---------------- duplicate-span removal ----------------

  test("removeDuplicateSpans cuts shared spans, keeps unique prose") {
    val shared = "one two three four five"
    val df = Seq(
      (1L, s"alpha $shared omega"), // 7 toks; positions 2..6 covered
      (2L, shared), //                 5 toks; all covered
      (3L, "entirely unrelated text here")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(df, "text", "doc_id", n = 5)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0) == (1L, 7L, 5L, m("alpha omega")))
    assert(out(1) == (2L, 5L, 5L, m("")))
    assert(out(2) == (3L, 4L, 0L, m("entirely unrelated text here")))
  }

  test("removeDuplicateSpans removes overlapping span unions exactly") {
    // docs share a 6-token run → two overlapping 5-gram starts in each;
    // covered union is the full 6 tokens, not 10
    val run = "a b c d e f"
    val df = Seq((1L, s"$run tail1 tail2"), (2L, s"head0 $run"))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(df, "text", "doc_id", n = 5)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) == Seq((1L, 8L, 6L), (2L, 7L, 6L)))
  }

  // ---------------- temperature mixing weights ----------------

  test("temperatureMixWeights: T=1 is the natural mix, large T flattens") {
    val df = (1 to 90).map(i => (i.toLong, if (i <= 81) "big" else "small"))
      .toDF("doc_id", "source")
    val t1 = Packing.temperatureMixWeights(df, "source", 1.0)
      .orderBy("source").as[(String, Long, Double)].collect().toSeq
    assert(t1 == Seq(("big", 81L, 0.9), ("small", 9L, 0.1)))
    val t2 = Packing.temperatureMixWeights(df, "source", 2.0)
      .orderBy("source").as[(String, Long, Double)].collect().toSeq
    assert(t2 == Seq(("big", 81L, 0.75), ("small", 9L, 0.25))) // 9:3
    val flat = Packing.temperatureMixWeights(df, "source", 1e9)
      .orderBy("source").as[(String, Long, Double)].collect()
    assert(flat.forall(r => math.abs(r._3 - 0.5) < 1e-3))
  }

  // ---------------- centroid stats ----------------

  test("centroidStats computes size, mean sqnorm, and inertia per label") {
    // label 0: vectors (1,0) and (-1,0) → centroid (0,0), m2 = 1, inertia = 1
    // label 1: two copies of (3,4) → centroid (3,4), m2 = 25, inertia = 0
    val df = Seq((0, Seq(1.0f, 0.0f)), (0, Seq(-1.0f, 0.0f)),
      (1, Seq(3.0f, 4.0f)), (1, Seq(3.0f, 4.0f)))
      .toDF("label", "embedding")
    val out = Similarity.centroidStats(df, "embedding", "label")
      .orderBy("label").as[(Int, Long, Double, Double)].collect().toSeq
    assert(out == Seq((0, 2L, 1.0, 1.0), (1, 2L, 25.0, 0.0)))
  }

  test("removeRepeatedSpans cuts only the doc's own stutters") {
    // doc 1: 'a b c' repeats (positions 1-3 and 6-8) → all 6 of those
    // positions covered, middle tokens survive; doc 2 is clean prose and
    // shares text with doc 1 — cross-doc sharing must NOT trigger removal
    val df = Seq(
      (1L, "a b c x y a b c z"),
      (2L, "a b c is fine here")).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(df, "text", "doc_id", n = 3)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out(0)._2 == 9 && out(0)._3 == 6)
    assert(out(1)._2 == 6 && out(1)._3 == 0, "cross-doc span wrongly removed")
    // the survivors are the unrepeated middle/tail tokens, in order
    val expectedClean = java.security.MessageDigest.getInstance("MD5")
      .digest("x y z".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0)._4 == expectedClean)
    CacheScope.releaseAll()
  }

  // ---------------- semantic dedup (SemDeDup) ----------------

  test("semanticDedup drops the min-id ε-neighborhood tails within a cell") {
    // cell axes: centroid 0 ≈ x-axis, centroid 1 ≈ y-axis.
    // ids 10,11,12 are near-parallel x-ish vectors (pairwise cos > 0.99);
    // id 20 is x-ish but far (cos < τ); id 30 is y-ish (other cell).
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val df = Seq(
      (10L, Seq(1.0, 0.01)), (11L, Seq(1.0, 0.02)), (12L, Seq(0.9, 0.012)),
      (20L, Seq(1.0, 0.7)), (30L, Seq(0.05, 1.0)))
      .toDF("vec_id", "v")
    val out = Similarity.semanticDedup(df, "vec_id", "v", centroids, tau = 0.99)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    // 11 and 12 both fold into 10 (their smallest qualifying lower id);
    // 20 survives (below τ to everything), 30 survives (alone in its cell).
    assert(out.map(t => (t._1, t._2)) == Seq((11L, 10L), (12L, 10L)))
    assert(out.forall(_._3 >= 0.99))
  }

  test("semanticDedup keeps exactly one representative per duplicate set") {
    // 4 identical vectors: 3 dropped, all pointing at the min id.
    val centroids = Seq(Seq(1.0, 0.0))
    val df = Seq((5L, Seq(0.6, 0.8)), (2L, Seq(0.6, 0.8)),
      (9L, Seq(0.6, 0.8)), (7L, Seq(0.6, 0.8))).toDF("vec_id", "v")
    val out = Similarity.semanticDedup(df, "vec_id", "v", centroids, tau = 0.999)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(out.map(t => (t._1, t._2)) == Seq((5L, 2L), (7L, 2L), (9L, 2L)))
  }

  // ---------------- line quality ----------------

  test("lineQualitySignals measures punct/bullet/length over a lines array") {
    val df = Seq(
      (1L, Seq("A real sentence.", "- bullet item", "no punct here", "Ends too!")),
      (2L, Seq.empty[String]))
      .toDF("id", "lines")
    val out = df.select((col("id") +:
        CorpusStats.lineQualitySignals(col("lines"))): _*)
      .orderBy("id").as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out(0) == ((1L, 4L, 0.5, 0.25, 12.75)))
    assert(out(1) == ((2L, 0L, 0.0, 0.0, 0.0)))
  }

  // ---------------- tf-idf ----------------

  test("tfIdfTopK surfaces each doc's distinguishing terms, not shared ones") {
    // 'shared' appears in every doc → idf = ln(1) = 0, never ranks.
    val df = Seq(
      (1L, "shared alpha alpha beta"),
      (2L, "shared beta beta gamma"),
      (3L, "shared gamma delta")).toDF("doc_id", "text")
    val out = CorpusStats.tfIdfTopK(df, "text", "doc_id", k = 2)
      .orderBy("id", "rank").as[(Long, String, Int, Double)].collect().toSeq
    assert(out.map(_._2) == Seq("alpha", "beta", "beta", "gamma", "delta", "gamma"))
    // alpha: tf=2, df=1 → 2·ln(3); delta: tf=1, df=1 → ln(3)
    assert(math.abs(out.head._4 - 2 * math.log(3)) < 1e-6)
    assert(out.forall(_._4 > 0.0), "zero-idf 'shared' must never appear")
  }

  test("chunkDocs windows step by the stride; last chunk short; empty doc kept") {
    // 10 tokens, maxToks=4, stride=3 → starts 0,3,6,9 with lens 4,4,4,1.
    val text = (0 until 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, text), (2L, "")).toDF("doc_id", "text")
    val out = Packing.chunkDocs(df, "text", "doc_id", maxToks = 4, stride = 3)
      .orderBy("id", "chunk_id")
      .select("id", "start_pos", "chunk_len").as[(Long, Long, Long)]
      .collect().toSeq
    assert(out == Seq((1L, 0L, 4L), (1L, 3L, 4L), (1L, 6L, 4L), (1L, 9L, 1L),
      (2L, 0L, 0L)))
  }

  test("pmiCollocations matches the hand-computed PMI on a tiny corpus") {
    // doc1 pairs: (a,b)x3, (b,a)x2; doc2: (c,d)x1 → nBig=6.
    // unigram positions: a:3 b:3 c:1 d:1 solo:1 → nUni=9.
    // PMI(a,b) = ln((3/6) / ((3/9)·(3/9))) = ln(4.5)
    // the empty and single-token docs exercise the zero-length pair slice
    val df = Seq((1L, "a b a b a b"), (2L, "c d"), (3L, ""), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = CorpusStats.pmiCollocations(df, "text", "doc_id",
        minCount = 2, k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) ==
      Seq(("a", "b", 3L), ("b", "a", 2L)))
    assert(math.abs(out.head._4 - math.log(4.5)) < 1e-5)
  }

  test("sourceDivergence: a source distributed like the corpus has KL ~ 0") {
    // when every source shares one token distribution the corpus blend
    // equals each source → KL = 0 for all of them
    val same = Seq(("s1", "x x y z"), ("s2", "x x y z")).toDF("source", "text")
    val zero = CorpusStats.sourceDivergence(same, "text", "source", topV = 8)
      .select("source", "kl").as[(String, Double)].collect().toMap
    assert(math.abs(zero("s1")) < 1e-4 && math.abs(zero("s2")) < 1e-4)
    // a skewed source shifts the blend: hand-computed KL(s1 ‖ corpus)
    // with corpus x:4 y:2 z:8 and p_s1 = (.5,.25,.25) is
    // 0.75·ln(1.75) − 0.25·ln(16/7) = 0.213042
    val skew = Seq(("s1", "x x y z"), ("s2", "x x y z"),
      ("s3", "z z z z z z")).toDF("source", "text")
    val out = CorpusStats.sourceDivergence(skew, "text", "source", topV = 8)
      .select("source", "kl").as[(String, Double)].collect().toMap
    assert(out("s1") == out("s2"))
    assert(math.abs(out("s1") - 0.213042) < 1e-5)
    assert(out("s3") > 0.1)
  }

  test("readability expressions reproduce the Flesch formulas") {
    // "The cat sat." → 3 words, 1 sentence, 3 syllables:
    // FRE = 206.835 − 1.015·3 − 84.6·1 = 119.19; FK = 0.39·3 + 11.8 − 15.59
    val df = Seq((1L, "The cat sat.")).toDF("doc_id", "text")
    val out = df.select(
        graft.text.TextAnalysis.asciiTokens(col("text")).as("toks"),
        graft.text.TextAnalysis.sentenceCount(col("text")).as("ns"))
      .select(size(col("toks")).as("nw"), col("ns"),
        graft.text.TextAnalysis.syllableCount(col("toks")).as("sy"))
      .select(col("nw"), col("ns"), col("sy"),
        graft.text.TextAnalysis.fleschReadingEase(
          col("nw"), col("ns"), col("sy")).as("fre"),
        graft.text.TextAnalysis.fkGradeLevel(
          col("nw"), col("ns"), col("sy")).as("fk"))
      .as[(Int, Int, Int, Double, Double)].head()
    assert(out._1 == 3 && out._2 == 1 && out._3 == 3)
    assert(math.abs(out._4 - 119.19) < 1e-6)
    assert(math.abs(out._5 - (0.39 * 3 + 11.8 - 15.59)) < 1e-6)
  }
}
