package graft

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps lowest id per identical text") {
    val df = Seq((3L, "same text"), (1L, "same text"), (2L, "other"))
      .toDF("id", "text")
    val out = Dedup.exact(df, "text", "id").select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("line dedup keeps the min-(id,idx) occurrence of each duplicated line") {
    // "alpha" appears at (1,0), (2,1), (3,0): canonical is (1,0), the two
    // later occurrences are cut. "beta" at (1,1) and (2,0): keep (1,1).
    // "gamma"/"delta" are unique and untouched.
    val df = Seq(
      (1L, Seq("alpha", "beta")),
      (2L, Seq("beta", "alpha", "gamma")),
      (3L, Seq("alpha", "delta"))).toDF("id", "lines")
    val out = Dedup.lineDedup(df, "lines", "id")
      .orderBy("id")
      .select("id", "n_lines", "n_removed", "clean_md5")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 0L), (2L, 3L, 2L), (3L, 2L, 1L)))
    // doc 2 survives as just "gamma"; doc 3 as just "delta"
    def md5of(ss: String*) = java.security.MessageDigest.getInstance("MD5")
      .digest(ss.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1).getString(3) == md5of("gamma"))
    assert(out(2).getString(3) == md5of("delta"))
    assert(out(0).getString(3) == md5of("alpha", "beta"))
  }

  test("fingerprint dedup catches word-order/punct variants") {
    val df = Seq((1L, "the quick brown fox"), (2L, "fox quick, the brown!"),
      (3L, "unrelated")).toDF("id", "text")
    val out = Dedup.byFingerprint(df, "text", "id")
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("minhash-LSH finds a near-duplicate pair, skips unrelated") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " xtra ytra"
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(df, "text", "id",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("prefix-filtered jaccard join is EXACT: equals the all-pairs result") {
    val docs = Tables.load(spark, sf0, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val fast = Dedup.jaccardPairsExact(docs, "text", "doc_id",
        Seq("source", "lang"), shingleSize = 3, threshold = 0.2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jac"))
      .filter(col("jac") >= 0.2)
      .as[(Long, Long, Double)].collect().toSet
    // ground truth: unguarded all-pairs within (source, lang)
    val sh = docs.select(col("doc_id"), col("source"), col("lang"),
      TextAnalysis.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val brute = sh.alias("a").join(sh.alias("b"),
        col("a.source") === col("b.source") && col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        round(Dedup.jaccard(col("a.sh"), col("b.sh")), 6).as("jac"))
      .filter(col("jac") >= 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == brute, s"prefix filter diverged: ${fast.diff(brute)} extra, ${brute.diff(fast)} missing")
  }

  test("containment pairs catch a quote inside a much longer page that jaccard misses") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val page = (1 to 200).map(i => s"w$i").mkString(" ") + " " + quote
    val other = (300 to 400).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, "s", "en", quote), (2L, "s", "en", page),
      (3L, "s", "en", other)).toDF("doc_id", "source", "lang", "text")
    val cont = Dedup.containmentPairsExact(df, "text", "doc_id",
        Seq("source", "lang"), shingleSize = 3, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont.map(t => (t._1, t._2)) == Seq((1L, 2L)), cont)
    assert(cont.head._3 >= 0.99, s"quote not fully contained: $cont")
    // jaccard at the same pair: 10 shared of ~200 shingles → far below 0.5
    val jac = Dedup.jaccardPairsExact(df, "text", "doc_id",
        Seq("source", "lang"), shingleSize = 3, threshold = 0.5)
      .collect()
    assert(jac.isEmpty, s"jaccard unexpectedly flagged: ${jac.toSeq}")
  }

  test("cosinePairsBlocked: small blocks exact; oversized blocks LSH-guarded") {
    val e = Tables.load(spark, sf0, "embeddings")
    // Tier 1: cap above every block size → identical to all-pairs
    val guarded = Similarity.cosinePairsBlocked(e, "vec_id", "embedding",
        "label", threshold = 0.4, maxExactBlock = 100000)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cos"))
      .filter(col("cos") >= 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val v = e.select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val brute = v.alias("a").join(v.alias("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(guarded == brute)
    // Tier 2: cap of 1 forces every block through the LSH path. Identical
    // vectors always share a bucket, so the planted duplicate pair MUST
    // surface, and nothing below the threshold may appear (exact verify).
    val vec = (1 to 64).map(i => math.sin(i.toDouble).toFloat)
    val anti = vec.map(x => -x)
    val hot = Seq((1L, "L", vec), (2L, "L", vec), (3L, "L", anti))
      .toDF("vec_id", "label", "embedding")
    val approx = Similarity.cosinePairsBlocked(hot, "vec_id", "embedding",
        "label", threshold = 0.4, maxExactBlock = 1)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(approx == Set((1L, 2L)))
  }

  test("dedup clusters: chained pairs collapse to one canonical label") {
    // components: {1,2,3,9} (chain 1-2, 2-3, 3-9), {5,6}; singleton 7-8 pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    val labels = Dedup.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L), labels)
  }

  test("dedup clusters: adversarial long chain converges in O(log n) rounds") {
    // a 64-link path graph has diameter 64 — plain min-label propagation
    // would need >20 rounds; the large-star/small-star loop must finish
    // (and be exact) within the default maxIters = 20 ≫ log²(65)
    val pairs = (1L until 65L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 65 && labels.values.forall(_ == 1L), labels)
  }

  test("dedup clusters: reversed-id chain (worst case for min-rooting)") {
    // chain 65-64-...-1 fed as (hi, lo) pairs plus a disjoint 2-cycle
    val pairs = ((65L until 130L).map(i => (i + 1, i)) :+ (200L, 201L))
      .toDF("id_a", "id_b")
    val labels = Dedup.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((65L to 130L).forall(labels(_) == 65L) && labels(200L) == 200L &&
      labels(201L) == 200L, labels)
  }

  test("decontamination: only docs sharing an 8-gram with the eval set flag") {
    val egram = (1 to 8).map(i => s"e$i").mkString(" ")
    val docsDf = Seq(
      (10L, s"prefix words $egram trailing content here"), // contains the 8-gram
      (11L, (100 to 140).map(i => s"w$i").mkString(" ")),  // clean
      (12L, egram))                                        // exactly the 8-gram
      .toDF("doc_id", "text")
    val bench = Seq((0L, s"other stuff $egram and more")).toDF("bid", "btext")
    val out = Dedup.decontaminate(docsDf, "text", "doc_id", bench, "btext")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(10L) >= 1 && out(12L) == 1L && out(11L) == 0L, out)
  }

  test("bloom decontamination: superset of exact hits, one-sided error only") {
    val d = Tables.load(spark, sf0, "documents")
    val bench = d.filter(col("doc_id") < 5)
    val exact = Dedup.decontaminate(d, "text", "doc_id", bench, "text", n = 8)
      .filter(col("n_hits") > 0).select("id").as[Long].collect().toSet
    val flagged = Dedup
      .bloomDecontaminate(d, "text", "doc_id", bench, "text", n = 8)
      .filter(col("flagged")).select("id").as[Long].collect().toSet
    // never misses a true overlap (the Bloom guarantee)
    assert(exact.subsetOf(flagged), s"missed: ${exact -- flagged}")
    // at 2^20 bits / 3 hashes the corpus FP count should be ~zero
    assert((flagged -- exact).size <= 2,
      s"bloom false positives: ${(flagged -- exact).size}")
  }

  test("CacheScope: library-op caches are caller-releasable") {
    CacheScope.releaseAll(blocking = true)
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"))
      .toDF("id", "text")
    Dedup.minhashLshPairs(df, "text", "id").count()
    assert(CacheScope.liveCount > 0)
    CacheScope.releaseAll(blocking = true)
    assert(CacheScope.liveCount == 0)
    // released caches re-materialize lazily: the op still runs afterwards
    assert(Dedup.minhashLshPairs(df, "text", "id").count() >= 1)
  }

  test("simhash: identical→0 hamming, near-dup small, unrelated large") {
    val a = (1 to 50).map(i => s"tok$i").mkString(" ")
    val b = (1 to 48).map(i => s"tok$i").mkString(" ") + " x y"
    val c = (200 to 250).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, b), (4L, c)).toDF("id", "text")
    val sigs = df.select(col("id"), Dedup.simhash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
  }

  test("brute-force knn: self is rank 1 with cosine 1") {
    val e = Tables.load(spark, sf0, "embeddings")
    val out = Similarity.bruteForceKnn(e, "vec_id", "embedding",
      e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3)
    val top = out.filter(col("rank") === 1).select("id", "cosine")
      .as[(Long, Double)].head()
    assert(top._1 == 0L && math.abs(top._2 - 1.0) < 1e-9)
  }

  test("lsh knn: rank-1 self-match survives bucketing") {
    val e = Tables.load(spark, sf0, "embeddings")
    val out = Similarity.lshKnn(e, "vec_id", "embedding",
      e.filter(col("vec_id") === 1), "vec_id", "embedding",
      k = 3, dim = 64, nBits = 8)
    val top = out.filter(col("rank") === 1).select("id").as[Long].head()
    assert(top == 1L)
  }

  test("ivf knn: self is rank 1; only probed cells are searched") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(-1.0, 0.0)),
      (3L, Seq(0.9, 0.1)), (4L, Seq(0.1, 0.9)), (5L, Seq(-0.9, -0.1)))
      .toDF("id", "v")
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    val out = Similarity.ivfKnn(vecs, "id", "v",
        vecs.filter(col("id") === 0L), "id", "v",
        centroids, nProbe = 2, k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // query (1,0) probes cells 0 and 1: candidates {0,3} ∪ {1,4}; cell 2
    // ({2,5}) is never searched. Top-3 by cosine: 0 (1.0), 3 (~0.99),
    // 4 (~0.11) — vector 1 (cos 0) ranks below 4.
    assert(out.head == (0L, 1), s"self not rank 1: ${out.toSeq}")
    assert(out.map(_._1).toSet == Set(0L, 3L, 4L), s"got ${out.toSeq}")
    assert(!out.map(_._1).contains(2L) && !out.map(_._1).contains(5L),
      "unprobed cell leaked into candidates")
  }

  test("url normalize: case/port/utm/fragment/param-order all collapse") {
    val urls = Seq(
      ("HTTPS://WWW.Ex.COM:443/Path/1?utm_source=x&b=2&a=1#frag",
       "https://www.ex.com/Path/1?a=1&b=2"),
      ("http://A.com:80/", "http://a.com/"),
      ("http://a.com:8080/x?z=1", "http://a.com:8080/x?z=1"), // non-default port kept
      ("https://a.com/p?utm_a=1&utm_b=2", "https://a.com/p")) // all params tracking
      .toDF("url", "expect")
    val out = urls.select(graft.text.TextAnalysis.normalizeUrl(col("url"))
        .as("got"), col("expect"))
      .as[(String, String)].collect()
    out.foreach { case (got, expect) => assert(got == expect, s"$got != $expect") }
  }

  test("hard triplets: lowest-cos positive, highest-cos negative, self excluded") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0), "A"), (1L, Seq(0.9, 0.1), "A"),
      (2L, Seq(0.5, 0.5), "A"), (3L, Seq(0.95, 0.05), "B"),
      (4L, Seq(0.0, 1.0), "B")).toDF("id", "v", "lbl")
    val out = Similarity
      .hardTriplets(vecs, "id", "v", "lbl", vecs.filter(col("id") === 0L))
      .as[(Long, Long, Double, Long, Double)].head()
    // positives {1: cos≈.994, 2: cos≈.707} → hardest = 2 (lowest cos);
    // negatives {3: cos≈.999, 4: cos=0} → hardest = 3 (highest cos)
    assert(out._1 == 0L && out._2 == 2L && out._4 == 3L, out)
  }

  test("bitext margin mining: one best match per anchor, layout-independent") {
    val xs = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("id", "v")
    val ys = Seq((10L, Seq(0.9, 0.1, 0.0)), (11L, Seq(0.1, 0.9, 0.0)),
      (12L, Seq(0.0, 0.0, 1.0)), (13L, Seq(0.5, 0.5, 0.1))).toDF("id", "v")
    val out = Similarity.bitextMarginMine(xs, ys, "id", "v", k = 2)
      .orderBy("xid").as[(Long, Long, Double)].collect().toSeq
    // hand margin for x0: y10 margin ≈ 1.42 beats the "hub-ish" y13 ≈ 0.91
    assert(out.map(_._1) == Seq(0L, 1L), out)
    assert(out(0)._2 == 10L && out(1)._2 == 11L, out)
    val out7 = Similarity.bitextMarginMine(xs.repartition(3),
        ys.repartition(5), "id", "v", k = 2)
      .orderBy("xid").as[(Long, Long, Double)].collect().toSeq
    assert(out == out7)
  }

  test("mips: inner-product order, not cosine order") {
    // cosine ranks 0 and 1 equal-first (same direction); MIPS must put
    // the long vector first — ip: 1→10, 0→1, 2→0.95
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(10.0, 0.0)),
      (2L, Seq(0.95, 0.05))).toDF("id", "v")
    val out = Similarity.bruteForceMips(vecs, "id", "v",
        vecs.filter(col("id") === 0L), "id", "v", k = 3)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect().toSeq
    assert(out.map(_._2) == Seq(1L, 0L, 2L), out)
    assert(out.map(_._3) == Seq(10.0, 1.0, 0.95))
  }

  test("pq: seed vectors encode to their own index; ADC self-distance is 0") {
    // dim 4, m=2 subspaces of 2; codebook = the 2 seed vectors
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 1.0)), (1L, Seq(0.0, 1.0, 1.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.9, 0.1)), (3L, Seq(0.1, 0.9, 0.2, 0.8)))
      .toDF("id", "v")
    val cb = Seq(Seq(1.0, 0.0, 0.0, 1.0), Seq(0.0, 1.0, 1.0, 0.0))
    val codes = Similarity.pqEncode(vecs, "id", "v", cb, m = 2)
      .orderBy("id").as[(Long, Seq[Int])].collect().toSeq
    // seeds quantize to themselves in every subspace
    assert(codes(0)._2 == Seq(0, 0) && codes(1)._2 == Seq(1, 1))
    // 2: sub0 (0.9,0.1) → cb0's (1,0); sub1 (0.9,0.1) → cb1's (1,0)
    assert(codes(2)._2 == Seq(0, 1) && codes(3)._2 == Seq(1, 0))
    val knn = Similarity.pqKnn(vecs, "id", "v",
        vecs.filter(col("id") < 2), "id", "v", cb, m = 2, k = 2)
      .orderBy("qid", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // each seed query's rank-1 is itself at ADC exactly 0
    assert(knn.filter(_._4 == 1).map(t => (t._1, t._2, t._3)) ==
      Seq((0L, 0L, 0.0), (1L, 1L, 0.0)))
    // layout-independent: same ranking after repartition
    val knn7 = Similarity.pqKnn(vecs.repartition(7), "id", "v",
        vecs.filter(col("id") < 2), "id", "v", cb, m = 2, k = 2)
      .orderBy("qid", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(knn == knn7)
  }

  test("kmeans fit recovers well-separated clusters; assignment is pure") {
    // 3 tight clusters around (0,0), (10,0), (0,10)
    val pts = (0 until 30).map { i =>
      val (cx, cy) = Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0))(i % 3)
      (i.toLong, Seq(cx + (i % 5) * 0.01, cy + (i % 7) * 0.01))
    }.toDF("id", "v")
    val centroids = Similarity.kmeansFit(pts, "v", k = 3, iters = 10)
    assert(centroids.size == 3)
    // every point assigns to a centroid near its true center
    val cells = Similarity.ivfAssign(pts, "v", centroids)
      .select(col("id"), col("cell")).collect()
      .map(r => r.getLong(0) % 3 -> r.getInt(1))
    val purity = cells.groupBy(_._1).values
      .map(g => g.groupBy(_._2).values.map(_.size).max.toDouble / g.size)
    assert(purity.forall(_ == 1.0), s"clusters mixed: ${cells.toSeq}")
    // deterministic: same seed → same centroids
    assert(Similarity.kmeansFit(pts, "v", k = 3, iters = 10) == centroids)
    // LAYOUT-independent: the content-hash sample makes centroids identical
    // after an arbitrary repartition (limit-in-partition-order would not be)
    assert(Similarity.kmeansFit(pts.repartition(7), "v", k = 3, iters = 10)
      == centroids)
    assert(Similarity.kmeansFit(pts.repartition(1).sort(col("id").desc),
      "v", k = 3, iters = 10) == centroids)
  }

  test("driver-held model state fails fast past the vector budget") {
    val pts = (0 until 20).map(i => (i.toLong, Seq(i.toDouble, 1.0)))
      .toDF("id", "v")
    // kmeansFit: a misconfigured sample size throws BEFORE collecting
    val e1 = intercept[IllegalArgumentException] {
      Similarity.kmeansFit(pts, "v", k = 3, sampleN = 50,
        maxDriverVectors = 10)
    }
    assert(e1.getMessage.contains("maxDriverVectors"), e1.getMessage)
    // collectModelVectors: same contract on the centroid/codebook pull
    val e2 = intercept[IllegalArgumentException] {
      Similarity.collectModelVectors(pts, "id", "v", n = 11,
        maxDriverVectors = 10)
    }
    assert(e2.getMessage.contains("maxDriverVectors"), e2.getMessage)
    // within budget: first-n in id order, float-widening-exact
    val mv = Similarity.collectModelVectors(pts, "id", "v", n = 3)
    assert(mv == Seq(Seq(0.0, 1.0), Seq(1.0, 1.0), Seq(2.0, 1.0)))
  }

  test("approxRowCount: stats sentinel falls back instead of exploding") {
    // a LogicalRDD has no stats: sizeInBytes is the defaultSizeInBytes
    // sentinel (Long.MaxValue); dividing it by avgRowBytes would estimate
    // ~3.5e16 rows and size LSH to 2^50 buckets — recall collapse
    val statless = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    val est = Similarity.approxRowCount(statless, avgRowBytes = 260L)
    assert(est == (1L << 20), s"sentinel must hit the fallback, got $est")
    // real stats still flow through
    val real = Seq(1L, 2L, 3L).toDF("x")
    assert(Similarity.approxRowCount(real, avgRowBytes = 8L) < 1000)
  }

  test("pii redaction: email, ip, phone each replaced; order protects digits") {
    val df = Seq(
      "mail a.b+c@foo-bar.example.org now",
      "server at 192.168.0.1 port 8080",
      "call +1 555 0123 456 today",
      "clean text with no pii at all").toDF("text")
    val out = df.select(TextAnalysis.redactPii(col("text"))).as[String].collect()
    assert(out(0) == "mail <EMAIL> now", out(0))
    assert(out(1) == "server at <IP> port 8080", out(1))
    assert(out(2) == "call <PHONE> today", out(2))
    assert(out(3) == "clean text with no pii at all")
  }

  test("langId picks marker-heavy language") {
    val df = Seq("the cat and the dog is with that",
      "der hund und die katze ist nicht das").toDF("text")
    val out = df.select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(out.toSeq == Seq("en", "de"))
  }

  test("token counts and shingles") {
    val df = Seq("a b c d").toDF("text")
    assert(df.select(TextAnalysis.tokenCount(col("text"))).as[Int].head() == 4)
    val sh = df.select(TextAnalysis.wordShingles(col("text"), 2)).as[Seq[String]].head()
    assert(sh == Seq("a b", "b c", "c d"))
    val cs = df.select(TextAnalysis.charShingles(col("text"), 3)).as[Seq[String]].head()
    assert(cs.contains("a b") && cs.forall(_.length == 3))
  }

  test("dup-ngram fraction: repetitive text scores high, diverse text zero") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),  // 5 bigrams, 1 distinct → 0.8
      (2L, "the quick brown fox jumps"),      // all bigrams distinct → 0.0
      (3L, ""),                               // empty → 0.0
      (4L, "one"))                            // single token → 1 "gram", distinct → 0.0
      .toDF("id", "text")
      .withColumn("__toks", TextAnalysis.asciiTokens(col("text")))
    val out = df.select(col("id"),
        org.apache.spark.sql.functions.round(
          TextAnalysis.dupNgramFraction(col("__toks"), 2), 6).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.8, s"got ${out(1L)}")
    assert(out(2L) == 0.0 && out(3L) == 0.0 && out(4L) == 0.0)
  }

  test("int8 quantization: max element maps to ±127, zero vector guarded") {
    val df = Seq(
      (1L, Seq(0.5, -1.0, 0.25)),
      (2L, Seq(0.0, 0.0, 0.0)))
      .toDF("id", "v")
      .withColumn("scale", Similarity.int8Scale(col("v")))
      .withColumn("q", Similarity.quantizeInt8(col("v"), col("scale")))
    val rows = df.collect().map(r =>
      r.getLong(0) -> (r.getDouble(2), r.getSeq[Int](3))).toMap
    assert(rows(1L)._2 == Seq(64, -127, 32), s"got ${rows(1L)._2}")
    assert(rows(2L)._1 == 0.0 && rows(2L)._2 == Seq(0, 0, 0))
  }

  test("multimodal decode: schema-correct deterministic features from bytes") {
    val df = Seq((1L, "payload-one"), (2L, "payload-two")).toDF("id", "text")
    val media = Multimodal.asMedia(df, "text", "application/octet-stream")
    val out = Multimodal.decodeFeatures(spark, media)
    val feats = out.select(col("id"), col("features.byteLen"),
      col("features.width"), col("features.feature")).collect()
    assert(feats.length == 2)
    assert(feats.forall(r => r.getLong(1) == 11L))
    assert(feats.forall(r => r.getInt(2) >= 16))
    assert(feats.forall(r => r.getSeq[Float](3).length == 8))
    // deterministic: same input → same features
    val again = Multimodal.decodeFeatures(spark, media)
      .select(col("features.contentHash")).as[Long].collect().sorted
    val first = out.select(col("features.contentHash")).as[Long].collect().sorted
    assert(again.toSeq == first.toSeq)
  }

  test("multimodal decode: real PNG bytes decode through javax.imageio") {
    val staged = Seq((1L, 20, 10), (2L, 3, 48)).toDF("id", "w0", "h0")
    val media = Multimodal.synthesizePng(staged, "w0", "h0", "id")
    // the synthesized payload is a real PNG (magic bytes present)
    val magic = media.select(org.apache.spark.sql.functions.hex(
      org.apache.spark.sql.functions.substring(col("media.body"), 1, 4)))
      .as[String].collect()
    assert(magic.forall(_ == "89504E47"), s"not PNG: ${magic.toSeq}")
    val out = Multimodal.decodeFeatures(spark, media)
      .select(col("id"), col("features.width"), col("features.height"),
        col("features.channels"), col("features.feature"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Float](4))).toMap
    assert(out(1L)._1 == 20 && out(1L)._2 == 10, s"dims wrong: ${out(1L)}")
    assert(out(2L)._1 == 3 && out(2L)._2 == 48, s"dims wrong: ${out(2L)}")
    assert(out.values.forall(_._3 == 3), "RGB png should have 3 channels")
    // uniform fill → per-channel means are exact pixel values in [0,1]
    assert(out.values.forall(_._4.forall(v => v >= 0f && v <= 1f)))
  }

  test("imageAvgHashBits: brightness jitter cancels, classes separate, non-images null") {
    // rows 1 and 2: same pattern class, different jitter → SAME signature;
    // row 3: different class/dims → different signature
    val staged = Seq((1L, 0L, 0, 24, 16), (2L, 0L, 9, 24, 16),
        (3L, 5L, 3, 33, 29))
      .toDF("id", "cls", "jit", "w0", "h0")
    val media = Multimodal.synthesizePatternPng(staged, "w0", "h0", "cls", "jit")
    val out = Multimodal.imageAvgHashBits(media)
      .select(col("id"), col("phash_bits")).as[(Long, String)]
      .collect().toMap
    assert(out(1L) != null && out(1L).length == 64 &&
      out(1L).forall(c => c == '0' || c == '1'), out(1L))
    assert(out(1L) == out(2L), "brightness jitter must not change the hash")
    assert(out(1L) != out(3L), "distinct pattern classes must separate")
    // an undecodable payload yields a null signature, not a crash
    val notImage = Multimodal.asMedia(
      Seq((9L, "just text")).toDF("id", "text"), "text", "text/plain")
    val nulls = Multimodal.imageAvgHashBits(notImage)
      .select(col("phash_bits")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("imageResizeNearest emits a real PNG of the target dims; non-images null out") {
    val staged = Seq((1L, 3L, 2, 24, 16)).toDF("id", "cls", "jit", "w0", "h0")
    val media = Multimodal.synthesizePatternPng(staged, "w0", "h0", "cls", "jit")
    val resized = Multimodal.imageResizeNearest(media, "media.body", 10, 6)
    val row = Multimodal.decodeFeatures(spark, resized, "resized.body")
      .select(col("features.width"), col("features.height"),
        col("features.channels")).head()
    assert((row.getInt(0), row.getInt(1), row.getInt(2)) == ((10, 6, 3)), row)
    // nearest-neighbor determinism: resizing twice gives identical bytes
    val b1 = resized.select(col("resized.body")).head().getAs[Array[Byte]](0)
    val b2 = Multimodal.imageResizeNearest(media, "media.body", 10, 6)
      .select(col("resized.body")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(b1, b2))
    val notImage = Multimodal.asMedia(
      Seq((9L, "plain text")).toDF("id", "text"), "text", "text/plain")
    val n = Multimodal.imageResizeNearest(notImage, "media.body", 4, 4)
      .select(col("resized.body")).head()
    assert(n.isNullAt(0))
  }

  test("multimodal decode: decompression bomb rejected from the header") {
    // a syntactically valid PNG whose IHDR DECLARES 60000×60000 (3.6 Gpx)
    // with almost no pixel data: the header pre-check must route it to the
    // stub path (channels null) instead of allocating a ~14 GB raster
    val realPng = {
      val img = new java.awt.image.BufferedImage(2, 2,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val bomb = realPng.clone()
    // IHDR width/height are big-endian ints at offsets 16..19 / 20..23
    def putInt(off: Int, v: Int): Unit = {
      bomb(off) = (v >>> 24).toByte; bomb(off + 1) = (v >>> 16).toByte
      bomb(off + 2) = (v >>> 8).toByte; bomb(off + 3) = v.toByte
    }
    putInt(16, 60000); putInt(20, 60000)
    assert(Multimodal.imageDecode(bomb).isEmpty,
      "oversized declared canvas must be rejected before decode")
    assert(Multimodal.imageDecode(realPng).exists(d => d._1 == 2 && d._2 == 2))
    val df = Seq((1L, bomb)).toDF("id", "body")
      .withColumn("media", struct(col("body").as("body"),
        lit("image/png").as("mimeType"), lit("binary").as("charset")))
    val feats = Multimodal.decodeFeatures(spark, df)
      .select(col("features.channels")).collect()
    assert(feats.head.isNullAt(0), "bomb must fall through to the stub path")
  }

  test("media stats sniffs magic bytes") {
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0x01, 0x02)
    val df = Seq((1L, jpeg), (2L, "plain".getBytes)).toDF("id", "body")
    val out = Multimodal.mediaStats(df, "body")
      .select("id", "sniffedType").as[(Long, String)].collect().toMap
    assert(out(1L) == "image/jpeg")
    assert(out(2L) == "application/octet-stream")
  }

  test("pqKnnRerank with a full-corpus shortlist equals brute-force kNN") {
    // when R covers the whole corpus the ADC stage prunes nothing, so the
    // exact rerank must reproduce bruteForceKnn bit-for-bit — the
    // recall-vs-R contract's fixed point
    val e = Tables.load(spark, sf0, "embeddings")
    val n = e.count().toInt
    val q = e.filter(col("vec_id") < 3)
    val cb = e.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val rerank = Similarity.pqKnnRerank(e, "vec_id", "embedding",
        q, "vec_id", "embedding", cb, m = 8, k = 5, shortlist = n)
      .orderBy("qid", "rank")
      .select("qid", "id", "cosine", "rank").collect().toSeq
    val brute = Similarity.bruteForceKnn(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5)
      .orderBy("qid", "rank")
      .select("qid", "id", "cosine", "rank").collect().toSeq
    assert(rerank == brute)
  }

  test("mmrDiversify defers the near-duplicate behind a diverse candidate") {
    // query (1,0) is NOT a candidate. Candidates: 1 ≈ 2 are mutual
    // near-copies at rel ≈ 0.99; 3 is diverse at rel = 0.5. Pure
    // relevance ranks [1,2,3]; after MMR picks 1, candidate 2's
    // redundancy (sim ≈ 1) sinks it below the diverse 3.
    val cands = Seq(
      (1L, Seq(0.9, 0.1)), (2L, Seq(0.9, 0.11)), (3L, Seq(0.5, -0.866)))
      .toDF("id", "v")
    val q = Seq((0L, Seq(1.0, 0.0))).toDF("id", "v")
    val out = Similarity.mmrDiversify(cands, "id", "v", q, "id", "v",
        k = 3, shortlist = 3)
      .orderBy("mmr_rank")
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(1L, 3L, 2L),
      s"expected diverse-promoted order [1, 3, 2], got $out")
  }

  test("PCM synth → decode roundtrip reproduces the waveform formula exactly") {
    val base = Seq((0L, 0L, 4), (1L, 3L, 64), (2L, 7L, 95))
      .toDF("id", "tone", "n")
    val out = Multimodal.pcmFeatures(Multimodal.synthesizePcm(base, "tone", "n"))
      .select("id", "n_samples", "sum_sq", "peak", "zero_cross")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def ref(tone: Long, n: Int) = {
      val v = (0 until n).map(i => ((tone * 37 + i * 17) % 4096) - 2048)
      (n.toLong, v.map(x => x * x).sum, v.map(math.abs).max,
        v.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0)).toLong)
    }
    assert(out(0L) == ref(0, 4))
    assert(out(1L) == ref(3, 64))
    assert(out(2L) == ref(7, 95))
    // the bytes really are little-endian s16: peak of tone 0 is -2048
    assert(out(0L)._3 == 2048L)
  }

  test("stripHtml: script/style subtrees drop whole, entities unescape, amp last") {
    val html = """<html><head><style>a { b: c; }</style>""" +
      """<script>if (1<2) { x("</p>"); }</script></head>""" +
      """<body><h1 class="t">Title</h1><p>one &amp; two &lt;three&gt;</p>""" +
      """<p>&amp;lt; stays literal</p>  <br/>tail</body></html>"""
    val out = Seq((1L, html)).toDF("id", "h")
      .select(TextAnalysis.stripHtml(col("h")).as("c"))
      .as[String].head()
    // the script body's stray '<' and the quoted '</p>' vanish with the
    // subtree; &amp;lt; must yield the literal '&lt;', not '<'
    assert(out == "Title one & two <three> &lt; stays literal tail", out)
  }

  test("pageRankKnn: central vector ranks highest; mass bounded; layout-invariant") {
    // 2-D unit vectors by angle: 45° sits within 45° of every other
    // vector, so it enters everyone's top-3 (highest in-degree) and must
    // get the top rank after damped iterations
    val angles = Seq(0L -> 45.0, 1L -> 0.0, 2L -> 90.0, 3L -> 20.0,
      4L -> 70.0, 5L -> 10.0)
    val vecs = angles.map { case (id, a) =>
      val r = math.toRadians(a); (id, Seq(math.cos(r), math.sin(r)))
    }.toDF("id", "v")
    val pr = Similarity.pageRankKnn(vecs, "id", "v", k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pr(0L) == pr.values.max, s"hub not top-ranked: $pr")
    // total mass stays within (teleport-truncated) bounds of 1e12
    val total = pr.values.sum
    assert(total > 500000000000L && total <= 1000000000000L, s"mass $total")
    val pr7 = Similarity.pageRankKnn(vecs.repartition(7), "id", "v",
        k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pr == pr7)
  }

  test("randomProject preserves norms in JL expectation and is layout-invariant") {
    val e = Tables.load(spark, sf0, "embeddings")
    val p = Similarity.randomProject(e, "vec_id", "embedding", 64, 16)
    val yn = sqrt((0 until 16).map(b => col(s"y$b") * col(s"y$b"))
      .reduce(_ + _))
    val vn = Similarity.norm(transform(col("embedding"), _.cast("double")))
    val ratios = p.join(e.select(col("vec_id").as("id"), vn.as("nv")), "id")
      .filter(col("nv") > 0)
      .select((yn / col("nv")).as("r")).as[Double].collect()
    // E[r²] = 1 with std ≈ √(2/16); virtually all mass in [0.3, 1.9]
    val inBand = ratios.count(r => r > 0.3 && r < 1.9).toDouble / ratios.length
    assert(inBand > 0.9, f"only $inBand%.2f of norm ratios near 1")
    val mean2 = ratios.map(r => r * r).sum / ratios.length
    assert(mean2 > 0.7 && mean2 < 1.3, s"E[r^2]=$mean2 far from 1")
    // deterministic under repartition (pure scan-stage arithmetic)
    val p7 = Similarity.randomProject(e.repartition(7), "vec_id",
        "embedding", 64, 16)
      .orderBy("id").collect().toSeq
    assert(p.orderBy("id").collect().toSeq == p7)
  }

  test("ivfPqKnn with one zero centroid equals plain pqKnn (residual fixpoint)") {
    // a single all-zero centroid means every vector's residual IS the
    // vector and every query probes the one cell — the residual IVF-PQ
    // machinery must then reproduce pqKnn bit-for-bit
    val e = Tables.load(spark, sf0, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val cb = e.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val zero = Seq(Seq.fill(cb.head.length)(0.0))
    val ivfpq = Similarity.ivfPqKnn(e, "vec_id", "embedding",
        q, "vec_id", "embedding", zero, cb, m = 8, nProbe = 1, k = 5)
      .orderBy("qid", "rank")
      .select("qid", "id", "adc", "rank").collect().toSeq
    val pq = Similarity.pqKnn(e, "vec_id", "embedding",
        q, "vec_id", "embedding", cb, m = 8, k = 5)
      .orderBy("qid", "rank")
      .select("qid", "id", "adc", "rank").collect().toSeq
    assert(ivfpq == pq)
  }

  test("ivfPqServe over a cached ivfPqEncode index equals the fused ivfPqKnn") {
    // the deployment split (r19 VERDICT item 6): encode the corpus ONCE
    // (the static index, cached), serve query batches against it — must
    // be bit-identical to the fused call, including when the batches
    // arrive one query at a time (the x_stream_knn serving shape).
    // Measured at sf0.1: warm per-batch addBatch is 667-745 ms cached vs
    // 677-784 ms fused — the gate-scale floor is Spark-fixed foreachBatch
    // machinery, so the STREAMING GATE stays fused; this split is the
    // corpus-scale path (re-encoding 2k rows is free; re-encoding 1e9
    // rows per batch is not) and this spec keeps it exercised.
    val e = Tables.load(spark, sf0, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val centroids = e.filter(col("vec_id") < 3).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val cb = e.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val fused = Similarity.ivfPqKnn(e, "vec_id", "embedding",
        q, "vec_id", "embedding", centroids, cb, m = 8, nProbe = 2, k = 5)
      .orderBy("qid", "rank")
      .select("qid", "id", "adc", "rank").collect().toSeq
    val enc = CacheScope.cache(Similarity.ivfPqEncode(
      e, "vec_id", "embedding", centroids, cb, m = 8))
    try {
      val wholeBatch = Similarity.ivfPqServe(enc, q, "vec_id", "embedding",
          centroids, cb, m = 8, nProbe = 2, k = 5)
        .orderBy("qid", "rank")
        .select("qid", "id", "adc", "rank").collect().toSeq
      assert(wholeBatch == fused)
      val perQuery = (0 until 3).flatMap { i =>
        Similarity.ivfPqServe(enc, q.filter(col("vec_id") === i),
            "vec_id", "embedding", centroids, cb, m = 8, nProbe = 2, k = 5)
          .orderBy("qid", "rank")
          .select("qid", "id", "adc", "rank").collect().toSeq
      }
      assert(perQuery == fused,
        "one-query-at-a-time serving must equal the fused batch")
    } finally CacheScope.releaseAll()
  }

  test("ivfPqKnn: residual coding has zero ADC self-distance at cell centers") {
    // vectors that sit exactly on a centroid have residual 0; with a
    // codebook whose first entry is the zero vector they encode to code
    // 0 in every subspace and self-ADC is exactly 0.0
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 1.0)), (1L, Seq(0.0, 1.0, 1.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.9, 0.1))).toDF("id", "v")
    val cents = Seq(Seq(1.0, 0.0, 0.0, 1.0), Seq(0.0, 1.0, 1.0, 0.0))
    val cb = Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(0.5, 0.5, 0.5, 0.5))
    val out = Similarity.ivfPqKnn(vecs, "id", "v",
        vecs.filter(col("id") < 2), "id", "v",
        cents, cb, m = 2, nProbe = 1, k = 1)
      .orderBy("qid").select("qid", "id", "adc").collect().toSeq
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      Seq((0L, 0L, 0.0), (1L, 1L, 0.0)))
  }

  test("ivfPqKnnRerank probing every cell with a full shortlist equals brute force") {
    // nProbe = nCells and R = corpus size ⇒ the ADC stage prunes
    // nothing, so the exact rerank must reproduce bruteForceKnn
    val e = Tables.load(spark, sf0, "embeddings")
    val n = e.count().toInt
    val q = e.filter(col("vec_id") < 3)
    val centroids = e.filter(col("vec_id") < 3).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val cb = e.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val rerank = Similarity.ivfPqKnnRerank(e, "vec_id", "embedding",
        q, "vec_id", "embedding", centroids, cb,
        m = 8, nProbe = centroids.size, k = 5, shortlist = n)
      .orderBy("qid", "rank")
      .select("qid", "id", "cosine", "rank").collect().toSeq
    val brute = Similarity.bruteForceKnn(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5)
      .orderBy("qid", "rank")
      .select("qid", "id", "cosine", "rank").collect().toSeq
    assert(rerank == brute)
  }

  test("winnowPairs finds the copied-passage pair, skips unrelated docs") {
    val passage = "the winnowing algorithm selects minimum hashes per window"
    val df = Seq(
      (1L, s"intro text then $passage and a unique tail one"),
      (2L, s"different opening here $passage with another ending"),
      (3L, "entirely unrelated content about spark catalyst plans"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, "text", "doc_id",
        k = 5, w = 4, minShared = 3, maxDf = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("winnowPairs drops ubiquitous fingerprints before pairing") {
    // every doc shares the same boilerplate; maxDf=2 prunes those
    // fingerprints, so no pair reaches minShared
    val boiler = "standard footer legal disclaimer text appears everywhere"
    val df = (1L to 4L).map(i => (i, s"doc $i body $boiler"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, "text", "doc_id",
      k = 5, w = 4, minShared = 3, maxDf = 2)
    assert(pairs.count() == 0)
  }

  test("knnGraph matches self-excluded brute force and flags mutual edges") {
    val e = Tables.load(spark, sf0, "embeddings")
    val graph = Similarity.knnGraph(e, "vec_id", "embedding", k = 3, blocks = 4)
      .select("id", "nbr", "rank").as[(Long, Long, Int)].collect().toSet
    // oracle: brute force with every vector as a query, self removed,
    // ranks recomputed over the survivors
    val brute = Similarity.bruteForceKnn(e, "vec_id", "embedding",
        e, "vec_id", "embedding", k = 4)
      .filter(col("qid") =!= col("id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    val expected = brute.withColumn("r", row_number().over(w))
      .filter(col("r") <= 3)
      .select(col("qid"), col("id"), col("r")).as[(Long, Long, Int)]
      .collect().toSet
    assert(graph == expected)
  }

  test("knnGraph mutual flag = reverse edge present in the graph") {
    val e = Tables.load(spark, sf0, "embeddings")
    val rows = Similarity.knnGraph(e, "vec_id", "embedding", k = 3, blocks = 2)
      .select("id", "nbr", "mutual").as[(Long, Long, Int)].collect()
    val edgeSet = rows.map(r => (r._1, r._2)).toSet
    rows.foreach { case (id, nbr, m) =>
      assert((m == 1) == edgeSet.contains((nbr, id)),
        s"mutual flag wrong for ($id,$nbr)")
    }
    assert(rows.exists(_._3 == 1), "expected at least one mutual edge")
  }

  test("incrementalExact: existing corpus wins regardless of id order") {
    // corpus doc 100 and delta doc 1 share text: the CORPUS occurrence
    // wins even though the delta id is smaller (operational precedence,
    // not id order); delta docs 2 & 3 share text → min-id 2 is new,
    // 3 is dup_in_delta; delta doc 4 is unique → new
    val existing = Seq((100L, "shared with corpus")).toDF("doc_id", "text")
    val delta = Seq(
      (1L, "shared with corpus"),
      (2L, "shared in delta"), (3L, "shared in delta"),
      (4L, "unique")).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(existing, delta, "text", "doc_id")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "dup_of_corpus", 2L -> "new",
      3L -> "dup_in_delta", 4L -> "new"))
  }

  test("exact-tier pair budget is an enforced contract, not a doc comment") {
    val e = Tables.load(spark, sf0, "embeddings")
    // 500 vectors -> 500*499 = 249,500 candidate pairs > 1000 budget
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnGraph(e, "vec_id", "embedding", k = 3, blocks = 4,
        maxPairsBudget = 1000L)
    }
    assert(ex.getMessage.contains("maxPairsBudget"), ex.getMessage)
    assert(ex.getMessage.contains("lshKnn"),
      s"escape hatch must name the ANN tiers: ${ex.getMessage}")
    // one global block of 500 -> 124,750 exact pairs > 1000 budget
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.cosinePairsBlocked(
        e.withColumn("blk", org.apache.spark.sql.functions.lit(0)),
        "vec_id", "embedding", "blk", threshold = 0.5,
        maxPairsBudget = 1000L)
    }
    assert(ex2.getMessage.contains("maxPairsBudget"), ex2.getMessage)
    // within budget: both run fine (knnGraph covered by the tests above;
    // the blocked path returns a well-formed pair frame)
    assert(Similarity.cosinePairsBlocked(
      e.withColumn("blk", col("vec_id") % 50),
      "vec_id", "embedding", "blk", threshold = 0.99)
      .columns.toSeq == Seq("id_a", "id_b", "cosine"))
  }

  test("dedupFunnel reports sequential stage survival") {
    val base = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),                                  // survives everything
      (2L, base),                                  // exact dupe of 1
      (3L, (10 to 1 by -1).map(i => s"w$i").mkString(", ") + "!"), // same word set
      (4L, "intro " + (20 to 28).map(i => s"e$i").mkString(" ")),  // contaminated
      (5L, (30 to 40).map(i => s"c$i").mkString(" ")))             // clean
      .toDF("doc_id", "text")
    val bench = Seq((1 to 12).map(i => s"e${i + 18}").mkString(" "))
      .toDF("text")
    val out = Dedup.dedupFunnel(docs, "text", "doc_id", bench, "text", n = 8)
      .select("stage", "docs_in", "docs_out")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("1_exact", 5L, 4L),
      ("2_fingerprint", 4L, 3L),
      ("3_decontaminate", 3L, 2L)))
  }

  test("urlDedup collapses tracking-param/case/fragment recrawls, keeps longest") {
    val df = Seq(
      (1L, "https://Example.com:443/a?utm_source=x&q=1#top", 100L),
      (2L, "https://example.com/a?q=1", 250L), // same canonical, longer
      (3L, "https://example.com/a?q=1&utm_campaign=y", 250L), // tie → id 2 wins
      (4L, "http://example.com/b", 50L)) // distinct page
      .toDF("doc_id", "url", "len")
    val kept = Dedup.urlDedup(df, "url", "len", "doc_id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L))
  }

  test("domainQualityFilter drops low-mean and too-thin hosts wholesale") {
    val df = Seq(
      (1L, "good.com", 0.9), (2L, "good.com", 0.8), (3L, "good.com", 0.7),
      (4L, "bad.com", 0.2), (5L, "bad.com", 0.3), (6L, "bad.com", 0.4),
      (7L, "thin.com", 0.99)) // above the floor but only 1 capture
      .toDF("doc_id", "domain", "q")
    val kept = Dedup.domainQualityFilter(df, "domain", "q", "doc_id",
        minMeanQuality = 0.5, minDocs = 2L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L))
  }
}
