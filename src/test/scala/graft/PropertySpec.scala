package graft

import graft.functions.Conform
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

/** Property tests (SURVEY.md §5 implication): round-trips and totality on
  * randomized person-shaped data.
  */
class PropertySpec extends SparkSpec {

  /** Minimal property driver: sample the generator `n` times and run the
    * assertion body. Seeds are FIXED (base seed + iteration) — the
    * previous `gen.sample` was time-seeded despite claiming otherwise,
    * which made one-in-many-runs failures unreproducible (round 11 saw
    * exactly one such flake with no captured counterexample). Override
    * the base with -Dgraft.prop.seed=N to sweep for edge cases.
    */
  private val baseSeed: Long = sys.props.get("graft.prop.seed").map(_.toLong).getOrElse(42L)
  private def forAllSampled[T](gen: Gen[T], n: Int = 8)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(baseSeed + i * 1000L)).foreach(body)
    }
  import spark.implicits._

  private val nameGen = Gen.alphaStr.suchThat(_.nonEmpty).map(_.take(12))
  private val personGen = for {
    fn <- nameGen; ln <- nameGen
    age <- Gen.chooseNum(0, 120)
  } yield (fn, ln, age)

  val personSchema = new StructType()
    .add("firstName", StringType).add("lastName", StringType)
    .add("age", IntegerType)

  test("to_json → from_json round-trips person records") {
    forAllSampled(Gen.listOfN(5, personGen)) { people =>
      if (people.nonEmpty) {
        val df = people.toDF("firstName", "lastName", "age")
        val rt = df
          .select(to_json(struct($"firstName", $"lastName", $"age")).as("j"))
          .select(from_json($"j", personSchema).as("p"))
          .select("p.firstName", "p.lastName", "p.age")
        assert(rt.collect().toSeq == df.collect().toSeq)
      }
    }
  }

  test("conformTo is total on missing/extra fields and preserves present values") {
    val target =
      """{"type":"record","name":"P","fields":[
        |{"name":"firstName","type":["null","string"],"default":null},
        |{"name":"age","type":"int"},
        |{"name":"missing","type":["null","string"],"default":null}]}""".stripMargin
    forAllSampled(Gen.listOfN(5, personGen)) { people =>
      if (people.nonEmpty) {
        // input has an extra field (lastName) and lacks `missing`
        val df = people.toDF("firstName", "lastName", "age")
        val out = Conform.conformTo(df, target)
        assert(out.columns.toSeq == Seq("firstName", "age", "missing"))
        val rows = out.collect()
        assert(rows.forall(_.isNullAt(2)))
        assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq ==
          people.map(p => (p._1, p._3)))
      }
    }
  }

  test("avro encode→decode round-trips") {
    val schema =
      """{"type":"record","name":"P","fields":[
        |{"name":"firstName","type":"string"},
        |{"name":"age","type":"int"}]}""".stripMargin
    forAllSampled(Gen.listOfN(5, personGen)) { people =>
      if (people.nonEmpty) {
        val df = people.map(p => (p._1, p._3)).toDF("firstName", "age")
        val rt = df.select(graft.exprs.AvroExprs.to_avro_binary(
            struct($"firstName", $"age"), schema).as("b"))
          .select(graft.exprs.AvroExprs.from_avro_binary($"b", schema).as("p"))
          .select("p.firstName", "p.age")
        assert(rt.as[(String, Int)].collect().toSeq ==
          people.map(p => (p._1, p._3)))
      }
    }
  }

  test("fingerprint is invariant under token permutation and duplication") {
    forAllSampled(Gen.listOfN(6, nameGen)) { words =>
      if (words.nonEmpty) {
        val base = words.mkString(" ")
        val shuffled = new scala.util.Random(baseSeed)
          .shuffle(words).mkString(" ")
        val duplicated = (words ++ words.take(2)).mkString(" ")
        val df = Seq(base, shuffled, duplicated).toDF("text")
        val fps = df.select(TextAnalysis.fingerprint($"text")).as[String].collect()
        assert(fps(0) == fps(1) && fps(0) == fps(2))
      }
    }
  }

  test("dup-ngram fraction is total and within [0, 1]") {
    forAllSampled(Gen.listOfN(4, Gen.oneOf(
      Gen.alphaStr.map(_.take(20)), Gen.const(""), Gen.const("a a a a a")))) {
      texts =>
        val df = texts.toDF("text")
          .withColumn("__toks", TextAnalysis.asciiTokens($"text"))
        val rs = df.select(TextAnalysis.dupNgramFraction($"__toks", 2))
          .as[Double].collect()
        assert(rs.forall(r => r >= 0.0 && r <= 1.0), rs.toSeq)
    }
  }

  test("int8 quantization stays within [-127, 127] and is sign-preserving") {
    forAllSampled(Gen.listOfN(8, Gen.chooseNum(-1e6, 1e6))) { xs =>
      val df = Seq(Tuple1(xs)).toDF("v")
        .withColumn("scale", graft.sim.Similarity.int8Scale($"v"))
        .withColumn("q", graft.sim.Similarity.quantizeInt8($"v", $"scale"))
      val Row2 = df.select($"v", $"q").collect().head
      val v = Row2.getSeq[Double](0); val q = Row2.getSeq[Int](1)
      assert(q.forall(x => x >= -127 && x <= 127), q)
      v.zip(q).foreach { case (x, qx) =>
        assert(qx == 0 || math.signum(x) == math.signum(qx.toDouble), (x, qx))
      }
    }
  }

  test("pii redaction is idempotent and leaves no raw emails behind") {
    forAllSampled(Gen.listOfN(3, nameGen)) { ws =>
      val text = s"${ws.mkString(" ")} ${ws.headOption.getOrElse("a")}@x.example.com tail"
      val df = Seq(text).toDF("text")
      val once = df.select(TextAnalysis.redactPii($"text")).as[String].head()
      assert(!once.contains("@x.example.com"), once)
      val twice = Seq(once).toDF("text")
        .select(TextAnalysis.redactPii($"text")).as[String].head()
      assert(twice == once, s"not idempotent: $once -> $twice")
    }
  }

  test("packing preserves the tape: bins/offsets reproduce the running sum") {
    val docGen = for {
      n <- Gen.chooseNum(1, 40)
      words <- Gen.listOfN(n, Gen.const("w"))
    } yield words.mkString(" ")
    forAllSampled(Gen.listOfN(12, docGen), n = 4) { texts =>
      if (texts.nonEmpty) {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val rows = graft.pack.Packing
          .packSequences(df, "text", "doc_id", capacity = 17, rangeSize = 3)
          .orderBy("id").as[(Long, Long, Long, Long)].collect()
        var off = 0L
        rows.foreach { case (_, nToks, bin, binOff) =>
          assert(bin == off / 17 && binOff == off % 17)
          off += nToks
        }
        assert(rows.map(_._2).sum == off)
      }
    }
  }

  test("winnowing: any shared normalized run >= w+k-1 chars shares a fingerprint") {
    val g = for {
      shared <- Gen.listOfN(10, Gen.alphaLowerChar).map(_.mkString) // 10 >= 4+5-1
      pre <- Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
      post <- Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
    } yield (shared, pre, post)
    forAllSampled(g, n = 6) { case (shared, pre, post) =>
      val df = Seq((1L, s"$pre $shared"), (2L, s"$shared $post"))
        .toDF("doc_id", "text")
      val fps = df
        .withColumn("wh", TextAnalysis.winnowGramHashes($"text", 5))
        .select($"doc_id", TextAnalysis.winnowSelect($"wh", 4).as("fps"))
        .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
      assert((fps(1L) & fps(2L)).nonEmpty,
        s"no shared fp for shared run '$shared'")
    }
  }

  test("bpeTrain equals single-node greedy BPE on random corpora") {
    // Reference implementation: textbook greedy BPE over word-type counts —
    // most frequent adjacent pair (ties lexicographic on (a, b)), applied
    // left-to-right non-overlapping. Validates the distributed trainer's
    // replace-pass merge application (the "6 passes = exact greedy for
    // chains <= 2^6" argument) beyond the hand-built cases — runs of one
    // symbol, alternating chains, and multi-char merged symbols all arise
    // from the generator.
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def refBpe(words: Seq[String], steps: Int): Seq[(String, String, Long)] = {
      var vocab = words.groupBy(identity).map { case (w, ws) =>
        (w.map(_.toString).toVector, ws.size.toLong) }.toVector
      val merges = Vector.newBuilder[(String, String, Long)]
      var s = 0
      var done = false
      while (s < steps && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, wc) =>
          syms.indices.dropRight(1).foreach { i =>
            counts((syms(i), syms(i + 1))) =
              counts.getOrElse((syms(i), syms(i + 1)), 0L) + wc
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
          merges += ((a, b, cnt))
          vocab = vocab.map { case (syms, wc) => (applyMerge(syms, a, b), wc) }
          s += 1
        }
      }
      merges.result()
    }
    // words over a tiny alphabet so runs and chains are common
    val wordGen = Gen.listOfN(6, Gen.oneOf("a", "b", "c")).map(_.mkString)
    forAllSampled(Gen.listOfN(12, wordGen), n = 4) { words =>
      if (words.nonEmpty) {
        val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
        val got = graft.text.CorpusStats.bpeTrain(df, "text", steps = 4)
          .orderBy("step").as[(Long, String, String, String, Long)]
          .collect().map(r => (r._2, r._3, r._5)).toSeq
        val want = refBpe(words, steps = 4)
        assert(got == want, s"words=$words\n got=$got\nwant=$want")
      }
    }
  }

  test("wordpieceTrain + encode equal a single-node likelihood reference on random corpora") {
    // Independent textbook reference (the bpeTrain-lesson protocol:
    // check the construction against the algorithm's definition, not its
    // own mirror): likelihood-ranked merges — argmax of
    // cnt(ab)·10^9 / (cnt(a)·cnt(b)) truncated, ties lexicographic —
    // then greedy longest-match-first segmentation under the learned
    // pieces.
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def refWp(words: Seq[String], steps: Int): Seq[(String, String, Long, Long)] = {
      var vocab = words.groupBy(identity).map { case (w, ws) =>
        (w.map(_.toString).toVector, ws.size.toLong) }.toVector
      val merges = Vector.newBuilder[(String, String, Long, Long)]
      var s = 0
      var done = false
      while (s < steps && !done) {
        val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        val syms = scala.collection.mutable.Map.empty[String, Long]
        vocab.foreach { case (ss, wc) =>
          ss.foreach(y => syms(y) = syms.getOrElse(y, 0L) + wc)
          ss.indices.dropRight(1).foreach { i =>
            pairs((ss(i), ss(i + 1))) =
              pairs.getOrElse((ss(i), ss(i + 1)), 0L) + wc
          }
        }
        if (pairs.isEmpty) done = true
        else {
          val scored = pairs.map { case ((a, b), c) =>
            ((a, b), c, c * 1000000000L / (syms(a) * syms(b))) }
          val ((a, b), cnt, sc) = scored.minBy { case ((a, b), _, s) => (-s, a, b) }
          merges += ((a, b, cnt, sc))
          vocab = vocab.map { case (ss, wc) => (applyMerge(ss, a, b), wc) }
          s += 1
        }
      }
      merges.result()
    }
    def refSegCount(w: String, pieces: Set[String]): Long = {
      val maxLen = if (pieces.isEmpty) 1 else pieces.map(_.length).max
      var pos = 0; var n = 0L
      while (pos < w.length) {
        val l = (math.min(maxLen, w.length - pos) to 2 by -1)
          .find(k => pieces.contains(w.substring(pos, pos + k)))
        pos += l.getOrElse(1); n += 1
      }
      n
    }
    val wordGen = Gen.listOfN(6, Gen.oneOf("a", "b", "c")).map(_.mkString)
    forAllSampled(Gen.listOfN(12, wordGen), n = 4) { words =>
      if (words.nonEmpty) {
        val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
        val got = graft.text.CorpusStats.wordpieceTrain(df, "text", steps = 4)
          .orderBy("step").as[(Long, String, String, String, Long, Long)]
          .collect().map(r => (r._2, r._3, r._5, r._6)).toSeq
        val want = refWp(words, steps = 4)
        assert(got == want, s"words=$words\n got=$got\nwant=$want")
        val pieces = got.map { case (a, b, _, _) => a + b }
        val gotEnc = graft.text.CorpusStats
          .wordpieceEncode(df, "text", "doc_id", pieces)
          .as[(Long, Long, Long)].head()
        val wantPieces = words.map(refSegCount(_, pieces.toSet)).sum
        assert(gotEnc == ((1L, words.size.toLong, wantPieces)),
          s"words=$words enc=$gotEnc want=(1,${words.size},$wantPieces)")
      }
    }
  }

  test("dedupClusters equals single-node union-find on random edge sets") {
    // same class of test that caught the BPE greedy bug: both paths — the
    // driver union-find these small graphs take and the distributed
    // large-star/small-star rounds — checked against an independent
    // textbook reference, not their own mirror
    val edgeGen = for {
      n <- Gen.chooseNum(2L, 40L)
      m <- Gen.chooseNum(1, 60)
      edges <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, n), Gen.chooseNum(0L, n)))
    } yield edges.filter(e => e._1 != e._2)
    forAllSampled(edgeGen, n = 5) { edges =>
      if (edges.nonEmpty) {
        val pairs = edges.toDF("id_a", "id_b")
        def labels(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val driver = labels(graft.dedup.Dedup.dedupClusters(pairs))
        val star = labels(graft.dedup.Dedup.starClusters(pairs))
        // union-find with min-rooting: component root = min node id
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
          .map(x => x -> find(x)).toMap
        assert(driver == want, s"driver path, edges=$edges")
        assert(star == want, s"star path, edges=$edges")
      }
    }
  }

  test("jaccardPairsExact equals brute-force pairs on random small-alphabet corpora") {
    // prefix + positional filters must be candidate-SUPERSET-preserving;
    // a small token alphabet forces heavy shingle sharing so the pruning
    // actually engages
    val docGen = for {
      k <- Gen.chooseNum(3, 10)
      ws <- Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield ws.mkString(" ")
    forAllSampled(Gen.listOfN(8, docGen), n = 4) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // both paths: the driver join these corpora take and the
      // distributed one (PairPaths asserts they agree)
      val got = PairPaths
        .jaccard(docs, "text", "doc_id", Nil, shingleSize = 2, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
        .filter(col("j") >= 0.3)
        .as[(Long, Long, Double)].collect().toSet
      // brute force over all pairs with the same shingle definition
      def sh(t: String): Set[String] = {
        val toks = t.split(" ").toSeq
        val cnt = math.max(toks.length - 2, 0) + 1
        (0 until cnt).map(j => toks.slice(j, math.min(j + 2, toks.length))
          .mkString(" ")).toSet
      }
      val shs = texts.zipWithIndex.map { case (t, i) => (i.toLong, sh(t)) }
      val want = (for {
        (ia, sa) <- shs; (ib, sb) <- shs if ia < ib
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if jr >= 0.3
      } yield (ia, ib, jr)).toSet
      assert(got == want, s"texts=$texts got=$got want=$want")
    }
  }

  test("mixSources is monotone in rate: a higher rate keeps a superset") {
    // bucket(id) < rate means raising the rate can only ADD rows — the
    // property that makes mixture-rate tuning reproducible run-over-run
    forAllSampled(Gen.zip(Gen.chooseNum(0, 1000), Gen.chooseNum(0, 1000)), n = 4) {
      case (r1, r2) =>
        val (lo, hi) = (math.min(r1, r2), math.max(r1, r2))
        val df = (1L to 300L).map(i => (i, "s")).toDF("doc_id", "source")
        def kept(r: Int) = graft.pack.Packing
          .mixSources(df, "doc_id", "source", Map("s" -> r))
          .select("doc_id").as[Long].collect().toSet
        val (a, b) = (kept(lo), kept(hi))
        assert(a.subsetOf(b), s"rate $lo kept rows rate $hi dropped")
    }
  }

  test("lineDedup equals a single-node reference on random line corpora") {
    // the distributed min-struct-aggregate + positional-rewrite pipeline
    // checked against a literal in-memory replay of the CCNet rule:
    // every line occurring anywhere else keeps only its smallest
    // (doc id, position) occurrence. A tiny line alphabet forces heavy
    // cross-document duplication, including corpus-hot digests.
    val corpusGen = for {
      nDocs <- Gen.chooseNum(2, 25)
      docs <- Gen.listOfN(nDocs, Gen.listOf(Gen.chooseNum(0, 6)))
    } yield docs.zipWithIndex.map { case (ls, i) =>
      (i.toLong, ls.map(x => s"line $x"))
    }
    forAllSampled(corpusGen, n = 6) { docsL =>
      if (docsL.exists(_._2.nonEmpty)) try {
        val got = graft.dedup.Dedup
          .lineDedup(docsL.toDF("id", "lines"), "lines", "id")
          .collect()
          .map(r => r.getAs[Long]("id") ->
            ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"),
              r.getAs[String]("clean_md5"))))
          .toMap
        // reference: min (id, idx) per duplicated line wins
        val occ = for ((id, ls) <- docsL; (l, idx) <- ls.zipWithIndex)
          yield (l, id, idx)
        val canon = occ.groupBy(_._1).collect {
          case (l, os) if os.size > 1 => l -> os.map(o => (o._2, o._3)).min
        }
        val want = docsL.map { case (id, ls) =>
          val keptLines = ls.zipWithIndex.collect {
            case (l, idx) if !canon.contains(l) || canon(l) == ((id, idx)) => l
          }
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(keptLines.mkString("\n").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          id -> ((ls.size.toLong, (ls.size - keptLines.size).toLong, md5))
        }.toMap
        assert(got == want, s"docs=$docsL")
      } finally graft.CacheScope.releaseAll() // even on a failing sample:
      // the cached lines relation must not leak into later suites
    }
  }

  test("incrementalExact equals a single-node reference on random splits") {
    // existing-wins, then min-id-within-delta: replayed literally
    val gen = for {
      nCorpus <- Gen.chooseNum(0, 15)
      nDelta <- Gen.chooseNum(1, 20)
      corpus <- Gen.listOfN(nCorpus, Gen.chooseNum(0, 8))
      delta <- Gen.listOfN(nDelta, Gen.chooseNum(0, 8))
    } yield (corpus.map(x => s"text $x"), delta.map(x => s"text $x"))
    forAllSampled(gen, n = 6) { case (corpus, delta) =>
      val existing = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val deltaDf = delta.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.dedup.Dedup
        .incrementalExact(existing, deltaDf, "text", "doc_id")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("verdict"))
        .toMap
      val inCorpus = corpus.toSet
      val firstInDelta = delta.zipWithIndex.groupBy(_._1)
        .map { case (t, os) => t -> os.map(_._2).min }
      val want = delta.zipWithIndex.map { case (t, i) =>
        i.toLong -> (if (inCorpus(t)) "dup_of_corpus"
          else if (firstInDelta(t) != i) "dup_in_delta" else "new")
      }.toMap
      assert(got == want, s"corpus=$corpus delta=$delta")
    }
  }

  test("md5-draw operators are retry/layout-deterministic: a repartitioned, " +
      "re-ordered corpus selects the identical set") {
    // The contract stableDraw exists for: a task retry or a different
    // input layout recomputes the SAME selection (rand()/sample() do
    // not). Perturbation = repartition to a different partition count +
    // reversed in-partition order — the shapes a lost executor or a
    // compacted upstream produce.
    import graft.pack.Packing
    import org.apache.spark.sql.expressions.Window
    val corpusGen = for {
      n <- Gen.chooseNum(50, 250)
      idBase <- Gen.chooseNum(-1000000L, 1000000L)
      stride <- Gen.chooseNum(1L, 9999L)
      nSrc <- Gen.chooseNum(1, 5)
      rate <- Gen.chooseNum(0, 1000)
      parts <- Gen.chooseNum(2, 13)
    } yield (n, idBase, stride, nSrc, rate, parts)
    forAllSampled(corpusGen, n = 6) { case (n, idBase, stride, nSrc, rate, parts) =>
      val rows = (0 until n).map(i =>
        (idBase + i * stride, s"src${i % nSrc}"))
      val df = rows.toDF("doc_id", "source")
      val perturbed = rows.reverse.toDF("doc_id", "source")
        .repartition(parts).sortWithinPartitions(col("doc_id").desc)
      def onBoth[A](f: org.apache.spark.sql.DataFrame => A): (A, A) =
        (f(df), f(perturbed))
      // mixSources: kept-id set
      val rates = (0 until nSrc).map(k => s"src$k" -> ((rate + k * 137) % 1001)).toMap
      val (m1, m2) = onBoth(d => Packing
        .mixSources(d, "doc_id", "source", rates)
        .select("doc_id").as[Long].collect().toSet)
      assert(m1 == m2, s"mixSources selection changed under layout: ${(m1 diff m2).take(3)}")
      // shard shuffle: full (doc_id, shard, pos) assignment (p_shard_shuffle)
      val (s1, s2) = onBoth { d =>
        val draw = Packing.stableDraw(col("doc_id"))
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("draw"), col("doc_id"))
        d.select(col("doc_id"), draw.as("draw"))
          .withColumn("shard", (col("draw") % 16).cast("int"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("shard"), col("pos"))
          .as[(Long, Int, Long)].collect().toSet
      }
      assert(s1 == s2, s"shard/pos assignment changed under layout: ${(s1 diff s2).take(3)}")
      // eval split: (doc_id, split) assignment (p_eval_split, seed 13)
      val (e1, e2) = onBoth { d =>
        val draw = Packing.stableDraw(col("doc_id"), 13L) % 1000
        d.select(col("doc_id"),
            when(draw < 980, "train").when(draw < 990, "val")
              .otherwise("test").as("split"))
          .as[(Long, String)].collect().toSet
      }
      assert(e1 == e2, s"eval-split assignment changed under layout: ${(e1 diff e2).take(3)}")
      // stratified fixed-quota sample: selected ids (p_stratified_sample, seed 7)
      val (q1, q2) = onBoth { d =>
        val w = Window.partitionBy(col("source"))
          .orderBy(Packing.stableDraw(col("doc_id"), 7L), col("doc_id"))
        d.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10).select("doc_id")
          .as[Long].collect().toSet
      }
      assert(q1 == q2, s"stratified quota selection changed under layout: ${(q1 diff q2).take(3)}")
    }
  }

  test("confluent frame/unframe round-trips random ids (incl. negative) and " +
      "payloads; garbage never throws") {
    import graft.exprs.AvroExprs
    val idGen = Gen.frequency(
      5 -> Gen.chooseNum(0, Int.MaxValue),
      2 -> Gen.chooseNum(Int.MinValue, -1), // corrupt/high-byte frames
      1 -> Gen.oneOf(0, 1, Int.MaxValue, Int.MinValue, -1))
    val payloadGen = Gen.chooseNum(0, 32).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    forAllSampled(Gen.listOfN(8, Gen.zip(idGen, payloadGen))) { cases =>
      if (cases.nonEmpty) {
        val df = cases.zipWithIndex
          .map { case ((id, p), i) => (i, id, p) }.toDF("i", "id", "p")
        val rt = df.select(col("i"), col("id"), col("p"),
            AvroExprs.confluent_unframe(
              AvroExprs.confluent_frame(col("p"), col("id"))).as("u"))
          .select(col("i"), col("id"), col("p"),
            col("u.schema_id"), col("u.payload"))
          .as[(Int, Int, Array[Byte], Int, Array[Byte])].collect()
        rt.foreach { case (i, id, p, gotId, gotP) =>
          assert(gotId == id, s"case $i: schema id $id came back as $gotId")
          assert(gotP.toSeq == p.toSeq, s"case $i: payload diverged")
        }
        // garbage unframe: any byte string either nulls or parses — never
        // throws (the ANSI int-overflow cast used to abort the query on
        // high-byte frames)
        val garbage = cases.map { case (id, p) =>
          Array[Byte](0, -1, -1, -1, -1) ++ p // bad high-byte id frame
        }.zipWithIndex.map(_.swap).toDF("i", "g")
        garbage.select(AvroExprs.confluent_unframe(col("g")).as("u"))
          .collect() // must not throw
        ()
      }
    }
  }

  test("scan-stage text functions are total and bounded-time on adversarial " +
      "input (broken tags, nested quotes, pathological repetition)") {
    import graft.text.TextAnalysis
    // the regex chains claim RE2-safe construction (no catastrophic
    // backtracking) — feed them the classic backtracking triggers and
    // structural garbage; every row must evaluate, and the whole batch
    // inside a coarse wall-clock bound that a backtracking blowup would
    // miss by orders of magnitude
    val adversarial = Seq(
      "<" * 2000,                                  // unterminated tags
      "<script>" + "a" * 5000,                     // unclosed script block
      "<a " + "x='y' " * 800 + ">",                // attribute soup
      ("<div>" * 500) + "text" + ("</div>" * 499), // deep unbalanced nesting
      "&amp;" * 2000,                              // entity repetition
      "a@" + "b." * 1000 + "com",                  // PII-regex stress
      "http://" + "a." * 1000 + "com/" + "p/" * 500 + "?q=" + "&r=s" * 500,
      "<<<>>>\"\"''" * 500,
      "\u0000\u0001\u0002 mixed \uFFFD controls" * 100)
      .zipWithIndex.map(_.swap)
    val df = adversarial.toDF("i", "t")
    val t0 = System.nanoTime()
    val out = df.select(col("i"),
        length(TextAnalysis.stripHtml(col("t"))).as("h"),
        length(TextAnalysis.redactPii(col("t"))).as("p"),
        length(TextAnalysis.normalizeUrl(col("t"))).as("u"),
        length(TextAnalysis.scrubSpecialTokens(col("t"))).as("s"))
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length == adversarial.size, "rows lost")
    assert(secs < 30, f"text chain took $secs%.1fs on adversarial input - backtracking blowup")
  }
}
