package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-point scaling harness: times selected queries on the sf corpus
  * and on synthetic `factor`× blow-ups, printing ratio + log-exponent per
  * scaling segment (1.0 = linear, 0 = flat). This is the measured
  * evidence behind PLANS.md's "Measured scaling" tables — round 7 built
  * the blown-up corpus ad-hoc; this main makes the experiment
  * reproducible. Round 13 adds (a) a factor LIST (`10,100`) so the
  * 10×→100× segment exponent is measured, not extrapolated — a 0.35
  * exponent at 10× can still knee at 100× — and (b) a skewed-key mode
  * (`--skew`) that gives one URL/domain/line-digest
  * identity ~30% of all documents (the real CommonCrawl boilerplate
  * shape), for the dedup/agg straggler measurements.
  *
  * Blow-up construction (documents): `factor` copies with id offsets; each
  * copy appends a per-copy suffix token to the text so copies are NEAR
  * duplicates of each other but not exact ones — the cross-copy duplicate
  * RATE stays constant and pair-producing ops grow output linearly, which
  * is what separates "plan went quadratic" from "answer got bigger".
  *
  * Skew mode remaps ~30% of blown-up documents onto doc_id multiples of
  * 273 (= 7·13·3): the URL identity is doc_id (mod 7, mod 13) and the
  * domain identity doc_id mod 7, so those rows share ONE canonical URL
  * and ONE domain; their text becomes one fixed 6-token line whose
  * stagedLines decorations are id-residue-constant, so line dedup sees
  * exactly one corpus-hot digest. Cold rows keep residues that are never
  * ≡ 0 mod 91, so ids stay unique and the cold key space stays diverse.
  *
  * Usage: runMain graft.ScaleBench [--factor=10[,100...]] [--skew]
  *          [--reuse] [--iters=3] [queryPrefix ...]
  *  - `--factor`: blow-up factors, a comma list for segments (default 10);
  *  - `--skew`: hot-key documents;
  *  - `--reuse`: keep a blow-up already built from the same base, factor
  *    and skew;
  *  - `--iters`: timed runs per point, median reported (default 3; the
  *    100× streaming replays take minutes per run, and the state peak is
  *    deterministic per corpus, so state-at-volume runs use 1).
  * Env: SPARK_GRAFT_SF_DIR (base corpus), SPARK_GRAFT_CPUS.
  */
object ScaleBench {

  /** Build the `factor`× all-tables blow-up under `bigDir`. With
    * `reuseOk`, an already-materialized blow-up is reused — for
    * re-measuring one setting (e.g. the streaming state-partition count)
    * without paying the build again. */
  private def buildBlowup(spark: SparkSession, sfDir: String, factor: Int,
                          bigDir: String, skew: Boolean,
                          reuseOk: Boolean): Unit = {
    // The reuse marker records WHAT was built (base dir + its data
    // fingerprint + factor + skew), not just that something was: reusing
    // a blow-up built from a different base would silently measure
    // exponents between unrelated corpora.
    val provenance =
      s"$sfDir|${Tables.dirFingerprint(sfDir)}|$factor|skew=$skew"
    val marker = java.nio.file.Paths.get(s"$bigDir/_BLOWUP_SRC")
    if (reuseOk &&
        java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == provenance) {
      System.err.println(s"[scale] reusing existing blow-up at $bigDir")
      return
    }
    java.nio.file.Files.deleteIfExists(marker)
    val docs = Tables.load(spark, sfDir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val copies = spark.range(factor).select(col("id").as("cpy"))
    val blown = docs.crossJoin(copies)
    val docsOut = {
      // every extended text carries ' cpy<N>' (4 chars + the copy
      // number's digits), so n_chars must grow with it — stale base
      // lengths would make n_chars-weighted queries measure an
      // incoherent corpus (advice r14)
      val suffixLen = lit(4) + length(col("cpy").cast("string"))
      if (!skew)
        blown.select((col("doc_id") + col("cpy") * maxId).as("doc_id"),
          concat(col("text"), lit(" cpy"), col("cpy")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + suffixLen).as("n_chars"))
      else {
        // hot identity: ~30% of rows get doc_id ≡ 0 (mod 273 = 7·13·3) —
        // one canonical URL (d_url_dedup keys on %7 × %13), one domain
        // (d_domain_filter keys on %7), and EXACTLY one hot line digest:
        // the 6-token hot text forms a single synthesized line whose
        // decorations (stagedLines: '- ' bullet when (doc_id+0)%7==0,
        // terminal '.' when (doc_id+0)%3==0) are CONSTANT because hot
        // ids are ≡ 0 mod both 7 and 3 — a 7-token or %3-varying id
        // would split the hot identity into several digests and measure
        // a milder skew than documented. Cold rows take residues in
        // 1..271 excluding 91 and 182 (the other multiples of 91), so
        // ids stay unique, no cold row lands on the hot URL, and the
        // cold key space stays diverse. monotonically_increasing_id is
        // layout-dependent, which a bench corpus can tolerate.
        val mid = monotonically_increasing_id()
        val r0 = pmod(col("mid"), lit(269)) + 1 // 1..269
        val r1 = when(r0 >= 91, r0 + 1).otherwise(r0) // skip 91
        val coldRes = when(r1 >= 182, r1 + 1).otherwise(r1) // skip 182
        blown.select(mid.as("mid"), col("text"), col("cpy"),
            col("lang"), col("source"), col("n_chars"))
          .select(
            when(pmod(col("mid"), lit(10)) < 3, col("mid") * 273)
              .otherwise(col("mid") * 273 + coldRes)
              .as("doc_id"),
            when(pmod(col("mid"), lit(10)) < 3,
              lit("hot boilerplate tokens repeated across corpus"))
              .otherwise(concat(col("text"), lit(" cpy"), col("cpy")))
              .as("text"),
            // hot rows must stay internally consistent: n_chars is the
            // HOT text's length and lang is pinned, so queries that
            // filter/weight on n_chars or lang measure a coherent
            // corpus in skew runs (advice r13)
            when(pmod(col("mid"), lit(10)) < 3, lit("en")).otherwise(col("lang")).as("lang"),
            col("source"),
            when(pmod(col("mid"), lit(10)) < 3,
              lit("hot boilerplate tokens repeated across corpus".length))
              .otherwise(col("n_chars") + suffixLen).as("n_chars"))
      }
    }
    docsOut.write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
    // embeddings blow-up: byte-identical copies with offset ids —
    // deliberately adversarial for pair ops (true output grows
    // quadratically); labels keep their distribution
    val emb = Tables.load(spark, sfDir, "embeddings")
    val maxVid = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    emb.crossJoin(copies)
      .select((col("vec_id") + col("cpy") * maxVid).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$bigDir/embeddings.parquet")
    // events blow-up: copies shift user ids AND time (one full span +
    // 1 day per copy), so sessions/windows/as-of matches stay strictly
    // within a copy — true output grows exactly linearly and a
    // superlinear timing is a plan defect, not answer growth
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("__us", expr("unix_micros(cast(ts AS timestamp))"))
    val evR = ev.agg(max(col("event_id")), max(col("user_id")),
      min(col("__us")), max(col("__us"))).head()
    val (maxEid, maxUid) = (evR.getLong(0) + 1, evR.getLong(1) + 1)
    val spanMicros = evR.getLong(3) - evR.getLong(2) + 86400L * 1000000L
    ev.crossJoin(copies)
      .select((col("event_id") + col("cpy") * maxEid).as("event_id"),
        timestamp_micros(col("__us") + col("cpy") * spanMicros).as("ts"),
        (col("user_id") + col("cpy") * maxUid).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$bigDir/events.parquet")
    // TPC-H blow-up (round 12): the FACT keys (orderkey, custkey) shift
    // by copy so order-grained joins stay strictly within a copy and
    // their true output grows linearly — a superlinear timing is a plan
    // defect. part/supplier (and their keys in lineitem) pass through
    // UNSHIFTED: the derived partsupp draws suppliers from
    // `(p_partkey·17+i) mod count(supplier)`, so shifting supplier keys
    // per copy while partsupp spans the full grown domain would make
    // the lineitem⋈partsupp composite join 10× SPARSER at 10× — the
    // measured exponent would flatter a genuinely superlinear plan.
    // With dims fixed, every part/supplier-grained fact join fans out
    // exactly linearly (TPC-H dims do grow with SF in reality, but the
    // invariant ScaleBench exists for is linear TRUE output).
    def keyMax(t: String, c: String): Long =
      Tables.load(spark, sfDir, t).agg(max(col(c))).head().getLong(0) + 1
    val (maxOrd, maxCust) =
      (keyMax("orders", "o_orderkey"), keyMax("customer", "c_custkey"))
    def shifted(t: String, shifts: Map[String, Long]): Unit = {
      val src = Tables.load(spark, sfDir, t)
      src.crossJoin(copies)
        .select(src.columns.toSeq.map(c => shifts.get(c) match {
          case Some(k) => (col(c) + col("cpy") * k).as(c)
          case None => col(c)
        }): _*)
        .write.mode("overwrite").parquet(s"$bigDir/$t.parquet")
    }
    shifted("orders", Map("o_orderkey" -> maxOrd, "o_custkey" -> maxCust))
    shifted("lineitem", Map("l_orderkey" -> maxOrd))
    shifted("customer", Map("c_custkey" -> maxCust))
    Seq("part", "supplier", "nation", "region").foreach(t =>
      Tables.load(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$bigDir/$t.parquet"))
    // record provenance so `--reuse` can actually match
    // next time (the marker was deleted up front; without this write the
    // reuse path is dead code — advice r13)
    java.nio.file.Files.writeString(marker, provenance)
    System.err.println(
      s"[scale] built ${factor}x all-tables blow-up at $bigDir" +
        (if (skew) " (skewed documents)" else ""))
  }

  /** Ensure the CLEAN `factor`× all-tables blow-up exists at the standard
    * location (`/tmp/graft-scale<factor>`) and return its path. Provenance
    * is always checked (base dir + data fingerprint + factor), so a stale
    * or foreign build is replaced rather than silently reused — tools
    * (SpillCertify, the iterative-oracle dumps) share the expensive build
    * with ScaleBench runs instead of re-materializing it. */
  def ensureBlowup(spark: SparkSession, sfDir: String, factor: Int): String = {
    val dir = s"/tmp/graft-scale$factor"
    buildBlowup(spark, sfDir, factor, dir, skew = false, reuseOk = true)
    dir
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val (opts, queryArgs) = args.toSeq.partition(_.startsWith("--"))
    def valued(name: String): Option[String] =
      opts.find(_.startsWith(s"--$name=")).map(_.stripPrefix(s"--$name="))
    opts.filterNot(o => Set("--skew", "--reuse")(o) ||
        o.startsWith("--factor=") || o.startsWith("--iters="))
      .foreach(o => sys.error(s"ScaleBench: unknown option $o"))
    val factors = valued("factor").getOrElse("10")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val skew = opts.contains("--skew")
    val reuse = opts.contains("--reuse")
    val iters = valued("iters").getOrElse("3").toInt
    val prefixes = if (queryArgs.isEmpty) Seq("") else queryArgs
    // Shared builder (advice r14): ScaleBench must honor the same
    // SPARK_GRAFT_MASTER knob and state-store policy as Bench/Verify — an
    // inline local[k] builder here would silently re-measure scaling in
    // single-JVM mode when the user asked for local-cluster.
    val spark = Sessions.build(cpus)
    // RocksDB row-count tracking ON for this session only: the
    // state-growth defense below reads peak numRowsTotal, which is
    // untracked under the library policy; exponents stay internally
    // consistent because every scale point pays the same tracking cost.
    spark.conf.set(Sessions.TrackRowsKey, "true")
    // same warmup as Bench: without it, the 1× column of whichever query
    // runs first absorbs JVM/codegen startup, polluting cross-session
    // comparisons of absolute 1× times (round-16 poison sweeps)
    Bench.warmup(spark, sfDir)

    val tag = if (skew) "skew" else "scale"
    val dirs = factors.map(f => f -> s"/tmp/graft-$tag$f")
    dirs.foreach { case (f, d) => buildBlowup(spark, sfDir, f, d, skew, reuse) }

    def time(fn: => Long): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    val hdr = dirs.map { case (f, _) => f"${s"t${f}x"}%8s" }.mkString(" ")
    println(f"${"query"}%-24s ${"t1x"}%8s $hdr  segment-exponents")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // streaming gates: capture per-scale-point state telemetry — peak
      // state rows/bytes must grow with the WATERMARK HORIZON (sublinear
      // in total input), not with total input; a linear-in-input state
      // row is an unbounded-state defect at 100 TB (r16 verdict item 4)
      val isStream = name.startsWith("x_stream")
      val stateAt = scala.collection.mutable.ArrayBuffer[(Int, Double, Option[Long], Long)]()
      def median(dir: String): Double = {
        if (isStream) graft.queries.StreamMetrics.reset()
        // release before each run, outside the timer: an op that caches
        // its result would otherwise time a cache read from run 2 on
        val t = (1 to iters).map { _ =>
          CacheScope.releaseAll(); time(fn(spark, dir).count())
        }.sorted.apply(iters / 2)
        if (isStream)
          graft.queries.StreamMetrics.summary.find(_._1 == name).foreach {
            case (_, rps, sr, sb) =>
              val f = if (dir == sfDir) 1
                      else dirs.find(_._2 == dir).map(_._1).getOrElse(-1)
              stateAt += ((f, rps, sr, sb))
          }
        t
      }
      // per-query isolation: a failure must SKIP, not kill the sweep —
      // the blow-up materializes every table, so a failure here is a
      // REAL query defect at scale (or an enforced-contract throw like
      // the exact-tier pair budget)
      try {
        val t1 = median(sfDir)
        CacheScope.releaseAll() // the big runs must not reuse 1x caches
        val tNs = dirs.map { case (_, d) =>
          val t = median(d); CacheScope.releaseAll(); t
        }
        // exponent per adjacent segment: (1, f1), (f1, f2), ...
        val pts = (1 -> t1) +: factors.zip(tNs)
        val exps = pts.sliding(2).map { case Seq((fa, ta), (fb, tb)) =>
          val e = math.log(tb / ta) / math.log(fb.toDouble / fa)
          f"${fa}x->${fb}x:$e%5.2f"
        }.mkString(" ")
        val cols = tNs.map(t => f"$t%8.2f").mkString(" ")
        println(f"$name%-24s $t1%8.2f $cols  $exps")
        if (isStream && stateAt.size >= 2) {
          def sExp(pick: ((Int, Double, Option[Long], Long)) => Double): String =
            stateAt.sliding(2).map { case scala.collection.Seq(a, b) =>
              val e = math.log(math.max(pick(b), 1.0) / math.max(pick(a), 1.0)) /
                math.log(b._1.toDouble / a._1)
              f"${a._1}x->${b._1}x:$e%5.2f"
            }.mkString(" ")
          val sCols = stateAt.map { case (f, rps, sr, sb) =>
            f"${f}x[rps=$rps%.0f rows=${sr.fold("untracked")(_.toString)} b=$sb]"
          }.mkString(" ")
          val rowsExp =
            if (stateAt.forall(_._3.isDefined)) sExp(_._3.get.toDouble)
            else "untracked"
          println(s"  state $name $sCols  rows-exp: $rowsExp" +
            s"  bytes-exp: ${sExp(_._4.toDouble)}")
        }
      } catch { case e: Exception =>
        CacheScope.releaseAll()
        println(f"$name%-24s SKIP (${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(120)})")
      }
    }
    spark.stop()
  }
}
