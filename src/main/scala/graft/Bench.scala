package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Per-query progress goes to stderr so a hung/slow query is identifiable.
  */
object Bench {

  /** The headline subset reported on stdout (the driver's per-round
    * BENCH_r{N}.json) — also the coverage set for PlanFingerprintSpec's
    * physical-plan regression gate. */
  val headline: Set[String] = Set(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q14_promo_revenue", "q_window_rank", "q_range_join", "q_asof_join",
    "q_custom_topk_agg", "d_dedup_exact", "d_minhash_pairs",
    "d_ngram_jaccard", "d_embed_neardup", "s_knn_brute", "s_knn_lsh",
    "m_avro_roundtrip", "m_grok", "t_quality_score", "mm_media_stats",
    "d_remove_dup_spans", "t_lm_score", "t_bm25_topk", "p_pack_sequences",
    "t_nb_classify", "t_dsir_weight", "s_knn_pq", "d_bloom_decontaminate",
    "x_stream_window", "x_stream_dedup", "t_bpe_train", "t_ppl_buckets",
    "mm_phash_dedup", "t_tfidf_topk",
    // the expensive tail (r10 VERDICT #3): the four most costly ops
    // belong under the official metric, cold included
    "d_cluster_keep_best", "d_dedup_clusters", "s_knn_graph",
    "p_pack_bpe", "t_wordpiece_train", "t_wordpiece_encode",
    // round-11 second-half additions: TPC-H breadth, the stream-stream
    // join gate, line dedup, residual IVF-PQ
    "q6_forecast_revenue", "q19_discounted_revenue", "x_stream_join",
    "d_line_dedup", "s_knn_ivfpq", "s_pagerank", "x_stream_session")

  /** Fixed synthetic calibration probe (r15 VERDICT item 1): a pinned-size
    * generated sort/agg/shuffle with NO parquet and NO code under test —
    * 4M generated rows, 32 input partitions, one hash-agg shuffle to ~10k
    * groups, global top-100 sort. Timed at bench start AND end, it
    * measures the HOST (CPU contention, JIT, scheduler), so per-query
    * seconds can be reported both raw and probe-normalized: host drift of
    * 1.3-4x between sessions swamped the 2x regression criterion in
    * rounds 12/13/15 and forced worktree A/Bs each time. Normalized units
    * are multiples-of-probe (unitless), comparable across sessions on any
    * host. MIN of 3 runs since probe v3: the suspect gate compares the
    * session MIN of each query's iterations, so the matching probe
    * statistic is the min — and min-of-3 sheds additive host stalls
    * (one stalled sample inflated a median checkpoint 2.4x in r19's
    * contended sessions) that the median passes straight through.
    */
  def probeSeconds(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = spark.range(0L, 4L * 1000 * 1000, 1L, 32)
        .select(col("id"), pmod(xxhash64(col("id")), lit(9973L)).as("k"),
          (pmod(xxhash64(col("id") + 1), lit(100000L)).cast("double") / 7.0)
            .as("v"))
        .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
        .orderBy(col("s").desc)
        .limit(100).count()
      require(n == 100, s"probe returned $n rows")
      (System.nanoTime() - t0) / 1e9
    }
    times.min
  }

  /** Second calibration flavor (r16 VERDICT item 8, armed by the r17
    * suspects calibration: the residual suspects clustered in workload
    * classes — sketch hashing, broadcast pair scoring, BNL scans — that
    * contend differently from probe 1's sort/agg/shuffle): a pinned
    * 2M-row generated scan broadcast-joined to a 10k dim with an
    * expression-heavy projection and NO shuffle. Telemetry-only for now
    * (`probe2_s` in BENCH.out.json, start/end): when adjudicating a
    * suspect, probe2 moving while probe1 stayed flat documents a
    * scan/broadcast-class host shift without a worktree A/B.
    *
    * Sized 24M rows since probe v3 (round 19): at the original 2M the
    * median-of-3 read ~0.15 s — scheduler-quantum territory — and swung
    * 2.3x WITHIN a board run while probe 1 swung 1.4x; with measured
    * classification normalizing ~190/219 queries against probe 2, that
    * jitter alone manufactured a recurring suspect family (mm_*,
    * q_kmv_distinct, m_generate_uuid — solo A/B'd at 1.02-1.31x raw of
    * their all-time bests, i.e. noise). ~0.4-0.5 s is the same
    * measurement scale as probe 1. */
  def probeSeconds2(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val dim = spark.range(0L, 10000L)
        .select(col("id").as("k"), xxhash64(col("id")).as("dv"))
      val n = spark.range(0L, 24L * 1000 * 1000, 1L, 32)
        .select(col("id"), pmod(xxhash64(col("id")), lit(10000L)).as("k"))
        .join(broadcast(dim), "k")
        .select(pmod(xxhash64(col("id"), col("dv")), lit(97L)).as("h"))
        .filter(col("h") === 0).count()
      require(n > 0, s"probe2 returned $n rows")
      (System.nanoTime() - t0) / 1e9
    }
    times.min
  }

  /** Bumped whenever a probe workload changes: stored probe-denominated
    * state (roll_probe1/roll_probe2 pairs, rollmin_norm/rollmin_norm_c
    * telemetry) is only comparable within one probe version, so a
    * mismatch discards it and reseeds this session — WITHOUT touching
    * `rollmin`, whose raw seconds are probe-independent. v3 = probe 2
    * enlarged 2M → 24M rows (round 19: at 2M the probe was ~70% fixed
    * scheduling overhead — tripling rows moved the quiet median only
    * 0.15 → 0.17 s — and host stalls are ADDITIVE), and both probes
    * report MIN-of-3 instead of median-of-3: the gate's numerator is
    * the session min of a query's iterations, so the denominator must
    * be the probe's min for the statistics to match, and min-of-3
    * sheds one-sample stalls a median inherits. */
  val probeVersion = 3

  /** Physical-plan probe-class detector (r17 VERDICT item 3 "dual-probe
    * classes"): queries whose plan contains a shuffle-implying operator
    * normalize against probe 1 (sort/agg/shuffle); pure
    * scan/broadcast/generate plans — the class the r17 calibration showed
    * probe 1 cannot see (sketch hashing, broadcast pair scoring, BNL
    * scans contend differently from a shuffle) — normalize against
    * probe 2. Derived from the same pre-AQE `sparkPlan` the plan
    * fingerprints use (exchanges are not yet inserted there, so membership
    * is keyed on the operators that REQUIRE a shuffle, not on
    * ShuffleExchangeExec itself). Streaming gates are pinned to the
    * shuffle class: their returned frame is a memory-sink scan but their
    * cost is the stateful shuffle inside the run. */
  private val shuffleImplying = Set(
    "SortMergeJoinExec", "ShuffledHashJoinExec", "SortExec", "WindowExec",
    "WindowGroupLimitExec", "HashAggregateExec", "ObjectHashAggregateExec",
    "SortAggregateExec", "ExpandExec")

  def scanBroadcastClass(name: String,
                         df: org.apache.spark.sql.DataFrame): Boolean =
    !name.startsWith("x_stream") && {
      try {
        var scan = true
        def visit(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
          if (shuffleImplying(p.getClass.getSimpleName)) scan = false
          p.children.foreach(visit)
          p.subqueries.foreach(visit)
        }
        visit(df.queryExecution.sparkPlan)
        scan
      } catch { case _: Throwable => false }
    }

  /** Best-effort read of a per-query double map field from a previous
    * BENCH.out.json — seeds the rolling min-of-sessions. Any parse
    * failure (missing file, older schema) yields empty: the roll
    * restarts rather than aborting the bench. Non-positive entries are
    * DROPPED: the "min" map carries -1.0 sentinels for failed queries
    * and for every query in a 1-iteration run, and a sentinel that
    * enters the roll wins every math.min forever after — the roll would
    * silently read "-1" (fastest ever!) for that query in all future
    * sessions (advice r16). */
  private def readPrevMap(path: java.nio.file.Path,
                          fields: Seq[String]): Map[String, Double] =
    try {
      if (!java.nio.file.Files.exists(path)) Map.empty
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(path.toFile)
        import scala.jdk.CollectionConverters._
        fields.iterator.flatMap(f => Option(root.get(f))).map { n =>
          n.properties().asScala.map(e => e.getKey -> e.getValue.asDouble)
            .filter(_._2 > 0.0).toMap
        }.nextOption().getOrElse(Map.empty)
      }
    } catch { case _: Throwable => Map.empty }

  /** Best-effort read of a scalar double field from a previous
    * BENCH.out.json (e.g. the prior session's global_shift, for the
    * persists-across-sessions board-wide-regression gate). */
  private def readPrevDouble(path: java.nio.file.Path,
                             field: String): Option[Double] =
    try {
      if (!java.nio.file.Files.exists(path)) None
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        Option(om.readTree(path.toFile).get(field)).map(_.asDouble)
      }
    } catch { case _: Throwable => None }

  /** Measured probe-class listener (r18 VERDICT item 2): the static
    * plan-shape rule (`scanBroadcastClass`) classifies only 2/219 queries
    * scan-class while the residual suspect noise clusters in
    * expression-heavy scans that probe 1 (sort/agg/shuffle) cannot see.
    * This listener measures, per query, the fraction of executor task
    * run time spent in SCAN-SHAPED tasks — tasks that read no shuffle
    * data and write at most a TOKEN amount of it (parquet scan →
    * project/filter, the probe side of a broadcast join, a BNL scan).
    * The token-write allowance (64 KB/task) exists because the bench
    * drives every query through `df.count()`: its partial-count map
    * tasks each emit one shuffle record, and the map side of a
    * low-cardinality agg emits a few — tasks whose runtime genuinely
    * lives in the scan+expression work, which is exactly the contention
    * class probe 2 measures. Real shuffle map tasks (sort/range
    * partitioning, joins, wide aggs — probe 1's own 10k-group map tasks
    * write ~0.5 MB) blow straight past the allowance. Attribution is by
    * the query name current when the task-end event is processed; the
    * listener bus is async, so `current` stays set through the per-query
    * cache release + System.gc (>100 ms) that FOLLOW the timed loop —
    * that window drains the few-ms event lag (ADVICE r19: clearing
    * `current` immediately after the loop dropped the last wave of a
    * shuffle query's reduce-task events, biasing scanFraction upward
    * near the 0.5 boundary), and the release/GC work itself launches no
    * tasks, so nothing false is attributed during the drain. Probe
    * checkpoints run while `current` is empty, so probe tasks are never
    * attributed to a query. */
  class ScanTimeListener extends org.apache.spark.scheduler.SparkListener {
    @volatile var current: String = ""
    private val scanMs = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]
    private val totalMs = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]
    private def add(m: java.util.concurrent.ConcurrentHashMap[
        String, java.util.concurrent.atomic.AtomicLong], k: String, v: Long): Unit =
      m.computeIfAbsent(k,
        _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(v)
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val q = current
      val m = te.taskMetrics
      if (q.nonEmpty && m != null) {
        val isScan = m.shuffleReadMetrics.recordsRead == 0 &&
          m.shuffleWriteMetrics.bytesWritten <= 64L * 1024
        add(totalMs, q, m.executorRunTime)
        if (isScan) add(scanMs, q, m.executorRunTime)
      }
    }
    /** Fraction of this query's executor run time in scan-shaped tasks;
      * None when no task time was observed (fully cached / constant-folded
      * / all events attributed elsewhere). */
    def scanFraction(name: String): Option[Double] = {
      val t = Option(totalMs.get(name)).map(_.get).getOrElse(0L)
      if (t <= 0L) None
      else Some(Option(scanMs.get(name)).map(_.get).getOrElse(0L).toDouble / t)
    }
  }

  /** One full-board bench execution, as recorded in BENCH.out.json's
    * `samples` list (r18 VERDICT item 1, "self-adjudicating record"):
    * enough context that a reader of any single round record can tell a
    * contended-host sample from a regression without archaeology.
    * Standalone since r20 (r19 VERDICT item 2): each entry also carries
    * its own verdict line, the probe workload version, the corpus, probe
    * 2's spread, and the production stream-rps summary — previously a
    * sample's probe-version caveat lived only in PLANS prose. */
  case class Sample(commit: String, total: Double, shift: Double,
                    flat: Boolean, probeMin: Double, probeMax: Double,
                    probe2Min: Double = -1.0, probe2Max: Double = -1.0,
                    probeVer: Int = 0, sf: String = "",
                    verdict: String = "",
                    streamRps: Map[String, Double] = Map.empty)

  private[graft] def sampleJson(s: Sample): String = {
    val rps =
      if (s.streamRps.isEmpty) ""
      else s.streamRps.toSeq.sorted
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.0f" }
        .mkString(""","stream_rps":{""", ",", "}")
    s"""{"commit":"${s.commit}","total":${f"${s.total}%.3f"},""" +
      s""""shift":${f"${s.shift}%.4f"},"flat":${s.flat},""" +
      s""""probe_min":${f"${s.probeMin}%.4f"},"probe_max":${f"${s.probeMax}%.4f"},""" +
      s""""probe2_min":${f"${s.probe2Min}%.4f"},"probe2_max":${f"${s.probe2Max}%.4f"},""" +
      s""""probe_version":${s.probeVer},"sf":"${s.sf}",""" +
      s""""verdict":"${s.verdict}"$rps}"""
  }

  private[graft] def readPrevSamples(path: java.nio.file.Path): Seq[Sample] =
    try {
      if (!java.nio.file.Files.exists(path)) Nil
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = om.readTree(path.toFile).get("samples")
        if (node == null || !node.isArray) Nil
        else {
          import scala.jdk.CollectionConverters._
          node.elements().asScala.flatMap { s =>
            for {
              c <- Option(s.get("commit")).map(_.asText)
              t <- Option(s.get("total")).map(_.asDouble)
              sh <- Option(s.get("shift")).map(_.asDouble)
              fl <- Option(s.get("flat")).map(_.asBoolean)
            } yield Sample(c, t, sh, fl,
              Option(s.get("probe_min")).map(_.asDouble).getOrElse(-1.0),
              Option(s.get("probe_max")).map(_.asDouble).getOrElse(-1.0),
              // pre-r20 entries lack these: defaults mark them legacy
              Option(s.get("probe2_min")).map(_.asDouble).getOrElse(-1.0),
              Option(s.get("probe2_max")).map(_.asDouble).getOrElse(-1.0),
              Option(s.get("probe_version")).map(_.asInt).getOrElse(0),
              Option(s.get("sf")).map(_.asText).getOrElse(""),
              Option(s.get("verdict")).map(_.asText).getOrElse(""),
              Option(s.get("stream_rps")).filter(_.isObject).map { n =>
                n.properties().asScala
                  .map(e => e.getKey -> e.getValue.asDouble).toMap
              }.getOrElse(Map.empty))
          }.toSeq
        }
      }
    } catch { case _: Throwable => Nil }

  /** Best same-commit full-board total among QUIET samples (flat probes,
    * no whole-board shift) — the number a contended sample's verdict
    * points at; -1 when no quiet same-commit sample exists yet. */
  private[graft] def quietBestTotal(samples: Seq[Sample],
                                    commit: String): Double = {
    val q = samples.filter(s =>
      s.commit == commit && s.flat && s.shift <= 1.3 && s.total > 0)
    if (q.isEmpty) -1.0 else q.map(_.total).min
  }

  /** The one-line adjudication a future reader needs (r18's 141 s record
    * took the judge an hour of PLANS/commit archaeology to classify as a
    * host event; this field is that hour, mechanized). Takes both probe
    * series' spreads and NAMES the series that actually swung (ADVICE
    * r19: a probe2-only stall previously cited a flat-looking probe-1
    * range — observed live, probe_flat false with the cited probe-1 span
    * at 1.30x). Flatness is derived here from the same min/max the
    * sample records, so the verdict and the fields can't disagree. */
  private[graft] def verdictLine(fullBoard: Boolean, nQueries: Int,
                                 cfgDefault: Boolean, shift: Double,
                                 probeMin: Double, probeMax: Double,
                                 probe2Min: Double, probe2Max: Double,
                                 quietBest: Double): String = {
    val p1Flat = seriesFlat(Seq(probeMin, probeMax))
    val p2Flat = seriesFlat(Seq(probe2Min, probe2Max))
    val flat = p1Flat && p2Flat
    if (!cfgDefault) s"non-default execution config ($nQueries queries; rolls frozen, gates informational)"
    else if (!fullBoard) s"partial run ($nQueries queries; not a board sample)"
    else if (flat && shift <= 1.3) "clean sample"
    else {
      val why =
        if (!flat) {
          val swung = Seq(
            if (p1Flat) None else Some(f"probe $probeMin%.2f-$probeMax%.2fs"),
            if (p2Flat) None
            else Some(f"probe2 $probe2Min%.2f-$probe2Max%.2fs")).flatten
          swung.mkString(", ") + " within the run"
        } else f"global_shift $shift%.2fx with flat probes"
      val qb =
        if (quietBest > 0) f"; quiet same-commit best $quietBest%.1fs"
        else "; no quiet same-commit sample yet"
      s"contended-host sample ($why)$qb"
    }
  }

  /** max/min spread gate shared by both probe series (ADVICE r18: the
    * flatness arm previously inspected only probe 1, so a probe2-only
    * stall could masquerade as a persisting board regression). */
  private[graft] def seriesFlat(vals: Seq[Double]): Boolean =
    vals.nonEmpty && vals.min > 0 && vals.max / vals.min < 1.3

  /** The sample identity is the last commit that touched SOURCE (src/ or
    * build.sbt), not HEAD: doc-only commits (PLANS/README/record syncs)
    * would otherwise split same-binary samples across "commits" and
    * break quiet_best_total's same-commit matching — observed live in
    * r19, where a wrap commit relabeled an unchanged binary. */
  private def gitCommit: String = {
    def run(cmd: String*): Option[String] =
      try {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0 && out.nonEmpty && !out.contains(" ")) Some(out)
        else None
      } catch { case _: Throwable => None }
    run("git", "log", "-1", "--format=%h", "--", "src", "build.sbt")
      .orElse(run("git", "rev-parse", "--short", "HEAD"))
      .getOrElse("unknown")
  }

  /** Rolling records (rollmin, probe pairs, stream_rps_roll) and the
    * ratio gates only make sense when the execution configuration matches
    * the one that set the rolls (ADVICE r18: one run under a
    * throughput-favorable stream config permanently raises
    * stream_rps_roll, after which default runs fail --strict forever; a
    * local-cluster bench would likewise pollute the batch rolls — e.g.
    * s_pagerank measured FASTER under local-cluster in r18). Any
    * execution-shaping env knob ⇒ rolls frozen and gates informational. */
  private[graft] def rollEligibleConfig(env: Map[String, String]): Boolean =
    !env.contains("SPARK_GRAFT_MASTER") &&
      env.getOrElse("SPARK_GRAFT_CPUS", "32") == "32" &&
      !env.contains("SPARK_GRAFT_STREAM_FILES") &&
      // ADVICE r19 (medium): the remaining execution-shaping knobs.
      // A bench against a smaller corpus sets raw rollmin / rps values
      // no default sf0.1 run can ever match (--strict would fail
      // forever after); a non-default iteration count skews every
      // min-of-N roll.
      env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.1") == "/root/testdata/sf0.1" &&
      env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3") == "3"

  /** Warm up codegen/scan paths so the alphabetically-first query doesn't
    * absorb JVM+session startup in its timing. Shared with ScaleBench —
    * its 1× column was paying exactly this warmup in whichever query ran
    * first, inflating cross-session comparisons of absolute 1× times
    * (observed in the round-16 poison-at-scale sweeps).
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
      // Also warm the shared physical-operator + expression JIT paths by
      // running the real dedup pair-gen + clustering pipeline on a
      // 256-doc slice (then releasing its caches): a synthetic
      // join/window/agg warmup does NOT warm these — measured ~2s of
      // shared-path warmup still landed in the cold column of whichever
      // pair-gen query ran first in the session. The slice keeps the
      // warmup ~1s; caches are released so the measured runs stay cold.
      import org.apache.spark.sql.functions.col
      val docsW = Tables.load(spark, sfDir, "documents")
        .limit(256).select(col("doc_id"), col("source"), col("lang"),
          col("text"))
      graft.dedup.Dedup.dedupClusters(
        graft.dedup.Dedup.jaccardPairsExact(
          docsW, "text", "doc_id", Seq("source", "lang"), 3, 0.2)).count()
      CacheScope.releaseAll()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // match the driver (r15 VERDICT)
    val spark = Sessions.build(cpus)
    // measured probe-class telemetry (r18 VERDICT item 2): registered
    // before warmup but attributing only while `current` names a query
    val scanLis = new ScanTimeListener
    spark.sparkContext.addSparkListener(scanLis)
    warmup(spark, sfDir)
    // discarded probe: the FIRST probe execution pays its own codegen/JIT
    // (measured ~1.5x on the start checkpoint), which would deflate the
    // normalized values of every query before the second checkpoint
    probeSeconds(spark)
    val probeStart = probeSeconds(spark)
    System.err.println(f"[bench] calibration probe (start): $probeStart%.3fs")
    probeSeconds2(spark) // discard first (codegen/JIT), same as probe 1
    val probe2Start = probeSeconds2(spark)
    System.err.println(
      f"[bench] calibration probe2/scan-broadcast (start): $probe2Start%.3fs")
    // Optional arg: only run queries whose name starts with the prefix
    // (focused timing runs while iterating).
    // comma-separated prefixes, same contract as Verify's third arg.
    // `--strict` (or SPARK_GRAFT_BENCH_STRICT) exits non-zero when the
    // suspects list below is non-empty — the machine-applied regression
    // gate (r16 verdict item 5).
    val strict = args.contains("--strict") ||
      sys.env.contains("SPARK_GRAFT_BENCH_STRICT")
    val prefixes = args.filterNot(_ == "--strict")
      .headOption.getOrElse("").split(",").toSeq
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // Each query runs `iters` times; the reported number is the MEDIAN (the
    // single-iteration timings of rounds 1-4 swung 2-4x on sub-second
    // queries from JIT/GC/run-order noise, hiding real regressions). The
    // cold first-run time is kept as a separate column in the file output.
    // Release operator-internal caches BETWEEN queries, not at session end:
    // 142 queries x `iters` iterations otherwise accumulate every
    // CacheScope persist for the whole run, so under memory pressure the
    // store evicts and the "median" silently measures recompute-after-
    // eviction (round-8's official total read 2x the idle-machine rerun of
    // the same commit). Releasing per query makes the median honestly
    // warm-per-query and the total reproducible under load. liveCount and
    // heap telemetry per query make any future drift visible in stderr.
    val rt = Runtime.getRuntime
    // Interleaved probe checkpoints (every `probeEvery` queries): a probe
    // only at the run edges is blind to a transient stall INSIDE the run —
    // demonstrated on two same-commit sessions 70 min apart where a
    // contiguous q_* stretch ran 4-5x slower while the edge probes read
    // FASTER (PLANS round 16). Each query normalizes against the probe
    // value linearly interpolated at its run position; ~7 extra probe
    // runs cost ~3 s on a 219-query run.
    val probeEvery = 32
    val probeSeries = scala.collection.mutable.ArrayBuffer[(Int, Double)](
      0 -> probeStart)
    val probe2Series = scala.collection.mutable.ArrayBuffer[(Int, Double)](
      0 -> probe2Start)
    // name -> true when the query normalizes against probe 2 (pure
    // scan/broadcast plan — see scanBroadcastClass); populated from the
    // plan of the query's own frame, outside the timing window
    val scanCls = scala.collection.mutable.Map.empty[String, Boolean]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => prefixes.exists(kv._1.startsWith))
    // Session-tier eviction audit (r21 VERDICT item 2): when the heap
    // hatch below dumps the SESSION cache tier mid-board, the next
    // consumer rebuilds the whole pair product INSIDE its timed window
    // (r21 driver run: d_cluster_keep_best 10.4 s vs its 1.3-2.2 s band,
    // same commit at 8 cores 1.75 s). The record must say so itself:
    // `session_hatch` lists the query AFTER which each hatch fired, and
    // `hatch_rebuilds` names the first query whose timed window
    // re-materialized the session tier afterwards — its median silently
    // includes the rebuild and must be read as tainted.
    val hatchEvents = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val hatchRebuilds = scala.collection.mutable.ArrayBuffer.empty[String]
    var hatchPending = false
    // Hatch threshold scales with the configured heap (was a flat 2000 MB,
    // set when the bench JVM ran 4g): at the default -Xmx8g a post-GC
    // footprint of 2 GB is comfortable, and firing the hatch there trades
    // a non-problem for a guaranteed mid-board rebuild. 40% of max heap
    // keeps the escape hatch for genuine retention (the r9 failure fired
    // at ~3.6 GB of 4g) without hair-triggering on big heaps.
    val hatchMb = math.max(2000L, rt.maxMemory() / (1024 * 1024) * 2 / 5)
    val results = selected.zipWithIndex.map { case ((name, fn), qIdx) =>
      if (qIdx > 0 && qIdx % probeEvery == 0) {
        val p = probeSeconds(spark)
        probeSeries += qIdx -> p
        val p2 = probeSeconds2(spark)
        probe2Series += qIdx -> p2
        System.err.println(
          f"[bench] calibration probe (@$qIdx): $p%.3fs probe2: $p2%.3fs")
      }
      var lastDf: org.apache.spark.sql.DataFrame = null
      scanLis.current = name
      val sessBefore = CacheScope.sessionLiveCount
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val n = try { val df = fn(spark, sfDir); lastDf = df; df.count() }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); -1L }
        ((System.nanoTime() - t0) / 1e9, n)
      }
      // `current` is NOT cleared yet: late async task-end events from the
      // timed loop drain into this query's tally during the cache-release
      // + GC below (see ScanTimeListener doc)
      // probe class from the as-run plan (cached relations included), so
      // classify BEFORE the cache release below; planning is memoized in
      // the frame's QueryExecution and costs ~ms outside the timed region
      if (lastDf != null) scanCls(name) = scanBroadcastClass(name, lastDf)
      // first session-tier rebuild after a hatch: this query's timed
      // window paid the full pair-gen re-materialization (see above)
      if (hatchPending && sessBefore == 0 && CacheScope.sessionLiveCount > 0) {
        hatchRebuilds += name
        hatchPending = false
        System.err.println(s"[bench] $name rebuilt the session tier inside " +
          "its timed window (post-hatch) — its median includes pair-gen")
      }
      val cold = times.head._1
      // A failed iteration (rows == -1) must not masquerade as a timing:
      // time-to-exception is typically tiny, so recording it would make a
      // broken query look like the fastest one in the file. Failed queries
      // report -1 and are excluded from the total.
      val failed = times.exists(_._2 < 0)
      val sortedT = times.map(_._1).sorted
      val median = if (failed) -1.0 else sortedT(times.size / 2)
      // min/max over the WARM iterations ride along in the file output so
      // host variance (wide spread, stable min) is distinguishable from a
      // real regression (min itself moved) without a rerun — round-12's
      // d_dedup_exact 2.21x "regression" took a manual rerun to classify.
      // The cold first run is excluded (it has its own column): including
      // it would make max==cold for nearly every query and hide exactly
      // the warm spread these fields exist to expose.
      // With a single iteration there ARE no warm runs — emit -1 rather
      // than echoing the cold time, so a 1-iter run cannot masquerade as
      // a zero-variance warm measurement (advice r13).
      val warm = times.drop(1).map(_._1)
      val tMin = if (failed || warm.isEmpty) -1.0 else warm.min
      val tMax = if (failed || warm.isEmpty) -1.0 else warm.max
      val liveBefore = CacheScope.liveCount
      CacheScope.releaseAll()
      // Defensive sweep outside the timing window: drop anything the
      // CacheManager still holds (a persist that bypassed CacheScope) and
      // nudge GC so ContextCleaner reclaims localCheckpoint RDD blocks —
      // in the r9 full run heap crept to ~3.6 GB over 118 queries and the
      // resulting eviction made one query's "warm median" measure
      // recompute-after-eviction (t_pmi_colloc: 0.67s solo vs 30.9s in
      // the full run). The SESSION cache tier (slim-by-contract product
      // relations, e.g. the verified near-dup pair graph shared by three
      // queries) deliberately survives this sweep — so the full
      // clearCache only runs while that tier is empty, with a
      // heap-pressure escape hatch below that dumps everything if the
      // r9 failure mode ever reappears.
      if (CacheScope.sessionLiveCount == 0)
        spark.sharedState.cacheManager.clearCache()
      // Unload accumulated state-store providers after each streaming
      // gate: every streaming start() loads one provider per state
      // partition, terminated queries' providers linger until the
      // 60 s maintenance pass, and with 8+ streaming gates × 3 iters
      // the carried providers + maintenance IO inflated later gates'
      // medians ~2× in the full run (x_stream_session 3.5 s fresh-JVM
      // vs 5.9 s at run position ~200). stop() unloads everything and
      // the pool restarts lazily on next use — batch queries unaffected.
      if (name.startsWith("x_stream"))
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.gc()
      scanLis.current = "" // listener-bus drain window over (see doc)
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      if (heapMb > hatchMb) {
        System.err.println(
          s"[bench] heap pressure (${heapMb}MB > ${hatchMb}MB): clearing ALL caches including session tier")
        hatchEvents += name -> heapMb.toDouble
        hatchPending = true
        CacheScope.releaseSession()
        spark.sharedState.cacheManager.clearCache()
        System.gc()
      }
      System.err.println(
        f"[bench] $name%-24s median=$median%8.2fs min=$tMin%8.2fs max=$tMax%8.2fs cold=$cold%8.2fs rows=${times.head._2} cached=$liveBefore sess=${CacheScope.sessionLiveCount} heapMB=$heapMb")
      (name, median, if (failed) -1.0 else cold, tMin, tMax)
    }
    val probeEnd = probeSeconds(spark)
    System.err.println(f"[bench] calibration probe (end): $probeEnd%.3fs")
    val probe2End = probeSeconds2(spark)
    System.err.println(
      f"[bench] calibration probe2/scan-broadcast (end): $probe2End%.3fs")
    // A zero-query run (prefix matched nothing) would append the end
    // checkpoint under the SAME key (0) as the start one — the JSON
    // object then carries a duplicate "0" key and last-wins parsing
    // silently drops the start checkpoint (advice r16). Skip it: with
    // no queries there is no run interior to interpolate over.
    if (selected.nonEmpty) {
      probeSeries += selected.size -> probeEnd
      probe2Series += selected.size -> probe2End
    }
    // host speed at a query's run position: linear interpolation between
    // the surrounding probe checkpoints (a stall localized to one stretch
    // of the run then inflates only that stretch's normalizer)
    def interpAt(series: Seq[(Int, Double)], i: Int): Double = {
      val (loIdx, loV) = series.filter(_._1 <= i).last
      series.find(_._1 > i) match {
        case Some((hiIdx, hiV)) =>
          loV + (hiV - loV) * (i - loIdx).toDouble / (hiIdx - loIdx)
        case None => loV
      }
    }
    def probeAt(i: Int): Double = interpAt(probeSeries.toSeq, i)
    def probe2At(i: Int): Double = interpAt(probe2Series.toSeq, i)
    // Final probe class (r18 VERDICT item 2, "measured classification"):
    // measured dominance when observed — >50% of the query's executor
    // task run time in scan-shaped tasks (no shuffle records read or
    // written) — else the static plan shape. The static rule captures
    // plan SHAPE, not cost dominance: it classified 2/219 scan-class
    // while the residual suspect noise clustered in expression-heavy
    // scans (sketch hashing, broadcast pair scoring) whose plans carry a
    // token shuffle but whose runtime lives in the scan stages.
    // x_stream stays pinned to the shuffle class (the returned frame is
    // a memory-sink scan; the cost is the stateful shuffle in the run).
    def finalScanClass(name: String): Boolean =
      !name.startsWith("x_stream") &&
        scanLis.scanFraction(name).map(_ > 0.5)
          .getOrElse(scanCls.getOrElse(name, false))
    // the normalizer for a query = the probe of ITS class at its position
    def classProbeAt(name: String, i: Int): Double =
      if (finalScanClass(name)) probe2At(i) else probeAt(i)
    val failedNames = results.collect { case (n, m, _, _, _) if m < 0 => n }
    if (failedNames.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${failedNames.mkString(", ")}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def fmt(prec: String, v: Double): String =
      String.format(java.util.Locale.ROOT, prec, Double.box(v))
    def json(rs: Seq[(String, Double, Double, Double, Double)], prec: String,
             withCold: Boolean, allRps: Boolean = true,
             extraJson: String = ""): String = {
      val qs = rs.map { case (k, v, _, _, _) => "\"" + k + "\":" + fmt(prec, v) }
        .mkString("{", ",", "}")
      def extra(label: String, pick: ((String, Double, Double, Double, Double)) => Double) =
        rs.map(r => "\"" + r._1 + "\":" + fmt(prec, pick(r)))
          .mkString(s""","$label":{""", ",", "}")
      val cold = if (withCold)
        extra("cold", _._3) + extra("min", _._4) + extra("max", _._5)
      else ""
      val failedJson =
        if (failedNames.isEmpty) ""
        else failedNames.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
      // Streaming throughput from the queries' OWN progress (rows/sec over
      // triggerExecution): corpus-size-independent, so a per-micro-batch
      // overhead regression shows even when the wall-clock seconds are
      // dominated by replay size (round-13 verdict item 8).
      // The stdout headline keeps only the APPEND/disorder paths (the
      // production signal) at integer precision: the driver's stdout
      // tail capture is ~2k chars and the full map would push the line
      // within ~200 chars of truncating from the front (the round-1/2
      // "parsed: null" failure mode). The file record carries all gates.
      val rps = graft.queries.StreamMetrics.rowsPerSec.toSeq.sorted
        .filter { case (k, _) =>
          allRps || k.contains("append") || k.contains("disorder") }
        .map { case (k, v) =>
          "\"" + k + "\":" + fmt(if (allRps) "%.1f" else "%.0f", v) }
      val rpsJson =
        if (rps.isEmpty) "" else rps.mkString(",\"stream_rps\":{", ",", "}")
      s"""{"metric":"total","value":${fmt(prec, total)},"unit":"sec","iters":$iters,"queries":$qs$cold$failedJson$rpsJson$extraJson,"sf":"$sfDir"}"""
    }
    // Probe-normalized timings (unitless multiples-of-probe) + rolling
    // min-of-sessions, both raw and normalized. The roll seeds from the
    // PREVIOUS BENCH.out.json (rollmin if present, else that session's
    // warm min), so over rounds each query accumulates its
    // best-ever-observed time — the stable signal host drift can't fake.
    // Queries not run this session (prefix runs) keep their prior roll.
    def mapJson(label: String, m: Seq[(String, Double)]): String =
      if (m.isEmpty) ""
      else m.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt("%.6f", v) }
        .mkString(s""","$label":{""", ",", "}")
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out.json"))
    val normalized = results.zipWithIndex.map { case ((n, med, _, _, _), i) =>
      n -> (if (med < 0 || probeAt(i) <= 0) -1.0 else med / probeAt(i)) }
    // Read EVERYTHING consumed from the previous record BEFORE the write
    // below overwrites it (ADVICE r18 high: prevShift was read back AFTER
    // Files.write, so the board-shift persistence arm compared the
    // session with itself and could exit 5 on the FIRST contended run).
    val prevRoll = readPrevMap(outFile, Seq("rollmin", "min"))
    // probe-denominated state is version-gated: a probe workload change
    // makes old normalized values / stored probe pairs a wrong basis
    // (an enlarged probe2 would bias every scan-class ratio low — a
    // BLIND gate, worse than a noisy one), so they reseed this session
    val sameProbeVer = readPrevDouble(outFile, "probe_version")
      .getOrElse(1.0) == probeVersion.toDouble
    if (!sameProbeVer)
      System.err.println(s"[bench] probe version changed -> $probeVersion: " +
        "reseeding probe pairs and normalized rolls (raw rollmin kept)")
    def ifSameVer(m: Map[String, Double]): Map[String, Double] =
      if (sameProbeVer) m else Map.empty
    val prevRollN = ifSameVer(readPrevMap(outFile, Seq("rollmin_norm")))
    val prevRollC = ifSameVer(readPrevMap(outFile, Seq("rollmin_norm_c")))
    val prevRollP1 = ifSameVer(readPrevMap(outFile, Seq("roll_probe1")))
    val prevRollP2 = ifSameVer(readPrevMap(outFile, Seq("roll_probe2")))
    val prevRpsRoll = readPrevMap(outFile, Seq("stream_rps_roll"))
    val prevSamples = readPrevSamples(outFile)
    // persistence basis for the board-shift arm: the last FULL-BOARD
    // sample's shift (a focused run's shift is its own queries' median,
    // not a board statement); scalar fallback covers pre-samples records
    val prevShift = prevSamples.lastOption.map(_.shift)
      .orElse(readPrevDouble(outFile, "global_shift")).getOrElse(1.0)
    // Rolls are frozen and ratio gates informational under any
    // execution-shaping env knob (ADVICE r18: a stream-config run
    // permanently raised stream_rps_roll; a local-cluster run can set
    // batch rolls local[32] can't match — s_pagerank ran FASTER there).
    val cfgEligible = rollEligibleConfig(sys.env.toMap)
    if (!cfgEligible)
      System.err.println("[bench] non-default execution config " +
        "(SPARK_GRAFT_MASTER/CPUS/STREAM_FILES/SF_DIR/BENCH_ITERS " +
        "set): rolling records frozen, ratio gates off")
    val curMin = results.collect { case (n, _, _, mn, _) if mn >= 0 => n -> mn }.toMap
    val rollmin =
      if (!cfgEligible) prevRoll.toSeq
      else (prevRoll.keySet ++ curMin.keySet).toSeq.map { k =>
        k -> math.min(prevRoll.getOrElse(k, Double.MaxValue),
          curMin.getOrElse(k, Double.MaxValue)) }
    val curMinN = results.zipWithIndex.collect {
      case ((n, _, _, mn, _), i) if mn >= 0 && probeAt(i) > 0 =>
        n -> mn / probeAt(i) }.toMap
    val rollminN =
      if (!cfgEligible) prevRollN.toSeq
      else (prevRollN.keySet ++ curMinN.keySet).toSeq.map { k =>
        k -> math.min(prevRollN.getOrElse(k, Double.MaxValue),
          curMinN.getOrElse(k, Double.MaxValue)) }
    // Machine-applied reading rule (r16 verdict item 5): round 16
    // established "regression ⇔ rollmin_norm moved" but a human still had
    // to apply it. A SUSPECT is a query whose SESSION min, in
    // probe-normalized units, moved beyond its prior rolling minimum by
    // more than the SESSION'S OWN global shift explains. Two corrections
    // learned from the first live run (which flagged 125/219 at median
    // ratio 1.65 — a host whose probe ran atypically fast relative to
    // query workloads, not 125 regressions):
    //  - ratios are divided by the session MEDIAN ratio (a whole-board
    //    multiplicative shift is a contention-profile artifact; a REAL
    //    global regression persists across sessions and shows as
    //    `global_shift` > 1 with a flat probe, session after session);
    //  - sub-0.5 s queries are exempt: their rolling min accumulates the
    //    luckiest scheduler quantum ever observed (t_fingerprint
    //    best-ever 42 ms), so ratio-vs-best-ever gates noise there.
    // First-ever-run queries have no prior roll and cannot be suspects.
    // Values are shift-corrected ratios.
    //
    // Round-18 (verdict item 3): the gate runs in CLASS-NORMALIZED units
    // — each query divided by the probe of its own contention class
    // (shuffle → probe 1, scan/broadcast → probe 2). For shuffle-class
    // queries the values are numerically identical to the old
    // probe-1-only rollmin_norm, so their roll history carries over;
    // scan-class queries seed a fresh `rollmin_norm_c` this session (one
    // session of suspect-blindness for that minority beats gating them
    // against a wrong-basis best-ever forever).
    val normalizedC = results.zipWithIndex.map { case ((n, med, _, _, _), i) =>
      val p = classProbeAt(n, i)
      n -> (if (med < 0 || p <= 0) -1.0 else med / p) }
    val curMinC = results.zipWithIndex.collect {
      case ((n, _, _, mn, _), i) if mn >= 0 && classProbeAt(n, i) > 0 =>
        n -> mn / classProbeAt(n, i) }.toMap
    def priorC(k: String): Option[Double] = prevRollC.get(k)
      .orElse(if (finalScanClass(k)) None else prevRollN.get(k))
    // rollmin_norm / rollmin_norm_c are TELEMETRY ONLY since round 19
    // (history continuity); the suspect gate runs on the pair basis below
    val rollminC =
      if (!cfgEligible) prevRollC.toSeq
      else (prevRollC.keySet ++ curMinC.keySet).toSeq.map { k =>
        k -> math.min(priorC(k).getOrElse(Double.MaxValue),
          curMinC.getOrElse(k, Double.MaxValue)) }
    // Pair-basis roll (r18 VERDICT item 3): rollmin keeps the raw
    // best-ever seconds, and roll_probe1/roll_probe2 keep BOTH probes as
    // interpolated at the run position where that raw best was set. A
    // later session then compares SAME-BASIS ratios:
    //   ratio = (session_min / session_class_probe)
    //         / (rollmin   / roll_class_probe)
    // The old basis — min over history of normalized values — paired the
    // fastest query sample ever with the slowest probe ever, a
    // combination no honest later session can match once the probe
    // speeds up (r18: 1.3-2.4x normalized flags while raw minima sat at
    // 1.0-1.2x of best; documented as a "reading rule", now structural).
    // Storing BOTH probes makes the basis class-flip-proof: if measured
    // classification later moves a query between classes, the stored
    // probe of the NEW class still dates from the roll-setting session.
    // Migration: queries with a rollmin but no stored pair seed the pair
    // from THIS session's probes, making their first ratio raw-vs-raw
    // (exactly the manual triage rule: "read RAW min vs rollmin first").
    val posByName = results.zipWithIndex.map {
      case ((n, _, _, _, _), i) => n -> i }.toMap
    val rollminMap = rollmin.toMap
    def rollPair(prev: Map[String, Double],
                 probeF: Int => Double): Seq[(String, Double)] =
      if (!cfgEligible) prev.toSeq
      else rollmin.flatMap { case (k, rm) =>
        val newBest = curMin.get(k).exists(_ <= rm + 1e-12)
        val v = if (newBest) posByName.get(k).map(probeF)
                else prev.get(k).orElse(posByName.get(k).map(probeF))
        v.filter(_ > 0).map(k -> _)
      }
    val rollProbe1 = rollPair(prevRollP1, probeAt)
    val rollProbe2 = rollPair(prevRollP2, probe2At)
    val rollP1Map = rollProbe1.toMap
    val rollP2Map = rollProbe2.toMap
    def pairBasis(k: String): Option[Double] = {
      val p = if (finalScanClass(k)) rollP2Map.get(k) else rollP1Map.get(k)
      for { rm <- rollminMap.get(k) if rm > 0; pp <- p if pp > 0 }
        yield rm / pp
    }
    // Streaming gates are EXEMPT from the probe-normalized ratio gate:
    // their wall time is dominated by per-micro-batch fixed overheads
    // (trigger scheduling, state commit IO) that do not scale with host
    // CPU speed the way the probe does — measured r18: on a fast-probe
    // session every x_stream gate flagged 1.3-1.5x normalized while the
    // RAW session minima were 1.00-1.20x their all-time bests. Their
    // regression signal is the rps gate below (rows/sec from the
    // queries' own progress — host-shared AND corpus-size-independent).
    val suspectFactor = 1.3
    val ratios =
      if (!cfgEligible) Nil
      else curMinC.toSeq.flatMap { case (k, v) =>
        if (k.startsWith("x_stream")) None
        else pairBasis(k).map(b => (k, v / b)) }
    val globalShift = if (ratios.isEmpty) 1.0
      else ratios.map(_._2).sorted.apply(ratios.size / 2)
    // Small ratio samples get NO shift correction (r17 ADVICE): on a
    // focused prefix run the median IS the regressed query's own ratio,
    // so dividing by it would launder any single-query regression into
    // "global shift" and strict would pass a 2x slowdown.
    val shiftBase =
      if (ratios.size < 10) 1.0 else math.max(globalShift, 1.0)
    val suspects = ratios.collect {
      case (k, ratio) if ratio / shiftBase > suspectFactor &&
        curMin.getOrElse(k, 0.0) >= 0.5 => k -> ratio / shiftBase
    }.sortBy(-_._2)
    // Streaming-throughput regression gate (r17 verdict item 6): rps is
    // recorded per gate but nothing gated it — the r17 10-15% dip was
    // only caught by a manual diff. Keep a rolling MAX of each
    // append/disorder gate's session rps; a session whose
    // shift-corrected rps falls below 0.7x its rolling max is an rps
    // suspect (corrected UP by shiftBase: a slow host depresses rps for
    // host reasons the same way it inflates seconds).
    val rpsAll = graft.queries.StreamMetrics.rowsPerSec
    // roll records EVERY gate (telemetry); the suspect gate fires only on
    // the append/disorder family — the production paths, whose rps is
    // high enough that 0.7x is signal, not scheduler noise (x_stream_knn
    // runs at ~4 rows/sec where one slow trigger flips the ratio).
    // Under a non-default execution config the roll is FROZEN (ADVICE
    // r18: one run under a throughput-favorable stream config would
    // permanently raise the max, failing default runs forever after).
    val rpsRoll =
      if (!cfgEligible) prevRpsRoll.toSeq
      else (prevRpsRoll.keySet ++ rpsAll.keySet).toSeq.map { k =>
        k -> math.max(prevRpsRoll.getOrElse(k, 0.0),
          rpsAll.getOrElse(k, 0.0)) }
    // Board-sized runs only (same >=10 rule as shiftBase): the roll is
    // set in full-board context where 200 prior queries warmed the JIT;
    // a fresh-JVM focused run measures ~2/3 of that rps from cold-code
    // context alone (measured r18: window_append 38.4k vs 58.3k roll),
    // which is the run's context, not a regression.
    val rpsSuspects =
      if (!cfgEligible || ratios.size < 10) Nil
      else rpsAll.toSeq.flatMap { case (k, v) =>
        if (!(k.contains("append") || k.contains("disorder"))) None
        else prevRpsRoll.get(k).filter(roll => v * shiftBase < 0.7 * roll)
          .map(roll => k -> v * shiftBase / roll) }.sortBy(_._2)
    // stdout headline carries only start/end (the ~2k stdout tail budget);
    // the file record gets the full checkpoint series
    val probeJson =
      s""","probe_s":{"start":${fmt("%.4f", probeStart)},"end":${fmt("%.4f", probeEnd)}}"""
    val probeSeriesJson =
      probeSeries.map { case (i, v) => "\"" + i + "\":" + fmt("%.4f", v) }
        .mkString(""","probe_series":{""", ",", "}")
    val probe2SeriesJson =
      probe2Series.map { case (i, v) => "\"" + i + "\":" + fmt("%.4f", v) }
        .mkString(""","probe2_series":{""", ",", "}")
    val probe2Json =
      s""","probe2_s":{"start":${fmt("%.4f", probe2Start)},"end":${fmt("%.4f", probe2End)}}"""
    // probe_class records the FINAL classification (measured dominance
    // when observed, else static plan shape); scan_frac carries the raw
    // measured fractions so "measured vs static" is auditable per query
    val classNames = results.collect {
      case (n, m, _, _, _) if m >= 0 => n }
    val probeClassJson =
      if (classNames.isEmpty) ""
      else classNames.sorted.map { k =>
        "\"" + k + "\":\"" +
          (if (finalScanClass(k)) "scan" else "shuffle") + "\"" }
        .mkString(""","probe_class":{""", ",", "}")
    val scanFracs = classNames.flatMap(k =>
      scanLis.scanFraction(k).map(k -> _))
    // ---- self-adjudicating record (r18 VERDICT item 1): everything a
    // reader needs to classify THIS sample rides in the record itself —
    // global shift, probe flatness (BOTH series: ADVICE r18), the best
    // quiet same-commit board total, and a one-line verdict. Full-board
    // eligible runs also append to a rolling `samples` list so later
    // sessions can name the quiet best without archaeology.
    val probe1Vals = probeSeries.map(_._2).toSeq
    val probe2Vals = probe2Series.map(_._2).toSeq
    val probeFlat = seriesFlat(probe1Vals) && seriesFlat(probe2Vals)
    val probeMin = probe1Vals.min
    val probeMax = probe1Vals.max
    val probe2Min = probe2Vals.min
    val probe2Max = probe2Vals.max
    val fullBoard = selected.size >= 200
    val commit = gitCommit
    // the production stream-rps summary rides in the sample so the
    // 16-entry history is standalone (r19 VERDICT item 2)
    val rpsSummary = rpsAll.toMap.filter { case (k, _) =>
      k.contains("append") || k.contains("disorder") }
    val sampleBase = Sample(commit, total, globalShift, probeFlat,
      probeMin, probeMax, probe2Min, probe2Max, probeVersion, sfDir, "",
      rpsSummary)
    val samplesForQuiet =
      if (fullBoard && cfgEligible) prevSamples :+ sampleBase
      else prevSamples
    val quietBest = quietBestTotal(samplesForQuiet, commit)
    val verdict = verdictLine(fullBoard, selected.size, cfgEligible,
      globalShift, probeMin, probeMax, probe2Min, probe2Max, quietBest)
    val sample = sampleBase.copy(verdict = verdict)
    val samplesAll =
      if (fullBoard && cfgEligible) (prevSamples :+ sample).takeRight(16)
      else prevSamples
    val boardShift = cfgEligible && ratios.size >= 10 &&
      globalShift > 1.5 && prevShift > 1.5 && probeFlat
    val adjJson =
      s""","adjudication":{"commit":"$commit","global_shift":${fmt("%.4f", globalShift)},""" +
        s""""probe_flat":$probeFlat,"probe_min":${fmt("%.4f", probeMin)},""" +
        s""""probe_max":${fmt("%.4f", probeMax)},"probe2_min":${fmt("%.4f", probe2Min)},""" +
        s""""probe2_max":${fmt("%.4f", probe2Max)},"probe_version":$probeVersion,""" +
        s""""quiet_best_total":${fmt("%.3f", quietBest)},""" +
        s""""hatch_events":${hatchEvents.size},""" +
        s""""verdict":"$verdict"}"""
    val samplesJson =
      if (samplesAll.isEmpty) ""
      else samplesAll.map(sampleJson).mkString(""","samples":[""", ",", "]")
    val fileExtra = probeJson + probe2Json + probeSeriesJson +
      probe2SeriesJson + probeClassJson +
      mapJson("scan_frac", scanFracs) +
      mapJson("normalized", normalized) +
      mapJson("normalized_c", normalizedC) +
      mapJson("rollmin", rollmin) + mapJson("rollmin_norm", rollminN) +
      mapJson("rollmin_norm_c", rollminC) +
      mapJson("roll_probe1", rollProbe1) +
      mapJson("roll_probe2", rollProbe2) +
      mapJson("suspects", suspects) +
      mapJson("stream_rps_roll", rpsRoll) +
      mapJson("rps_suspects", rpsSuspects) +
      mapJson("session_hatch", hatchEvents.toSeq) +
      (if (hatchRebuilds.isEmpty) ""
       else hatchRebuilds.map("\"" + _ + "\"")
         .mkString(""","hatch_rebuilds":[""", ",", "]")) +
      s""","global_shift":${fmt("%.4f", globalShift)}""" +
      s""","probe_version":$probeVersion""" +
      adjJson + samplesJson
    // Full per-query timings go to a file: the driver's stdout capture keeps
    // only a ~2k-char tail, which truncated the 90-query JSON line from the
    // front in rounds 1-2 ("parsed": null). The file is the machine-readable
    // record; stdout carries a compact headline subset that fits the tail.
    java.nio.file.Files.write(outFile,
      json(results, "%.6f", withCold = true,
        extraJson = fileExtra).getBytes("UTF-8"))
    System.err.println(s"[bench] full timings -> ${outFile.toAbsolutePath}")
    // stderr table: per-gate streaming throughput + peak state size (the
    // PLANS evidence row for provider/state comparisons)
    val sm = graft.queries.StreamMetrics.summary
    if (sm.nonEmpty) {
      System.err.println("[bench] streaming gates: rows/sec, peak state rows, peak state bytes")
      sm.foreach { case (n, rps, sr, sb) =>
        val rows = sr.fold("untracked")(_.toString)
        System.err.println(f"[bench]   $n%-32s rps=$rps%10.1f stateRows=$rows%9s stateBytes=$sb%12d") }
    }
    // probe_s rides on the stdout headline too (16 chars — the judge can
    // normalize the driver-recorded BENCH_r{N}.json without the file)
    System.err.println(f"[bench] global_shift (median min-norm vs rolling " +
      f"min-norm): $globalShift%.2fx" +
      (if (globalShift > 1.3) " — whole-board shift; if it persists across" +
        " sessions with a flat probe, investigate globally" else ""))
    if (suspects.nonEmpty) {
      System.err.println(s"[bench] SUSPECTS — session min-norm > " +
        f"${suspectFactor}%.1fx prior rolling min-norm AFTER dividing out " +
        "the session's global shift (≥0.5s queries only):")
      suspects.foreach { case (k, r) =>
        System.err.println(f"[bench]   $k%-28s $r%.2fx") }
    }
    if (rpsSuspects.nonEmpty) {
      System.err.println("[bench] RPS SUSPECTS — shift-corrected session " +
        "rps < 0.7x rolling max:")
      rpsSuspects.foreach { case (k, r) =>
        System.err.println(f"[bench]   $k%-32s ${r * 100}%.0f%% of rolling max") }
    }
    // Board-wide-regression arm of the strict gate (r17 ADVICE): a REAL
    // global regression is fully absorbed by the shift division above, so
    // --strict additionally fails when the shift itself is large, the
    // session's own probe checkpoints (BOTH series) were flat (not a
    // transient stall), and the PREVIOUS board sample already showed the
    // same shift — the "persists across sessions with a flat probe"
    // reading rule, applied mechanically. Board runs only (small samples
    // have shiftBase=1; their regressions surface as per-query suspects).
    if (boardShift)
      System.err.println(f"[bench] BOARD-WIDE SHIFT: global_shift " +
        f"$globalShift%.2fx after $prevShift%.2fx last board sample, with " +
        "flat in-session probes — a persisting whole-board regression, " +
        "not a contention artifact")
    System.err.println(s"[bench] verdict: $verdict")
    println(json(results.filter(r => headline(r._1)), "%.3f",
      withCold = false, allRps = false, extraJson = probeJson + adjJson))
    spark.stop()
    if (strict) {
      if (boardShift) {
        System.err.println("[bench] --strict: exiting 5 (persisting " +
          "board-wide shift — rerun on a quiet host to confirm, then " +
          "bisect the board)")
        sys.exit(5)
      }
      if (suspects.nonEmpty) {
        System.err.println(s"[bench] --strict: exiting 4 " +
          s"(${suspects.size} suspect(s))")
        sys.exit(4)
      }
      if (rpsSuspects.nonEmpty) {
        System.err.println(s"[bench] --strict: exiting 6 " +
          s"(${rpsSuspects.size} rps suspect(s))")
        sys.exit(6)
      }
    }
  }
}
