package perfbench

import graft.dedup.Dedup
import graft.pack.Packing
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** `curation_batch`: a closed loop with one client, one full corpus pass
  * per iteration: `Dedup.exact`, `Dedup.jaccardPairsExact`,
  * `Dedup.dedupClusters`, one document kept per cluster, a
  * `TextAnalysis.qualityScore` filter, `Packing.packSequences`, and a
  * `noop` write of every column. Pair generation is paid inside every
  * pass.
  */
object Curation {
  val SetupRounds = 3
  val QualityMin = 0.95
  val Capacity = 2048L
  val Schema: StructType = StructType.fromDDL("id BIGINT, text STRING")

  def load(spark: SparkSession, c: Corpus, cores: Int): DataFrame = {
    val rows = c.ids.indices.map(i => Row(c.ids(i), c.texts(i)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, cores * 2), Schema)
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  /** Check row of a pass: survivors, their id xor-hash, id sum, token
    * total and last bin. */
  final case class Out(n: Long, xor: Long, idSum: Long, tokens: Long, maxBin: Long) {
    def matches(c: Corpus): Boolean =
      n == c.survivors.size && idSum == c.survivors.sum && tokens == c.survivorTokens &&
        xor == c.survivors.foldLeft(0L)((h, id) => h ^ XXH64.hashLong(id, 42L))
  }

  private def keepOnePerCluster(ex: DataFrame, labels: DataFrame): DataFrame =
    ex.join(labels, Seq("id"), "left")
      .filter(col("label").isNull || col("label") === col("id")).drop("label")

  private def finish(q: DataFrame, packed: DataFrame, tracer: Tracer): Out = {
    val obs = Observation("curation_out")
    tracer.span("sink.noop_write")(Etl.noop(q.join(packed, "id").observe(obs,
      count(lit(1)).as("n"), expr("bit_xor(xxhash64(id))").as("x"),
      sum(col("id")).as("s"), sum(col("n_toks")).as("t"), max(col("bin")).as("b"))))
    val r = obs.get
    def l(k: String) = Option(r(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Out(l("n"), l("x"), l("s"), l("t"), l("b"))
  }

  /** One untraced pass: the chain as a user writes it. */
  def pass(docs: DataFrame, inject: Option[DataFrame], tracer: Tracer): Out = {
    val ex = Dedup.exact(docs, "text", "id")
    val pairs = Dedup.jaccardPairsExact(ex, "text", "id")
    val labels = Dedup.dedupClusters(pairs)
    val kept0 = keepOnePerCluster(ex, labels)
    val kept = inject.fold(kept0)(kept0.unionByName(_))
    val q = kept.withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= QualityMin)
    finish(q, Packing.packSequences(q, "text", "id", Capacity), tracer)
  }

  final class StageStats {
    val ms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var candidates, verified, docsIn, kept, quality, clusterJobs = 0L
    var cachePeak = 0L
    def add(k: String, v: Double): Unit = ms(k) = ms.getOrElse(k, 0.0) + v
  }

  /** One traced pass: every stage materialized before the next starts, so
    * each layer's time stands alone. */
  def tracedPass(spark: SparkSession, docs: DataFrame, inject: Option[DataFrame],
                 tracer: Tracer, layers: Layers, st: StageStats): Out = {
    val mine = ArrayBuffer.empty[DataFrame]
    def stage[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span(name)(body)
      st.add(name, (System.nanoTime() - t0) / 1e6)
      val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      st.cachePeak = math.max(st.cachePeak, bytes)
      r
    }
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); mine += p
      (p, p.count())
    }
    val (ex, nEx) = stage("dedup.exact")(materialize(Dedup.exact(docs, "text", "id")))
    val (pairs, nPairs) = stage("dedup.pairs") {
      val p = Dedup.jaccardPairsExact(ex, "text", "id")
      (p, p.count())
    }
    st.candidates += PlanMetrics.candidateRows(pairs.queryExecution.executedPlan)
    st.verified += nPairs
    layers.drain()
    val jobs0 = layers.exec.totalJobs
    val (labels, _) = stage("dedup.clusters")(materialize(Dedup.dedupClusters(pairs)))
    layers.drain()
    st.clusterJobs += layers.exec.totalJobs - jobs0
    val (kept, nKept) = stage("dedup.keep") {
      val k = keepOnePerCluster(ex, labels)
      materialize(inject.fold(k)(k.unionByName(_)))
    }
    val (q, nQ) = stage("text.quality")(materialize(
      kept.withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= QualityMin)))
    val (packed, _) = stage("pack")(materialize(Packing.packSequences(q, "text", "id", Capacity)))
    val out = stage("sink")(finish(q, packed, tracer))
    st.docsIn += docs.count(); st.kept += nKept; st.quality += nQ
    mine.foreach(_.unpersist(blocking = true))
    out
  }

  final case class Setup(spark: SparkSession, corpus: Corpus, docs: DataFrame,
                         setupS: Seq[Double], warmOk: Boolean)

  def setup(a: Args, cores: Int, tracer: Tracer): Setup = {
    var spark: SparkSession = null
    var corpus: Corpus = null
    var docs: DataFrame = null
    val setupS = ArrayBuffer.empty[Double]
    var warmOk = true
    for (_ <- 0 until SetupRounds) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Env.session(cores)
      corpus = CorpusGen.generate(a.seed)
      docs = load(spark, corpus, cores)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    // warm-up: one untimed pass over the corpus in the final session, so
    // every timed pass runs on a warm JVM (not part of `setup_s`)
    warmOk &= Env.releaseCaches() && pass(docs, None, tracer).matches(corpus)
    Env.releaseCaches()
    Setup(spark, corpus, docs, setupS.toSeq, warmOk)
  }

  def injected(s: Setup, a: Args): Option[DataFrame] =
    if (a.inject.contains("dup")) Some(s.docs.filter(col("id") === s.corpus.spareDuplicate))
    else None

  def run(a: Args): Result = {
    val cores = Env.cores(reserveForGenerator = false)
    val tracer = new Tracer(false)
    val s = setup(a, cores, tracer)
    val c = s.corpus
    val report = ArrayBuffer[(String, Any)](
      "traffic" -> (Seq("loop" -> "closed, 1 client", "documents" -> c.ids.length,
        "quality_min" -> QualityMin, "pack_capacity" -> Capacity) ++ CorpusParams().describe),
      "settings" -> Env.settings(s.spark),
      "setup_s_samples" -> s.setupS,
      "warmup_checks_ok" -> s.warmOk,
      "input_digest" -> c.digest,
      "truth" -> Seq("clusters" -> c.clusters, "planted_duplicates" -> c.plantedDuplicates,
        "survivors" -> c.survivors.size, "survivor_tokens" -> c.survivorTokens))
    try {
      val inj = injected(s, a)
      val st = new StageStats
      /** Passes until `seconds` of passes are done; with `layers`, odd
        * passes are traced (stage by stage) and even ones run plain. */
      def loop(layers: Option[Layers]): Seq[(Double, Boolean, Out, Boolean)] = {
        val out = ArrayBuffer.empty[(Double, Boolean, Out, Boolean)]
        var total = 0.0
        while (out.isEmpty || total < a.seconds * 1000 ||
            (layers.isDefined && out.size % 2 == 1)) {
          val guard = Env.releaseCaches()
          val i = out.size
          tracer.iter = i
          layers.foreach { l =>
            l.drain()
            tracer.enabled = i % 2 == 1
            s.spark.sparkContext.setJobGroup(
              s"${if (tracer.enabled) "traced" else "plain"}-$i", "curation_batch")
          }
          val t0 = System.nanoTime()
          val o = tracer.span("pass")(layers match {
            case Some(l) if tracer.enabled => tracedPass(s.spark, s.docs, inj, tracer, l, st)
            case _ => pass(s.docs, inj, tracer)
          })
          val ms = (System.nanoTime() - t0) / 1e6
          out += ((ms, guard && o.matches(c), o, tracer.enabled))
          total += ms
        }
        layers.foreach { l => l.drain(); tracer.enabled = false; s.spark.sparkContext.clearJobGroup() }
        Env.releaseCaches()
        out.toSeq
      }
      if (!a.trace) {
        val passes = loop(None)
        val ms = passes.map(_._1)
        val failed = passes.count(!_._2).toLong + (if (s.warmOk) 0 else 1)
        val rps = c.ids.length * passes.size / (ms.sum / 1000)
        report ++= Seq("passes" -> passes.size, "pass_ms_samples" -> ms,
          "latency_note" -> ("closed loop: every record of a pass reaches the sink when " +
            "the pass ends, so record latency is the pass time"))
        Result(passes.size, failed, Seq(
          Metric("setup_s", Stats.median(s.setupS), "s"),
          Metric("records_per_s", rps, "1/s"),
          Metric("batch_ms_p50", Stats.median(ms), "ms"),
          Metric("batch_ms_p90", Stats.quantile(ms, 0.9), "ms"),
          Metric("stream_sustained_rps", rps, "1/s"),
          Metric("stream_latency_ms_p50.low", Stats.median(ms), "ms"),
          Metric("stream_latency_ms_p99.low", Stats.quantile(ms, 0.99), "ms"),
          Metric("stream_latency_ms_p50.high", Stats.median(ms), "ms"),
          Metric("stream_latency_ms_p99.high", Stats.quantile(ms, 0.99), "ms")), report.toSeq)
      } else {
        val layers = new Layers(s.spark, tracer)
        layers.reset()
        val all = loop(Some(layers))
        val (traced, plain) = all.partition(_._4)
        val live = graft.CacheScope.liveCount + graft.CacheScope.sessionLiveCount
        val n = traced.size.toDouble
        val last = traced.last._3
        val wallMs = traced.map(_._1).sum
        val (pm, tm) = (Stats.median(plain.map(_._1)), Stats.median(traced.map(_._1)))
        val metrics = layers.planMetrics ++ layers.exec.metrics(wallMs, cores, "traced-") ++ Seq(
          Metric("dedup.exact_ms", st.ms("dedup.exact") / n, "ms"),
          Metric("dedup.pairs_ms", st.ms("dedup.pairs") / n, "ms"),
          Metric("dedup.clusters_ms", st.ms("dedup.clusters") / n, "ms"),
          Metric("dedup.candidates", st.candidates / n, "count"),
          Metric("dedup.pairs_verified", st.verified / n, "count"),
          Metric("dedup.verify_yield", if (st.candidates > 0) st.verified.toDouble / st.candidates else 0, "frac"),
          Metric("dedup.cluster_jobs", st.clusterJobs / n, "count"),
          Metric("dedup.docs_removed", (st.docsIn - st.kept) / n, "count"),
          Metric("text.quality_ms", st.ms("text.quality") / n, "ms"),
          Metric("text.kept_frac", if (st.kept > 0) st.quality.toDouble / st.kept else 0, "frac"),
          Metric("pack.ms", st.ms("pack") / n, "ms"),
          Metric("pack.bins", (last.maxBin + 1).toDouble, "count"),
          Metric("pack.fill_frac", last.tokens.toDouble / ((last.maxBin + 1) * Capacity), "frac"),
          Metric("cache.bytes_peak", st.cachePeak.toDouble, "bytes"),
          Metric("cache.live_after_release", live.toDouble, "count"),
          Metric("trace.overhead_ms", tm - pm, "ms"),
          Metric("trace.overhead_frac", (tm - pm) / pm, "frac"))
        layers.detach()
        report ++= Seq("untraced_pass_ms" -> plain.map(_._1), "traced_pass_ms" -> traced.map(_._1),
          "stage_ms_total" -> st.ms.toSeq,
          "ratio_bases" -> Seq(
            "dedup.verify_yield" -> s"pairs_verified ${st.verified} / candidates ${st.candidates}",
            "text.kept_frac" -> s"quality survivors ${st.quality} / kept after dedup ${st.kept}",
            "pack.fill_frac" -> s"tokens ${last.tokens} / (bins ${last.maxBin + 1} x capacity $Capacity)",
            "exec.busy_frac" -> s"task_run_ms / (traced passes' wall $wallMs ms x $cores cores)",
            "trace.overhead_frac" -> s"(median traced - median untraced pass) / $pm ms"))
        Trace.writeOut(a, tracer, metrics, report.toSeq)
        Result(all.size, all.count(!_._2).toLong, metrics, report.toSeq)
      }
    } finally s.spark.stop()
  }
}
