package perfbench

/** Entry point: `--workload <etl_stream|curation_batch> --seed <n>
  * --seconds <s> --trace <0|1> [--inject drop|dup]`.
  *
  * The last stdout line is the result object (`correct`, `attempted`,
  * `failed`, `metrics`); the line before it is the run report (traffic
  * parameters, input digest, effective settings, sample counts). A traced
  * run also writes its span file and per-layer summary to the output
  * directory.
  */
object Main {
  /** The benchmark's own directory (holds `etl.conf`). */
  def home: java.io.File =
    new java.io.File(sys.props.getOrElse("perfbench.home", "perfbench"))

  /** Each workload with the faults it can inject: the stream's sender can
    * lose a record or receive one twice; curation can keep a planted
    * duplicate. */
  val Workloads: Map[String, Set[String]] = Map(
    "etl_stream" -> Set("drop", "dup"), "curation_batch" -> Set("dup"))

  /** End-to-end metrics, printed by every workload with tracing off. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "1/s",
    "batch_ms_p50" -> "ms", "batch_ms_p90" -> "ms",
    "stream_sustained_rps" -> "1/s",
    "stream_latency_ms_p50.low" -> "ms", "stream_latency_ms_p99.low" -> "ms",
    "stream_latency_ms_p50.high" -> "ms", "stream_latency_ms_p99.high" -> "ms")

  /** Per-layer metrics, printed by every traced run; a layer a workload
    * does not exercise reads 0. */
  def perLayer: Seq[(String, String)] = {
    val p = Etl.compile(new BenchRegistry)
    val ops = p.ops.indices.flatMap { i =>
      val n = s"ops.${Etl.opName(p, i)}"
      Seq(s"$n.rows_in" -> "count", s"$n.rows_out" -> "count", s"$n.marginal_ms" -> "ms")
    }
    Seq("pipeline.compile_ms" -> "ms", "pipeline.ops" -> "count") ++ ops ++
      Seq("plan.actions" -> "count", "plan.analysis_ms" -> "ms",
        "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
        "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
        "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
        "exec.scheduler_delay_ms" -> "ms", "exec.shuffle_write_bytes" -> "bytes",
        "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_fetch_wait_ms" -> "ms",
        "exec.spill_bytes" -> "bytes", "exec.failed_tasks" -> "count",
        "exec.busy_frac" -> "frac",
        "io.send_calls" -> "count", "io.rows_sent" -> "count",
        "io.bytes_sent" -> "bytes", "io.send_ms" -> "ms", "io.batch_fill" -> "frac",
        "schema.lookups" -> "count", "schema.fetches" -> "count") ++
      EtlStream.LayerMetrics ++
      Seq("dedup.exact_ms" -> "ms", "dedup.pairs_ms" -> "ms",
        "dedup.clusters_ms" -> "ms", "dedup.candidates" -> "count",
        "dedup.pairs_verified" -> "count", "dedup.verify_yield" -> "frac",
        "dedup.cluster_jobs" -> "count", "dedup.docs_removed" -> "count",
        "text.quality_ms" -> "ms", "text.kept_frac" -> "frac",
        "pack.ms" -> "ms", "pack.bins" -> "count", "pack.fill_frac" -> "frac",
        "cache.bytes_peak" -> "bytes", "cache.live_after_release" -> "count",
        "trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "frac")
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> [--inject drop|dup]")
    sys.exit(2)
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "inject")
    kv.keys.filterNot(known).foreach(k => usage(s"unknown option --$k"))
    def num(k: String): Long =
      kv.get(k).flatMap(_.toLongOption).getOrElse(usage(s"--$k needs a number"))
    val w = kv.getOrElse("workload", usage("--workload is required"))
    val injections = Workloads.getOrElse(w, usage(s"unknown workload '$w'"))
    val seconds = num("seconds")
    if (seconds < 1) usage("--seconds must be >= 1")
    val trace = kv.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got '$t'")
    }
    val inject = kv.get("inject")
    inject.filterNot(injections).foreach(i => usage(s"$w cannot inject '$i'"))
    Args(w, num("seed"), seconds.toInt, trace, inject, new java.io.File(home, "out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // Execution-shaping knobs of the library must not leak into a
    // measurement: the session defaults are what is benchmarked.
    val knobs = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    if (knobs.nonEmpty) {
      System.err.println(s"perfbench: refusing to run with ${knobs.mkString(", ")} set")
      sys.exit(3)
    }
    a.outDir.mkdirs()
    try report(a)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }
    System.out.flush()
    sys.exit(0)
  }

  private def report(a: Args): Unit = {
    val r = a.workload match {
      case "etl_stream" => EtlStream.run(a)
      case "curation_batch" => Curation.run(a)
    }
    val catalog = if (a.trace) perLayer else EndToEnd
    val got = r.metrics.map(m => m.name -> m).toMap
    val unknown = got.keySet -- catalog.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalog: $unknown")
    val metrics = catalog.map { case (name, unit) =>
      val m = got.get(name) match {
        case Some(m) => m
        case None if a.trace => Metric(name, 0.0, unit)
        case None => throw new IllegalStateException(s"${a.workload} did not measure $name")
      }
      require(m.unit == unit, s"$name: unit ${m.unit}, catalog says $unit")
      name -> Seq("value" -> m.value, "unit" -> unit)
    }
    println(Json.obj("report" -> (Seq("workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "inject" -> a.inject.getOrElse("none"),
      "failed_frac" -> r.failed.toDouble / math.max(1L, r.attempted)) ++ r.report)))
    println(Json.obj("correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> metrics))
  }
}
