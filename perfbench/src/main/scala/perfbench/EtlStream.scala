package perfbench

import graft.pipeline.Pipeline
import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `etl_stream`: an open loop. A generator thread writes small envelope
  * files on a fixed schedule, stepping through fixed input rates; the
  * stream is `StreamingOps.fileSource`, the morphline's commands up to its
  * sink, `StreamingOps.streamingDedupWithin` on the event id, then the
  * morphline's `kafkaProducer` into the benchmark's sender, run by a
  * `noop` stream writer. Each event is timed from the moment its file was
  * due to be written to its arrival at the sender.
  *
  * A window has two phases, each driven until the sink has every event:
  * the low and the high rate, whose latency is read, then one step at a
  * rate the stream cannot keep up with, whose backlog it must clear.
  */
object EtlStream {
  val TickMs = 250
  /** Fixed input rates (events per second) whose latency is read. */
  val LowRate = 400
  val HighRate = 1600
  /** Offered above what the stream can take, so its backlog grows through
    * the step and the rate it clears it at is `stream_sustained_rps`: about
    * three times the drain rate measured for the current code (README). */
  val OverloadRate = 12000
  val WatermarkDelay = "10 seconds"
  /** Share of each step whose events are not timed, so the latency of a
    * rate is read after the stream has adjusted to it. */
  val SettleShare = 1.0 / 3
  val RedeliveryShare = 0.03
  val RedeliveryTicks = (2, 10)
  val OutOfOrderShare = 0.05
  val MaxDisorderTicks = 3
  /** Set-up warm-up: each round brings its fresh query through its first
    * triggers. */
  val SetupWarm = (400, 4)
  /** Before timing, the final query runs at the high rate until the JIT
    * has settled (not part of `setup_s`). */
  val PreWarm = (HighRate, 8)
  val SetupRounds = 3
  val DrainTimeoutMs = 60000L

  val Phases = Seq("latestOffset", "queryPlanning", "getBatch", "addBatch",
    "walCommit", "commitOffsets")
  val RocksDbMetrics = Seq(
    "rocksdbCommitFlushLatency" -> "ms", "rocksdbCommitCheckpointLatency" -> "ms",
    "rocksdbGetCount" -> "count", "rocksdbPutCount" -> "count",
    "rocksdbSstFileSize" -> "bytes", "rocksdbTotalBytesWritten" -> "bytes")
  val LayerMetrics: Seq[(String, String)] =
    Phases.flatMap(p => Seq(s"streaming.${p}_ms.sum" -> "ms", s"streaming.${p}_ms.p50" -> "ms")) ++
      Seq("streaming.triggers" -> "count", "streaming.rows_per_trigger" -> "count",
        "streaming.backlog_files_max" -> "count", "streaming.generator_lag_ms" -> "ms",
        "streaming.state_commit_ms" -> "ms", "streaming.state_rows_updated" -> "count",
        "streaming.state_rows_dropped_late" -> "count", "streaming.state_mem_bytes" -> "bytes") ++
      RocksDbMetrics.map { case (m, u) => s"streaming.rocksdb.$m" -> u }

  /** The window's phases as (rate, ticks) steps: `seconds` split 2:2:1
    * between the low, the high and the overload rate (the overload step's
    * backlog takes several times its length to clear). */
  def phases(seconds: Int): Seq[Seq[(Int, Int)]] = {
    val fifth = math.max(2, seconds * 1000 / TickMs / 5)
    Seq(Seq((LowRate, 2 * fifth), (HighRate, 2 * fifth)), Seq((OverloadRate, fifth)))
  }

  def traffic(seconds: Int): Seq[(String, Any)] = Seq(
    "loop" -> "open", "tick_ms" -> TickMs,
    "phases" -> phases(seconds).map(_.map { case (r, t) => Seq("rate_per_s" -> r, "ticks" -> t) }),
    "watermark_delay" -> WatermarkDelay,
    "untimed_step_start_share" -> SettleShare,
    "redelivery_share" -> RedeliveryShare,
    "redelivery_delay_ticks" -> Seq(RedeliveryTicks._1, RedeliveryTicks._2),
    "out_of_order_share" -> OutOfOrderShare, "max_disorder_ticks" -> MaxDisorderTicks,
    "setup_warmup" -> Seq("rate_per_s" -> SetupWarm._1, "ticks" -> SetupWarm._2),
    "pre_measure_warmup" -> Seq("rate_per_s" -> PreWarm._1, "ticks" -> PreWarm._2)) ++
    EtlParams().describe

  /** One event as offered, and whether this offer is a planted
    * redelivery. */
  final case class Offer(e: Event, redelivery: Boolean)

  /** The generator thread: writes one JSON-lines file per tick. Content
    * and schedule derive from the seed; only the event timestamps are
    * wall-clock (they must be, for the watermark). */
  final class Generator(seed: Long, gen: EtlGen, inDir: File, stageDir: File,
                        steps: Seq[(Int, Int)], tracer: Tracer,
                        var fileSeq: Int) extends Thread("perfbench-generator") {
    setDaemon(true)
    val due = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    val events = new ConcurrentHashMap[java.lang.Long, Event]()
    val stepOfId = new ConcurrentHashMap[java.lang.Long, Integer]()
    val offered = Array.fill(steps.size)(new AtomicLong)
    val stepStart = new Array[Long](steps.size)
    val stepEnd = new Array[Long](steps.size)
    val redelivered = ArrayBuffer.empty[Long]
    val outOfOrder = new AtomicLong
    val lagMs = ArrayBuffer.empty[Double]
    /** Per written file: the ids of first deliveries the sink must see. */
    val fileIds = ArrayBuffer.empty[Array[java.lang.Long]]
    val digest = new Digest.Running
    @volatile var failure: Throwable = _

    override def run(): Unit = try loop() catch { case t: Throwable => failure = t }

    private def escape(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

    private def line(e: Event): String =
      s"""{"key":"${e.user}","value":"${escape(e.valueJson)}","topic":"${e.topic}",""" +
        s""""partition":${e.partition},"offset":${e.offset},"timestamp":"${java.time.Instant.ofEpochMilli(e.ts)}"}"""

    private def loop(): Unit = {
      val rnd = new SplittableRandom(seed)
      val ticks = steps.map(_._2).sum
      val pending = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Offer]]
      val t0 = System.nanoTime() + 50000000L
      var k = 0
      var carry = 0.0
      var stepIdx = 0
      var stepTick = 0
      while (k < ticks) {
        while (stepTick >= steps(stepIdx)._2) { stepIdx += 1; stepTick = 0; carry = 0 }
        val dueNs = t0 + k.toLong * TickMs * 1000000L
        val sleepNs = dueNs - System.nanoTime()
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
        val actual = System.nanoTime()
        lagMs += (actual - dueNs) / 1e6
        if (stepTick == 0) stepStart(stepIdx) = dueNs
        tracer.span("generator.tick") {
          val rate = steps(stepIdx)._1
          carry += rate * TickMs / 1000.0
          val n = carry.toInt
          carry -= n
          val now = System.currentTimeMillis()
          val out = ArrayBuffer.empty[Offer]
          out ++= pending.remove(k).getOrElse(Nil)
          for (_ <- 0 until n) {
            val e = gen.event(rnd, now)
            val id = java.lang.Long.valueOf(e.id)
            events.put(id, e)
            digest.add(s"${e.id}|${e.user}|${e.kind}|${e.amount}|${e.status}|${e.method}|" +
              s"${e.topic}|${e.partition}|${e.offset}|${e.body}")
            val delayTicks =
              if (rnd.nextDouble() < OutOfOrderShare) 1 + rnd.nextInt(MaxDisorderTicks) else 0
            val release = k + delayTicks
            if (delayTicks > 0) outOfOrder.incrementAndGet()
            if (rnd.nextDouble() < RedeliveryShare) {
              val at = release + RedeliveryTicks._1 +
                rnd.nextInt(RedeliveryTicks._2 - RedeliveryTicks._1 + 1)
              if (at < ticks) {
                pending.getOrElseUpdate(at, ArrayBuffer.empty) += Offer(e, redelivery = true)
                redelivered += e.id
              }
            }
            if (release < ticks) {
              if (delayTicks == 0) out += Offer(e, redelivery = false)
              else pending.getOrElseUpdate(release, ArrayBuffer.empty) += Offer(e, redelivery = false)
              // the step an event counts toward is the one it is offered in
            } else events.remove(id)
          }
          if (out.nonEmpty) {
            out.foreach { o =>
              if (!o.redelivery) {
                val id = java.lang.Long.valueOf(o.e.id)
                due.put(id, dueNs)
                stepOfId.put(id, stepIdx)
                offered(stepIdx).incrementAndGet()
              }
            }
            val name = f"f-$fileSeq%08d.json"
            fileSeq += 1
            val staged = new File(stageDir, name)
            val w = new java.io.PrintWriter(staged, "UTF-8")
            try out.foreach(o => w.println(line(o.e))) finally w.close()
            Files.move(staged.toPath, new File(inDir, name).toPath,
              StandardCopyOption.ATOMIC_MOVE)
            fileIds.synchronized(fileIds += out.filter(o => !o.redelivery && !o.e.dropped)
              .map(o => java.lang.Long.valueOf(o.e.id)).toArray)
          }
        }
        stepEnd(stepIdx) = dueNs + TickMs * 1000000L
        stepTick += 1
        k += 1
      }
    }

    def filesWritten: Int = fileIds.synchronized(fileIds.size)
    private var donePtr = 0
    /** Files whose every expected event has reached `sender`; files are
      * read in order, so this advances monotonically. */
    def filesDone(sender: Sender): Int = fileIds.synchronized {
      while (donePtr < fileIds.size &&
          fileIds(donePtr).forall(id => sender.firstArrival.containsKey(id))) donePtr += 1
      donePtr
    }
  }

  /** Progress of the running query, as the listener delivers it. */
  final class Progress(spark: SparkSession) extends StreamingQueryListener {
    val all = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    /** Driver planning phases of each micro-batch's IncrementalExecution
      * (micro-batches do not reach QueryExecutionListener). */
    val planned = new AtomicLong
    val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      all.add(e.progress)
      Option(spark.streams.get(e.progress.id)).collect {
        case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
          w.streamingQuery.lastExecution
      }.filter(qe => qe != null && qe.currentBatchId == e.progress.batchId).foreach { qe =>
        planned.incrementAndGet()
        qe.tracker.phases.foreach { case (k, v) =>
          phaseMs.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v.durationMs)
        }
      }
    }
    def planMetrics: Seq[Metric] = {
      val n = math.max(1L, planned.get).toDouble
      def ms(k: String) = Option(phaseMs.get(k)).map(_.get).getOrElse(0L) / n
      Seq(Metric("plan.actions", planned.get.toDouble, "count"),
        Metric("plan.analysis_ms", ms("analysis"), "ms"),
        Metric("plan.optimization_ms", ms("optimization"), "ms"),
        Metric("plan.planning_ms", ms("planning"), "ms"))
    }
    def since(fromMs: Long): Seq[StreamingQueryProgress] =
      all.asScala.toSeq.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= fromMs)
  }

  final class Stream(val spark: SparkSession, val dir: File, val pipeline: Pipeline,
                     val query: StreamingQuery, val progress: Progress) {
    val inDir = new File(dir, "in")
    val stageDir = new File(dir, "stage")
    var fileSeq = 0
    def stop(): Unit = {
      query.stop()
      spark.streams.removeListener(progress)
    }
  }

  def start(spark: SparkSession, dir: File, pipeline: Pipeline): Stream = {
    val inDir = new File(dir, "in"); inDir.mkdirs()
    new File(dir, "stage").mkdirs()
    val progress = new Progress(spark)
    spark.streams.addListener(progress)
    val src = StreamingOps.fileSource(spark, EtlGen.Schema, inDir.getPath, "json")
    val body = Pipeline(pipeline.id, pipeline.ops.init)(src)
    val deduped = StreamingOps.streamingDedupWithin(body, "timestamp", WatermarkDelay,
      Seq("event_id"))
    val q = pipeline.ops.last(deduped).writeStream.format("noop")
      .option("checkpointLocation", new File(dir, "checkpoint").getPath)
      .queryName(s"etl_stream_${dir.getName}")
      .start()
    new Stream(spark, dir, pipeline, q, progress)
  }

  /** Drive `steps` through the stream and wait until every expected event
    * has reached `sender`. */
  def drive(st: Stream, sender: Sender, seed: Long, gen: EtlGen, steps: Seq[(Int, Int)],
            tracer: Tracer, sampler: Option[ArrayBuffer[(Long, Int)]]): Generator = {
    val g = new Generator(seed, gen, st.inDir, st.stageDir, steps, tracer, st.fileSeq)
    g.start()
    while (g.isAlive) {
      sampler.foreach(_ += ((System.nanoTime(), g.filesWritten - g.filesDone(sender))))
      Thread.sleep(TickMs / 2)
    }
    if (g.failure != null) throw g.failure
    st.fileSeq = g.fileSeq
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    while (g.filesDone(sender) < g.filesWritten && System.currentTimeMillis() < deadline) {
      st.query.exception.foreach(e => throw e)
      Thread.sleep(20)
    }
    g
  }

  /** One rate step as measured: `delivered_per_s` is its events over the
    * time from its first due tick to the arrival of its last event, and
    * `drain_s` how long after its last tick that event arrived. Latency is
    * read over the events due after the step's settling share. */
  final case class StepOut(rate: Int, events: Int, offeredPerS: Double, deliveredPerS: Double,
                           drainS: Double, timed: Int, p50: Double, p99: Double)

  final case class Window(gens: Seq[Generator], sender: Sender, steps: Seq[StepOut],
                          expected: Int, failed: Long, phaseS: Seq[Double],
                          phaseProgress: Seq[Seq[StreamingQueryProgress]],
                          backlog: Seq[(Long, Int)], wallS: Double) {
    def progress: Seq[StreamingQueryProgress] = phaseProgress.flatten
  }

  /** One measured window: each phase driven until the sink has all of it,
    * then the output check over every phase. */
  def measure(st: Stream, a: Args, seedSalt: Long, idBase: Long, tracer: Tracer,
              phases: Seq[Seq[(Int, Int)]]): Window = {
    val sender = new Sender(1000, trackIds = true).install()
    a.inject.foreach {
      case "drop" => sender.dropOne.set(true)
      case "dup" => sender.dupOne.set(true)
    }
    val gen = new EtlGen(a.seed + seedSalt)
    gen.skipIds(idBase)
    val samples = ArrayBuffer.empty[(Long, Int)]
    val startsMs = ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    val gens = tracer.span("stream.window")(phases.zipWithIndex.map { case (steps, i) =>
      startsMs += System.currentTimeMillis()
      drive(st, sender, a.seed + seedSalt + 0x9e3779b9L * i, gen, steps, tracer, Some(samples))
    })
    val wallS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.PerfbenchBridge.drainListeners(st.spark.sparkContext)
    val all = st.progress.since(startsMs.head)
    val phaseProgress = startsMs.indices.map { i =>
      val end = startsMs.lift(i + 1).getOrElse(Long.MaxValue)
      all.filter { p =>
        val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
        ms >= startsMs(i) && ms < end
      }
    }
    val truth = new EtlGen.Truth
    val expectedOf = gens.map(g => g.due.keySet.asScala.toSeq.map(id => g.events.get(id))
      .filterNot(_.dropped))
    val expected = expectedOf.flatten
    val exp = new Digest.Multiset
    expected.foreach(e => exp.add(truth.recordHash(e)))
    val expIds = expected.map(_.id).toSet
    val wrong = expected.count(e => Option(sender.deliveries.get(e.id)).forall(_.get != 1)) +
      sender.deliveries.keySet.asScala.count(id => !expIds.contains(id))
    val failed = wrong.toLong + (if (sender.digest.value == exp.value) 0 else 1)
    def arrival(id: Long): Option[Long] = Option(sender.firstArrival.get(id)).map(_.longValue)
    val phaseS = gens.zip(expectedOf).map { case (g, es) =>
      (es.flatMap(e => arrival(e.id)).maxOption.getOrElse(g.stepEnd.last) - g.stepStart.head) / 1e9
    }
    val out = for ((g, i) <- gens.zipWithIndex; s <- phases(i).indices) yield {
      val inStep = expectedOf(i).filter(e => g.stepOfId.get(e.id) == s)
      val settled = g.stepStart(s) + ((g.stepEnd(s) - g.stepStart(s)) * SettleShare).toLong
      val lat = inStep.filter(e => g.due.get(e.id) >= settled).map(e =>
        arrival(e.id).map(t => (t - g.due.get(e.id)) / 1e6).getOrElse(DrainTimeoutMs.toDouble))
      val last = inStep.flatMap(e => arrival(e.id)).maxOption.getOrElse(g.stepEnd(s))
      StepOut(phases(i)(s)._1, inStep.size,
        g.offered(s).get / ((g.stepEnd(s) - g.stepStart(s)) / 1e9),
        inStep.size / ((last - g.stepStart(s)) / 1e9), (last - g.stepEnd(s)) / 1e9,
        lat.size, Stats.quantile(lat, 0.5), Stats.quantile(lat, 0.99))
    }
    Window(gens, sender, out, expected.size, failed, phaseS, phaseProgress, samples.toSeq, wallS)
  }

  final case class Setup(spark: SparkSession, stream: Stream, setupS: Seq[Double],
                         compileMs: Seq[Double], idBase: Long)

  def setup(a: Args, cores: Int, registry: BenchRegistry, tracer: Tracer, root: File): Setup = {
    var spark: SparkSession = null
    var st: Stream = null
    val setupS = ArrayBuffer.empty[Double]
    val compileMs = ArrayBuffer.empty[Double]
    var idBase = 0L
    for (r <- 0 until SetupRounds) {
      if (st != null) { st.stop(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Env.session(cores)
      val tc = System.nanoTime()
      val p = tracer.span("pipeline.compile")(Etl.compile(registry))
      compileMs += (System.nanoTime() - tc) / 1e6
      st = start(spark, new File(root, s"round$r"), p)
      val warmSender = new Sender(1000, trackIds = true).install()
      val gen = new EtlGen(a.seed ^ 0x2545f491L)
      drive(st, warmSender, a.seed ^ 0x2545f491L, gen, Seq(SetupWarm), tracer, None)
      idBase = gen.nextIdValue
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val warmGen = new EtlGen(a.seed ^ 0x3c6ef372L)
    warmGen.skipIds(idBase)
    drive(st, new Sender(1000, trackIds = true).install(), a.seed ^ 0x3c6ef372L, warmGen,
      Seq(PreWarm), tracer, None)
    idBase = warmGen.nextIdValue
    Setup(spark, st, setupS.toSeq, compileMs.toSeq, idBase)
  }

  def run(a: Args): Result = {
    val cores = Env.cores(reserveForGenerator = true)
    val registry = new BenchRegistry
    val tracer = new Tracer(false)
    val root = new File(a.outDir, s"stream-${ProcessHandle.current().pid()}")
    val s = setup(a, cores, registry, tracer, root)
    val report = ArrayBuffer[(String, Any)]("traffic" -> traffic(a.seconds),
      "settings" -> Env.settings(s.spark), "setup_s_samples" -> s.setupS)
    try {
      if (!a.trace) {
        val w = measure(s.stream, a, 0L, s.idBase, tracer, phases(a.seconds))
        describe(w, report)
        // per-trigger time at the fixed rates (the first phase)
        val trig = w.phaseProgress.head.filter(_.numInputRows > 0)
          .map(_.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0))
        val Seq(low, high, overload) = w.steps
        Result(w.expected, w.failed, Seq(
          Metric("setup_s", Stats.median(s.setupS), "s"),
          // distinct events delivered over the time from each phase's first
          // due tick to its last arrival, so drain lag counts
          Metric("records_per_s", w.sender.deliveries.size / w.phaseS.sum, "1/s"),
          Metric("batch_ms_p50", Stats.median(trig), "ms"),
          Metric("batch_ms_p90", Stats.quantile(trig, 0.9), "ms"),
          Metric("stream_sustained_rps", overload.deliveredPerS, "1/s"),
          Metric("stream_latency_ms_p50.low", low.p50, "ms"),
          Metric("stream_latency_ms_p99.low", low.p99, "ms"),
          Metric("stream_latency_ms_p50.high", high.p50, "ms"),
          Metric("stream_latency_ms_p99.high", high.p99, "ms")), report.toSeq)
      } else {
        val plain = measure(s.stream, a, 0L, s.idBase, tracer, phases(a.seconds))
        val layers = new Layers(s.spark, tracer)
        layers.reset()
        tracer.enabled = true
        val w = measure(s.stream, a, 1L, s.idBase + 10000000L, tracer, phases(a.seconds))
        layers.drain()
        tracer.enabled = false
        w.progress.foreach { p =>
          val start = tracer.wallMsToNanos(java.time.Instant.parse(p.timestamp).toEpochMilli)
          val total = p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
          tracer.addExternal("streaming.trigger", start, start + total * 1000000L)
        }
        describe(w, report)
        def busy(x: Window) = x.progress.map(_.durationMs.asScala.get("triggerExecution")
          .map(_.toDouble).getOrElse(0.0)).sum
        val (bp, bt) = (busy(plain), busy(w))
        val metrics = Seq(
          Metric("pipeline.compile_ms", Stats.median(s.compileMs), "ms"),
          Metric("pipeline.ops", s.stream.pipeline.ops.size.toDouble, "count")) ++
          s.stream.progress.planMetrics ++ layers.exec.metrics(w.wallS * 1000, cores) ++
          Sender.metrics(Seq(w.sender)) ++ registry.metrics ++ streamingMetrics(w) ++ Seq(
          Metric("trace.overhead_ms", bt - bp, "ms"),
          Metric("trace.overhead_frac", (bt - bp) / bp, "frac"))
        layers.detach()
        // per-command rows and marginal cost: the morphline's prefixes on one
        // fixed generated batch, with the stream stopped
        s.stream.stop()
        val ops = EtlBatch.prefixPasses(s.spark, s.stream.pipeline,
          new EtlGen(a.seed).batch(0, EtlBatch.BatchRows), cores, EtlBatch.PrefixReps)
        report ++= Seq("untraced_trigger_busy_ms" -> bp, "traced_trigger_busy_ms" -> bt,
          "ratio_bases" -> Seq(
            "exec.busy_frac" -> s"task_run_ms / (window wall ${w.wallS * 1000} ms x $cores cores)",
            "io.batch_fill" -> "rows_sent / (send_calls x batch size 1000)",
            "trace.overhead_frac" -> s"(traced - untraced trigger busy ms) / untraced $bp ms"))
        Trace.writeOut(a, tracer, metrics ++ ops, report.toSeq)
        Result(plain.expected + w.expected, plain.failed + w.failed, metrics ++ ops, report.toSeq)
      }
    } finally {
      s.stream.stop()
      s.spark.stop()
      Env.deleteRecursively(root)
    }
  }

  def streamingMetrics(w: Window): Seq[Metric] = {
    val ps = w.progress
    def phase(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)
    val ops = ps.flatMap(_.stateOperators.toSeq)
    def custom(k: String): Seq[Double] =
      ops.flatMap(o => Option(o.customMetrics.get(k)).map(_.toDouble))
    Phases.flatMap { k =>
      val xs = ps.map(phase(_, k))
      Seq(Metric(s"streaming.${k}_ms.sum", xs.sum, "ms"),
        Metric(s"streaming.${k}_ms.p50", if (xs.isEmpty) 0 else Stats.median(xs), "ms"))
    } ++ Seq(
      Metric("streaming.triggers", ps.size.toDouble, "count"),
      Metric("streaming.rows_per_trigger",
        if (ps.isEmpty) 0 else ps.map(_.numInputRows).sum.toDouble / ps.size, "count"),
      Metric("streaming.backlog_files_max", w.backlog.map(_._2).maxOption.getOrElse(0).toDouble, "count"),
      Metric("streaming.generator_lag_ms", w.gens.flatMap(_.lagMs).maxOption.getOrElse(0.0), "ms"),
      Metric("streaming.state_commit_ms", ops.map(_.commitTimeMs).sum.toDouble, "ms"),
      Metric("streaming.state_rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, "count"),
      Metric("streaming.state_rows_dropped_late", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count"),
      Metric("streaming.state_mem_bytes", ops.map(_.memoryUsedBytes).maxOption.getOrElse(0L).toDouble, "bytes")) ++
      RocksDbMetrics.map { case (k, u) =>
        val xs = custom(k)
        Metric(s"streaming.rocksdb.$k", if (k.contains("Size")) xs.maxOption.getOrElse(0.0) else xs.sum, u)
      }
  }

  private def describe(w: Window, report: ArrayBuffer[(String, Any)]): Unit = report ++= Seq(
    "input_digest" -> w.gens.map(_.digest.hex),
    "expected_events" -> w.expected,
    "planted_redeliveries" -> w.gens.map(_.redelivered.size).sum,
    "out_of_order_events" -> w.gens.map(_.outOfOrder.get).sum,
    "triggers_per_phase" -> w.phaseProgress.map(_.size),
    "trigger_samples" -> w.phaseProgress.map(_.map(p => Seq("batch" -> p.batchId,
      "rows" -> p.numInputRows, "ms" -> p.durationMs.asScala.get("triggerExecution")
        .map(_.longValue).getOrElse(0L)))),
    "phase_s" -> w.phaseS,
    "window_wall_s" -> w.wallS,
    "generator_lag_ms_max" -> w.gens.flatMap(_.lagMs).maxOption.getOrElse(0.0),
    "steps" -> w.steps.map(s => Seq("rate_per_s" -> s.rate, "offered_per_s" -> s.offeredPerS,
      "events" -> s.events, "delivered_per_s" -> s.deliveredPerS, "drain_s" -> s.drainS,
      "latency_ms_p50" -> s.p50, "latency_ms_p99" -> s.p99, "latency_samples" -> s.timed)))
}
