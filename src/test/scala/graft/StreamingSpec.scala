package graft

import graft.ops.{ControlOps, RecordOps}
import graft.pipeline.Pipeline
import graft.queries.Replay
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming parity: batch-built pipelines run unchanged on streams;
  * windowed aggregation with watermark behaves; memory-sink smoke harness
  * (SURVEY.md §3 EP1 mapping).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // FileStreamSource requires a directory: stage the parquet in a temp dir.
  private lazy val streamDir: String = {
    val d = tempDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  // Schema-adaptive: older testdata stores ts as parquet TIMESTAMP(NANOS)
  // (read as a nanos BIGINT under nanosAsLong, needing conversion), newer
  // testdata as µs TIMESTAMP (no conversion) — mirror Tables.load's gate.
  private def eventsStream = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(streamDir).schema
    val raw = StreamingOps.fileSource(spark, schema, streamDir)
    schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // watermarks require TIMESTAMP; session tz is UTC so the cast
        // is value-preserving and deterministic
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  test("stream-stream interval join: re-run parity (fresh append sink per start)") {
    // the x_stream_join gate accumulates an APPEND-mode memory sink; a
    // second start() under the same query name must register a FRESH
    // sink — if the old one leaked through, the re-run would double
    // every pair. Also pins the inner-join completeness claim: the
    // result equals the batch interval join exactly, twice.
    val run1 = graft.SparkEntry.queries("x_stream_join")(spark, sf0)
      .collect().map(_.toSeq).toSeq
    val run2 = graft.SparkEntry.queries("x_stream_join")(spark, sf0)
      .collect().map(_.toSeq).toSeq
    assert(run1.nonEmpty, "no click→purchase pairs at sf0.001")
    assert(run1 == run2, s"re-run diverged: ${run1.size} vs ${run2.size} rows")
    val ev = Tables.load(spark, sf0, "events")
      .select($"user_id", $"event_id", $"event_type", $"ts")
    val batch = ev.as("c").filter($"c.event_type" === "click")
      .join(ev.as("p").filter($"p.event_type" === "purchase"),
        expr("p.user_id = c.user_id AND p.ts >= c.ts " +
          "AND p.ts < c.ts + INTERVAL 1 HOUR"))
      .select($"c.user_id", $"c.event_id".as("click_id"),
        $"p.event_id".as("purchase_id"))
      .orderBy("user_id", "click_id", "purchase_id")
      .collect().map(_.toSeq).toSeq
    assert(run1 == batch, "streamed join ≠ batch interval join")
  }

  test("batch pipeline runs unchanged on a stream (memory sink)") {
    val pipe = Pipeline("stream-pipe", Seq(
      ControlOps.dropWhere(col("event_type") === "error"),
      RecordOps.setValues("topic" -> "@{event_type}-out")))
    val q = StreamingOps.runToMemory(
      StreamingOps.transform(eventsStream, pipe), "smoke1")
    try {
      val n = spark.sql("SELECT count(*) FROM smoke1").as[Long].head()
      val batch = Tables.load(spark, sf0, "events")
        .filter(col("event_type") =!= "error").count()
      assert(n == batch)
      val topics = spark.sql("SELECT DISTINCT topic FROM smoke1")
        .as[String].collect().toSet
      assert(topics.contains("purchase-out") && !topics.contains("error-out"))
    } finally q.stop()
  }

  test("streaming head-per-key: stateful first-N via flatMapGroupsWithState") {
    val limited = StreamingOps.streamingHeadPerKey(spark, eventsStream,
      "user_id", n = 2)
    val q = StreamingOps.runToMemory(limited, "smoke3")
    try {
      val perUser = spark.sql("SELECT user_id, count(*) AS c FROM smoke3 GROUP BY user_id")
        .as[(Long, Long)].collect()
      assert(perUser.nonEmpty && perUser.forall(_._2 <= 2))
      val expected = Tables.load(spark, sf0, "events")
        .groupBy("user_id").count()
        .select(sum(least(col("count"), lit(2)))).as[Long].head()
      assert(perUser.map(_._2).sum == expected)
    } finally q.stop()
  }

  test("session windows (gap-based) match the batch gaps-and-islands count") {
    val sessions = StreamingOps.sessionCounts(
      eventsStream.withWatermark("ts", "1 hour"), "ts", "30 minutes",
      Seq("user_id"))
    val q = sessions.writeStream.format("memory").queryName("smoke4")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, count(*) AS n_sessions FROM smoke4 GROUP BY user_id")
        .as[(Long, Long)].collect().toMap
      val batch = graft.queries.RelationalQueries
        .queries("q_session_count")(spark, sf0)
        .select(col("user_id"), col("n_sessions"))
        .as[(Long, Long)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch duplicates via keyed state") {
    // Two identical files arrive as separate micro-batches; the second
    // batch's rows are all duplicates and must be dropped by state.
    val d = tempDir("graft-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0/events.parquet"), d.resolve("a.parquet"))
    val schema = spark.read.parquet(d.toString).schema
    val raw = StreamingOps.fileSource(spark, schema, d.toString)
    val stream = schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
    val deduped = StreamingOps.streamingDedup(stream, "ts", "10 minutes",
      Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n1 = spark.sql("SELECT count(*) FROM dedup_stream").as[Long].head()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf0/events.parquet"), d.resolve("b.parquet"))
      q.processAllAvailable()
      val n2 = spark.sql("SELECT count(*) FROM dedup_stream").as[Long].head()
      assert(n1 > 0 && n2 == n1, s"duplicates leaked: $n1 -> $n2")
    } finally q.stop()
  }

  test("eventTimeSanityFilter: one future timestamp silently drops all " +
      "later real data; the guard prevents it") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch1 = Seq(
      (1L, ts("2200-01-01 00:30:00"), 5L, "click", 1.0), // poison producer
      (2L, ts("2024-01-15 12:05:00"), 6L, "click", 2.0))
    val batch2 = Seq(
      (3L, ts("2024-01-15 12:20:00"), 7L, "click", 3.0),
      (4L, ts("2024-01-15 13:30:00"), 8L, "click", 4.0)) // closes 12:00
    // append emits a closed window on the NEXT trigger — batch3 exists
    // only to run that trigger (its own row stays in open state)
    val batch3 = Seq(
      (5L, ts("2024-01-15 14:45:00"), 9L, "click", 5.0))
    def run(name: String, guard: Boolean): Map[String, Long] = {
      val d = tempDir(s"graft-poison-ts-$name")
      batch1.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(d.toString)
      val schema = spark.read.parquet(d.toString).schema
      val raw = StreamingOps.fileSource(spark, schema, d.toString,
        options = Map("maxFilesPerTrigger" -> "1"))
      val src = if (guard)
        StreamingOps.eventTimeSanityFilter(raw, "ts",
          java.time.Instant.parse("2020-01-01T00:00:00Z"),
          java.time.Instant.parse("2030-01-01T00:00:00Z"))
      else raw
      val agg = StreamingOps.windowedCounts(src, "ts",
        watermark = "1 hour", windowLen = "1 hour")
      val q = agg.select(col("window.start").cast("string").as("w"), col("n"))
        .writeStream.format("memory").queryName(s"poison_ts_$name")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        batch2.toDF("event_id", "ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(d.toString)
        q.processAllAvailable()
        batch3.toDF("event_id", "ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(d.toString)
        q.processAllAvailable()
        spark.sql(s"SELECT w, n FROM poison_ts_$name")
          .as[(String, Long)].collect().toMap
      } finally q.stop()
    }
    val unguarded = run("raw", guard = false)
    val guarded = run("guarded", guard = true)
    // poisoned watermark (2200 − 1h) classed rows 3 and 4 as late: the
    // 12:00 window closed with ONLY row 2 — silent data loss
    assert(unguarded.get("2024-01-15 12:00:00") == Some(1L), s"$unguarded")
    // guarded: the poison row is filtered before the watermark clock, so
    // rows 2 and 3 both land in the 12:00 window, closed by row 4
    assert(guarded.get("2024-01-15 12:00:00") == Some(2L), s"$guarded")
  }

  test("streaming near-dup dedup collapses whitespace/word-order variants in-stream") {
    val d = tempDir("graft-neardup")
    val schema = new StructType()
      .add("id", LongType).add("ts", LongType).add("text", StringType)
    def drop(name: String, rows: Seq[(Long, Long, String)]): Unit = {
      val stage = tempDir("graft-neardup-st")
      rows.toDF("id", "ts", "text").repartition(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        d.resolve(s"$name.parquet"))
    }
    val t0 = 1700000000000000L
    drop("a", Seq(
      (1L, t0, "the quick brown fox"),
      (2L, t0 + 1, "The  Quick   BROWN fox!!"),   // near-dup of 1
      (3L, t0 + 2, "something else entirely")))
    val stream = StreamingOps.fileSource(spark, schema, d.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val deduped = StreamingOps.streamingNearDedup(stream, "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM neardup_stream").as[Long].head() == 2,
        "near-duplicate not collapsed in the first batch")
      // cross-batch: a later word-order variant hits state and drops too
      drop("b", Seq((4L, t0 + 3, "fox brown quick the"),
        (5L, t0 + 4, "genuinely new content")))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM neardup_stream ORDER BY id")
        .as[Long].collect().toSeq
      assert(!ids.contains(4L) && ids.contains(5L), s"got $ids")
    } finally q.stop()
  }

  test("streaming fingerprint dedup agrees with the batch operator on a replayed corpus") {
    // cross-engine consistency: replaying the documents corpus through the
    // streaming fingerprint tier must keep exactly one representative per
    // normalized fingerprint — the same equivalence classes the batch
    // Dedup.byFingerprint keeps (ids may differ: streaming keeps first
    // arrival, batch keeps min id; the CLASSES must match)
    val docs = Tables.load(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
    val batchSurvivors = graft.dedup.Dedup.byFingerprint(docs, "text", "doc_id")
    val expectFps = batchSurvivors
      .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[String].collect().sorted.toSeq
    val d = tempDir("graft-paritydedup")
    val t0 = 1700000000000000L
    docs.withColumn("ts", lit(t0)).repartition(1)
      .write.mode("overwrite").parquet(d.toString)
    val schema = new StructType()
      .add("doc_id", LongType).add("text", StringType).add("ts", LongType)
    val stream = StreamingOps.fileSource(spark, schema, d.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val deduped = StreamingOps.streamingNearDedup(stream, "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("parity_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamFps = spark.sql("SELECT text FROM parity_dedup")
        .select(graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
        .as[String].collect().sorted.toSeq
      assert(streamFps == expectFps,
        s"streaming kept ${streamFps.size} classes, batch ${expectFps.size}")
    } finally q.stop()
  }

  test("streaming pack continues bin offsets across micro-batches, matching batch") {
    // two micro-batches (one file each, arrival order = id order) must
    // produce EXACTLY the batch packSequences assignment over the union —
    // the per-key offset carries across batches through group state
    val docs = Tables.load(spark, sf0, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id").limit(100)
    val expect = graft.pack.Packing.packSequences(docs, "text", "doc_id", 512)
      .select("id", "n_toks", "bin")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val tokenized = docs.select(lit("all").as("key"), col("doc_id"),
      graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
    val d = tempDir("graft-streampack")
    val (lo, hi) = (tokenized.filter(col("doc_id") < 50),
      tokenized.filter(col("doc_id") >= 50))
    lo.orderBy("doc_id").coalesce(1).write.parquet(s"$d/b0")
    val schema = new StructType().add("key", StringType)
      .add("doc_id", LongType).add("n_toks", LongType)
    // one file per trigger => deterministic two-batch replay in id order
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$d/b*/")
    val packed = StreamingOps.streamingPack(stream, "key", "doc_id", "n_toks", 512)
    val q = packed.writeStream.format("memory").queryName("stream_pack")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      hi.orderBy("doc_id").coalesce(1).write.parquet(s"$d/b1")
      q.processAllAvailable()
      val got = spark.sql("SELECT id, n_toks, bin FROM stream_pack")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == expect)
    } finally q.stop()
  }

  test("batch-fit LM scores a stream identically to the batch scorer") {
    // the deployment shape: fit the unigram LM on the reference corpus in
    // batch, then score an unbounded stream against the STATIC model —
    // per-doc scores must equal the batch scorer's on the same rows
    val docs = Tables.load(spark, sf0, "documents").select(col("doc_id"), col("text"))
    val lm = graft.text.CorpusStats.fitUnigramLm(docs, "text")
    val expect = graft.text.CorpusStats.scoreUnigramNll(lm, docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    // cross-check: fit+score == the one-shot op on the SAME corpus
    val oneShot = graft.text.CorpusStats.unigramNll(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(expect == oneShot)
    val d = tempDir("graft-streamlm")
    docs.repartition(1).write.mode("overwrite").parquet(d.toString)
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val scored = graft.text.CorpusStats.scoreUnigramNll(lm,
      StreamingOps.fileSource(spark, schema, d.toString), "text", "doc_id")
    val q = scored.writeStream.format("memory").queryName("stream_lm")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT id, n_toks, avg_nll FROM stream_lm")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got == expect)
    } finally q.stop()
  }

  test("batch-fit NB classifier scores a stream identically to the batch scorer") {
    // same deployment shape as the LM: fit the classifier on the labeled
    // reference corpus in batch, score an unbounded stream against the
    // STATIC llr relation — per-doc verdicts must equal batch
    val docs = Tables.load(spark, sf0, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val m = graft.text.CorpusStats.fitNaiveBayes(docs, "text",
      col("lang") === "en")
    val expect = graft.text.CorpusStats
      .scoreNaiveBayes(m, docs, "text", "doc_id")
      .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    val d = tempDir("graft-streamnb")
    docs.select("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(d.toString)
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val scored = graft.text.CorpusStats.scoreNaiveBayes(m,
      StreamingOps.fileSource(spark, schema, d.toString), "text", "doc_id")
    val q = scored.writeStream.format("memory").queryName("stream_nb")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT id, n_toks, nb_score, nb_pos FROM stream_nb")
        .as[(Long, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
      assert(got == expect)
    } finally q.stop()
  }

  test("batch-fit DSIR model weighs a stream identically to the batch scorer") {
    // importance weights for incoming crawl documents, scored against the
    // model fit on yesterday's corpus — static bucket join, update-mode agg
    val docs = Tables.load(spark, sf0, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val m = graft.text.CorpusStats.fitDsirLabeled(docs, "text",
      col("lang") === "en")
    val expect = graft.text.CorpusStats.scoreDsir(m, docs, "text", "doc_id")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    val d = tempDir("graft-streamdsir")
    docs.select("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(d.toString)
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val scored = graft.text.CorpusStats.scoreDsir(m,
      StreamingOps.fileSource(spark, schema, d.toString), "text", "doc_id")
    val q = scored.writeStream.format("memory").queryName("stream_dsir")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT id, n_feats, dsir_logw FROM stream_dsir")
        .as[(Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
      assert(got == expect)
    } finally q.stop()
  }

  test("streaming curation filter yields exactly the batch verdicts on a replayed corpus") {
    // the composed curation filter (lang → length → repetition → quality)
    // is a stateless scan-stage projection, so it must run UNCHANGED over
    // a stream and give row-identical verdicts to the batch query
    val docs = Tables.load(spark, sf0, "documents").select(col("doc_id"), col("text"))
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        graft.text.TextAnalysis.langId(col("text")).as("lp"),
        graft.text.TextAnalysis.tokenCount(col("text")).as("nt"),
        round(graft.text.TextAnalysis.dupNgramFraction(
          graft.text.TextAnalysis.asciiTokens(col("text")), 2), 6).as("rep"),
        round(graft.text.TextAnalysis.qualityScore(col("text")), 4).as("q"))
      .select(col("doc_id"),
        when(col("lp") =!= "en", "lang").when(col("nt") < 20, "short")
          .when(col("rep") > 0.2, "repetition").when(col("q") < 0.5, "quality")
          .otherwise("keep").as("verdict"))
    val expect = verdicts(docs).as[(Long, String)].collect().sortBy(_._1).toSeq
    val d = tempDir("graft-paritycurate")
    docs.repartition(1).write.mode("overwrite").parquet(d.toString)
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val q = verdicts(StreamingOps.fileSource(spark, schema, d.toString))
      .writeStream.format("memory").queryName("parity_curate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, verdict FROM parity_curate")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got == expect)
      assert(expect.map(_._2).toSet.size > 1) // corpus exercises >1 verdict
    } finally q.stop()
  }

  test("dead-letter split catches unparseable payloads in a pipeline") {
    val df = Seq("""{"k": 1}""", "not json at all", """{"k": 3}""")
      .toDF("props")
    val parsed = graft.ops.ParserOps.readJson("props",
      new StructType().add("k", IntegerType))(df)
    val (ok, dead) = graft.ops.ControlOps.deadLetterSplit(parsed,
      col("json").isNotNull && col("json.k").isNotNull)
    assert(ok.count() == 2)
    assert(dead.select("props").as[String].collect().toSeq ==
      Seq("not json at all"))
  }

  test("checkpoint recovery: restart reprocesses nothing (offset-commit parity)") {
    // The reference's at-least-once story is Connect offset commits
    // (MorphlineSinkTask.java:148); here the checkpoint is the commit log:
    // a restarted query resumes past consumed files.
    val ckpt = tempDir("graft-ckpt").toString
    val outDir = tempDir("graft-ckpt-out").toString
    def run(): Unit = {
      val q = eventsStream.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 > 0)
    run() // restart from the same checkpoint: source files already committed
    val n2 = spark.read.parquet(outDir).count()
    assert(n2 == n1, s"restart reprocessed ${n2 - n1} rows despite checkpoint")
  }

  test("kafka-envelope-shaped pipeline: binary value bytes → parse → publish shape") {
    // No broker in this container: the envelope is simulated with the exact
    // Kafka-source schema (Envelope.kafkaSchema columns), and the output is
    // the exact shape the Kafka sink requires (key/value/topic columns).
    val json = """{"firstName":"example","age":27}"""
    val env = Seq(
      (null.asInstanceOf[Array[Byte]], json.getBytes("UTF-8"), "testing", 1, 1L))
      .toDF("key", "value", "topic", "partition", "offset")
    val pipe = graft.pipeline.Pipeline("e2e", Seq(
      graft.ops.ParserOps.readJson("value",
        new StructType().add("firstName", StringType).add("age", IntegerType)),
      graft.ops.RecordOps.setValues("topic" -> "@{topic}-avro"),
      graft.ops.ParserOps.writeJson(Seq("json"), "out")))
    val r = pipe(env)
      .select(col("topic"), col("out").cast("string").as("value")).head()
    assert(r.getString(0) == "testing-avro")
    assert(r.getString(1).contains(""""firstName":"example""""))
  }

  test("streaming foreach document sink receives batched docs with keys") {
    StreamingSpec.sunk.clear()
    val keyed = eventsStream
      .withColumn("id", md5(concat_ws(" ", col("event_type"), col("event_id"))))
      .select("id", "event_type")
    val q = keyed.writeStream
      .foreach(new graft.io.Sinks.DocumentSinkWriter("id", batchSize = 100,
        send = b => StreamingSpec.sunk.addAll(
          scala.jdk.CollectionConverters.SeqHasAsJava(b).asJava)))
      .start()
    try {
      q.processAllAvailable()
      val n = Tables.load(spark, sf0, "events").count()
      assert(StreamingSpec.sunk.size() == n)
      val doc = StreamingSpec.sunk.iterator().next()
      assert(doc.keySet == Set("id", "event_type"))
    } finally q.stop()
  }

  test("windowed counts with watermark match the batch equivalent") {
    val agg = StreamingOps.windowedCounts(eventsStream, "ts",
      watermark = "1 hour", windowLen = "1 hour", groupCols = Seq("event_type"))
    val q = agg.writeStream.format("memory").queryName("smoke2")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT CAST(window.start AS STRING) AS h, event_type, n FROM smoke2")
        .as[(String, String, Long)].collect().toSet
      val batch = Tables.load(spark, sf0, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("string").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming semantic-dedup tier keeps one vector per quantized cell signature") {
    // replay embeddings with exact duplicate copies (ids offset); the
    // streaming tier must keep exactly the batch-computed signature classes
    val emb = Tables.load(spark, sf0, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val centroids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .as[Seq[Double]].collect().map(_.toSeq).toSeq
    val doubled = emb.unionAll(emb.select((col("vec_id") + 100000).as("vec_id"),
      col("embedding")))
    val d = tempDir("graft-semdedup")
    val t0 = 1700000000000000L
    doubled.withColumn("ts", lit(t0)).repartition(1)
      .write.mode("overwrite").parquet(d.toString)
    val schema = new StructType()
      .add("vec_id", LongType)
      .add("embedding", ArrayType(FloatType)).add("ts", LongType)
    val stream = StreamingOps.fileSource(spark, schema, d.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val deduped = StreamingOps.streamingSemanticDedup(
      stream, "embedding", "ts", "10 minutes", centroids)
    val q = deduped.writeStream.format("memory").queryName("sem_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.sql("SELECT vec_id FROM sem_dedup").as[Long].collect()
      // every duplicate pair collapsed to one survivor; no original lost
      assert(kept.length == emb.count(),
        s"kept ${kept.length}, distinct vectors ${emb.count()}")
      assert(kept.map(_ % 100000).distinct.length == kept.length,
        "a vector and its exact copy both survived")
    } finally q.stop()
  }

  test("broker-free kafka e2e: produce → ingest → transform → produce over wire frames") {
    // MorphlineSinkTask.java:129-149 parity without a broker (no kafka
    // jars ship in this container): the produce→ingest→transform→produce
    // loop runs over the EXACT Kafka wire artifacts — Confluent-framed
    // Avro values, the Kafka source's envelope schema, per-poll
    // micro-batches (maxFilesPerTrigger=1), and the Kafka sink's
    // (key, value, topic) contract — with the file stream standing in
    // for the consumer group, as the reference's own quickstart does
    // with FileStreamSourceConnector (README.md:108).
    import graft.exprs.AvroExprs
    val avroSchema =
      """{"type":"record","name":"e","fields":[
        |{"name":"event_id","type":"long"},{"name":"event_type","type":"string"}]}"""
        .stripMargin
    // --- "producer": 3 poll batches of Confluent-framed records on disk
    val srcDir = tempDir("graft-kafka-e2e")
    val mkEnv = (lo: Long, hi: Long) =>
      (lo until hi).map(i => (i, if (i % 3 == 0) "purchase" else "view"))
        .toDF("event_id", "event_type")
        .select(
          col("event_id").cast("string").cast("binary").as("key"),
          AvroExprs.confluent_frame(
            AvroExprs.to_avro_binary(
              struct(col("event_id"), col("event_type")), avroSchema),
            lit(7)).as("value"),
          lit("events-in").as("topic"),
          (col("event_id") % 4).cast("int").as("partition"),
          col("event_id").as("offset"),
          timestamp_micros(col("event_id") * 1000000L).as("timestamp"),
          lit(0).as("timestampType"))
    Seq((0L, 20L), (20L, 40L), (40L, 60L)).foreach { case (lo, hi) =>
      mkEnv(lo, hi).coalesce(1).write.mode("append").parquet(srcDir.toString)
    }
    val envSchema = spark.read.parquet(srcDir.toString).schema
    // --- "consumer": one file per trigger = the connector's poll loop
    val stream = StreamingOps.fileSource(spark, envSchema, srcDir.toString,
      options = Map("maxFilesPerTrigger" -> "1"))
    // --- transform: unframe → decode → route (dynamic topic) → re-encode
    val pipe = Pipeline("kafka-e2e", Seq(
      graft.pipeline.Op("unframe")(df =>
        df.withColumn("u", AvroExprs.confluent_unframe(col("value")))
          .withColumn("rec",
            AvroExprs.from_avro_binary(col("u.payload"), avroSchema))),
      ControlOps.dropWhere(col("u.schema_id") =!= 7),
      graft.pipeline.Op("route")(df =>
        df.select(
          col("key"),
          AvroExprs.confluent_frame(
            AvroExprs.to_avro_binary(
              struct(col("rec.event_id").as("event_id"),
                col("rec.event_type").as("event_type")), avroSchema),
            lit(7)).as("value"),
          concat(col("rec.event_type"), lit("-out")).as("topic")))))
    val out = StreamingOps.transform(stream, pipe)
    // the kafka sink contract: (key BINARY, value BINARY, topic STRING)
    assert(out.schema("key").dataType == BinaryType)
    assert(out.schema("value").dataType == BinaryType)
    assert(out.schema("topic").dataType == StringType)
    // --- "producer" out: per-epoch publish, as kafkaSink would send it
    StreamingSpec.published.clear()
    val ckpt = tempDir("graft-kafka-ckpt")
    val q = StreamingOps.foreachBatchSink(out, ckpt.toString) { (batch, epoch) =>
      batch.collect().foreach(r =>
        StreamingSpec.published.add((epoch, r.getAs[String]("topic"),
          r.getAs[Array[Byte]]("key"), r.getAs[Array[Byte]]("value"))))
    }.start()
    try q.processAllAvailable() finally q.stop()
    val rows = scala.jdk.CollectionConverters.IteratorHasAsScala(
      StreamingSpec.published.iterator()).asScala.toSeq
    assert(rows.size == 60, s"published ${rows.size}/60")
    // per-poll epochs: three staged files → three distinct epochs
    assert(rows.map(_._1).distinct.size >= 3,
      s"expected >=3 poll epochs, saw ${rows.map(_._1).distinct.sorted}")
    // dynamic topic routing held per record
    assert(rows.map(_._2).toSet == Set("purchase-out", "view-out"))
    // wire fidelity: magic byte 0x00 + BE schema id 7, payload decodes back
    val sample = rows.find(r => new String(r._3, "UTF-8") == "42").get
    assert(sample._2 == "purchase-out")
    val frame = sample._4
    assert(frame(0) == 0.toByte &&
      java.nio.ByteBuffer.wrap(frame, 1, 4).getInt == 7)
    val back = Seq(frame).toDF("value")
      .select(AvroExprs.from_avro_binary(
        AvroExprs.confluent_unframe(col("value")).getField("payload"),
        avroSchema).as("rec"))
      .select(col("rec.event_id"), col("rec.event_type")).head()
    assert(back.getLong(0) == 42L && back.getString(1) == "purchase")
    // restart from the same checkpoint: offsets committed, nothing replays
    StreamingSpec.published.clear()
    val q2 = StreamingOps.foreachBatchSink(out, ckpt.toString) { (batch, epoch) =>
      batch.collect().foreach(r =>
        StreamingSpec.published.add((epoch, r.getAs[String]("topic"),
          r.getAs[Array[Byte]]("key"), r.getAs[Array[Byte]]("value"))))
    }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(StreamingSpec.published.isEmpty,
      s"checkpoint restart replayed ${StreamingSpec.published.size()} records")
  }

  test("append+watermark window survives a checkpointed RESTART: " +
      "recovered state completes windows spanning the stop") {
    // The production-path claim the x_stream_*_append gates check is
    // about one continuous run; this proves the other half — a restart
    // from the checkpoint recovers (a) the file-source offsets (no file
    // re-read, no double counts) and (b) the window STATE, so a window
    // whose events straddle the stop still emits with full counts.
    val src = Tables.load(spark, sf0, "events")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value"))
    val base = tempDir("graft-restart")
    val staged = Replay.stage(src, col("ts"), 4, base.resolve("stage"))
    // phase 1: first half, then STOP; restart from the checkpoint
    val got = Replay.restart(spark, staged, base, split = 2)(
        Replay.appendParquet(_.withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("string").as("w_start"),
            col("event_type"), col("n"))))
      .select("w_start", "event_type", "n")
      .as[(String, String, Long)].collect().toSet
    // expected: batch windows closed by the final (ms-floored) watermark
    val mx = src.agg(max(col("ts"))).head().getTimestamp(0).getTime // ms
    val expected = src
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("window.end").cast("long") * 1000 <=
        lit(mx - 2L * 60 * 60 * 1000))
      .select(col("window.start").cast("string"), col("event_type"),
        col("n")).as[(String, String, Long)].collect().toSet
    assert(got == expected,
      s"restart lost or duplicated state: got ${got.size} windows, " +
        s"expected ${expected.size}; diff=${(got diff expected).take(3)} / " +
        s"${(expected diff got).take(3)}")
    assert(got.nonEmpty, "no windows emitted — vacuous")
  }

  test("append+watermark SESSION window survives a checkpointed restart: " +
      "recovered session state completes sessions spanning the stop") {
    // x_stream_session_append's claim, across a stop: the checkpoint
    // recovers the session-window state, so a session whose events
    // straddle the restart still merges and emits once, with full
    // counts, when the watermark passes its end (last event + gap).
    val src = Tables.load(spark, sf0, "events")
      .select(col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("value"))
    val base = tempDir("graft-restart-sess")
    val staged = Replay.stage(src, col("ts"), 4, base.resolve("stage"))
    // first half, then STOP; restart from the checkpoint
    val got = Replay.restart(spark, staged, base, split = 2)(
        Replay.appendParquet(_.withWatermark("ts", "2 hours")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("session_window.start").cast("string").as("w_start"),
            col("user_id"), col("n"))))
      .select("w_start", "user_id", "n")
      .as[(String, Long, Long)].collect().toSet
    // expected: batch gaps-and-islands sessions whose END the final
    // (ms-floored) watermark passed — µs-exact via unix_micros, session
    // ends are not aligned to any grid (cast-to-seconds would truncate)
    val mxMs = src.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val wmUs = mxMs * 1000L - 2L * 3600 * 1000000L
    val expected = src
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(unix_micros(col("session_window.end")) <= lit(wmUs))
      .select(col("session_window.start").cast("string"), col("user_id"),
        col("n")).as[(String, Long, Long)].collect().toSet
    assert(got == expected,
      s"restart lost or duplicated session state: got ${got.size}, " +
        s"expected ${expected.size}; diff=${(got diff expected).take(3)} / " +
        s"${(expected diff got).take(3)}")
    assert(got.nonEmpty, "no sessions emitted — vacuous")
  }

  test("append+watermark stream-stream JOIN survives a checkpointed " +
      "restart: buffered click state matches purchases arriving after it") {
    // x_stream_join_append's claim, across a stop — made structural: ALL
    // clicks stream in phase 1 (the purchase side publishes nothing, so
    // the min-policy global watermark stays put and nothing can evict),
    // then the restarted query streams every purchase. Every emitted
    // pair therefore joins a checkpoint-RECOVERED buffered click against
    // a post-restart purchase; the full batch join is the oracle.
    val ev = Tables.load(spark, sf0, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    val clicksB = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buysB = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val base = tempDir("graft-restart-join")
    val clickFiles = Replay.stage(clicksB, col("click_ts"), 4,
      base.resolve("click"))
    val buyFiles = Replay.stage(buysB, col("purchase_ts"), 4,
      base.resolve("buy"))
    val (inC, inB) = (base.resolve("click-in"), base.resolve("buy-in"))
    Seq(inC, inB).foreach(java.nio.file.Files.createDirectories(_))
    val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    def runPhase(): Unit = {
      val clicks = Replay.open(spark, clicksB.schema, inC)
        .withWatermark("click_ts", "2 hours")
      val buys = Replay.open(spark, buysB.schema, inB)
        .withWatermark("purchase_ts", "2 hours")
      val joined = clicks.join(buys,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
      val q = joined.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val outSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("click_id", LongType), StructField("purchase_id", LongType)))
    (1 to 4).foreach(clickFiles.publish(inC, _)); runPhase() // clicks buffer, then STOP
    assert(spark.read.schema(outSchema).parquet(outDir).isEmpty,
      "pairs emitted before any purchase arrived")
    (1 to 4).foreach(buyFiles.publish(inB, _)); runPhase() // restart: purchases stream
    val got = spark.read.parquet(outDir)
      .select("user_id", "click_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    val expected = clicksB.join(buysB,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected,
      s"restart lost or duplicated join state: got ${got.size} pairs, " +
        s"expected ${expected.size}; diff=${(got diff expected).take(3)} / " +
        s"${(expected diff got).take(3)}")
    assert(got.nonEmpty, "no pairs emitted — vacuous")
  }

  test("RocksDB state-store provider: engaged (custom metrics present) " +
      "and output-identical to the default provider") {
    // Production 100 TB streams run RocksDB state stores, not Spark's
    // default in-memory HDFSBacked provider — round-14 verdict item 2.
    // Two claims: (a) setting the provider conf actually ENGAGES
    // RocksDB (asserted via the provider-specific custom metrics in the
    // query progress — a typo'd FQCN would throw at start, but a
    // conf-plumbing bug that silently kept the other provider must fail
    // here), and (b) the emitted watermark+append set is identical.
    // Both runs name their provider: the session default is RocksDB.
    val src = Tables.load(spark, sf0, "events")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value"))
    val inDir = tempDir("graft-rocks-in")
    src.coalesce(2).write.mode("overwrite").parquet(inDir.toString)
    def run(provider: String): (Set[(String, String, Long)],
        Set[String]) = {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(provKey)
      spark.conf.set(provKey, provider)
      try {
        val stream = spark.readStream.schema(src.schema).format("parquet")
          .option("maxFilesPerTrigger", "1").load(inDir.toString)
        val name = s"rocks_parity_${provider.split('.').last}"
        spark.streams.active
          .filter(q => Option(q.name).contains(name)).foreach(_.stop())
        val q = stream.withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("string").as("w_start"),
            col("event_type"), col("n"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val metrics = q.recentProgress.flatMap(p =>
          p.stateOperators.flatMap(
            _.customMetrics.keySet().toArray.map(_.toString))).toSet
        (spark.table(name).as[(String, String, Long)].collect().toSet,
          metrics)
      } finally prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
    val (hdfsOut, hdfsMetrics) = run(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val (rocksOut, rocksMetrics) = run(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(rocksMetrics.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider not engaged — state metrics: $rocksMetrics")
    assert(!hdfsMetrics.exists(_.toLowerCase.contains("rocksdb")),
      "HDFSBacked run unexpectedly used RocksDB (conf ignored)")
    assert(rocksOut == hdfsOut && rocksOut.nonEmpty,
      s"provider changed the emitted set: rocks=${rocksOut.size} " +
        s"hdfs=${hdfsOut.size}")
  }

  test("bounded-disorder replay (disorder < delay) emits exactly the " +
      "ordered replay's set — the watermark contract, not the ordering") {
    // Round-14 verdict item 3, as a property over SEEDS: the gate
    // (x_stream_window_disorder) pins one xxhash64 jitter layout; here
    // three different seeded jitters — all bounded by δ = 90 min < the
    // 2 h delay — must each produce the ordered run's emitted set.
    // A drop would show as a missing/short window.
    val src = Tables.load(spark, sf0, "events")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value"))
    val delta = 90L * 60 * 1000000 // 90 min in µs, < 2 h delay
    def emitted(jitterSeed: Option[Long]): Set[(String, String, Long)] = {
      val pos = jitterSeed match {
        case None => col("ts").cast("long") * 1000000L
        case Some(seed) =>
          expr("unix_micros(ts)") +
            pmod(xxhash64(col("ts"), col("value"), lit(seed)), lit(delta))
      }
      // stage 4 replay files split by PERTURBED position
      val stream = Replay.stream(spark, tempDir("graft-disorder"), src, pos)
      val name = s"disorder_${jitterSeed.getOrElse(0L)}"
      spark.streams.active
        .filter(q => Option(q.name).contains(name)).foreach(_.stop())
      val q = stream.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("string").as("w_start"),
          col("event_type"), col("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).as[(String, String, Long)].collect().toSet
    }
    val ordered = emitted(None)
    assert(ordered.nonEmpty, "ordered replay emitted nothing — vacuous")
    for (seed <- Seq(7L, 101L, 9999L)) {
      val dis = emitted(Some(seed))
      assert(dis == ordered,
        s"seed $seed: disordered emitted set differs — " +
          s"missing=${(ordered diff dis).take(3)} " +
          s"extra=${(dis diff ordered).take(3)}")
    }
  }
}

/** Static collector for the foreach-sink test (ForeachWriter is serialized
  * to tasks; state must be JVM-global in local mode).
  */
object StreamingSpec {
  val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  val published = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, String, Array[Byte], Array[Byte])]()
}
