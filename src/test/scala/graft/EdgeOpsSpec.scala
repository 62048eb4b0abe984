package graft

import graft.io.Sinks
import graft.model.Envelope
import graft.ops.{ControlOps, ParserOps, RecordOps}
import graft.pipeline.{Op, Pipeline}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class EdgeOpsSpec extends SparkSpec {
  import spark.implicits._

  test("readJsonInferred parses the schemaless Map payload (Records.java:47-69)") {
    val df = Seq(
      """{"firstName":"example","lastName":"user","age":27}""",
      """{"firstName":"other","lastName":"person","age":31}""").toDF("value")
    val pipe = Pipeline("inferred", Seq(
      ParserOps.readJsonInferred(spark, "value")))
    val out = pipe(df).select("json.firstName", "json.age")
    assert(out.schema("age").dataType == LongType) // inferred, not declared
    assert(out.as[(String, Long)].collect().toSet ==
      Set(("example", 27L), ("other", 31L)))
  }

  test("record-level if/then/else routes to branch pipelines and reunifies") {
    val df = Seq((1, 200.0), (2, 50.0), (3, Double.NaN)).toDF("id", "v")
    val op = ControlOps.ifThenElse(col("v") > 100,
      thenOps = _.withColumn("branch", lit("big")),
      elseOps = _.withColumn("branch", lit("small")))
    val out = op(df).select("id", "branch").as[(Int, String)].collect().toMap
    // note: Spark SQL orders NaN greater than any numeric, so NaN > 100
    // routes to the then-branch (differs from Java's NaN comparisons).
    assert(out == Map(1 -> "big", 2 -> "small", 3 -> "big"))
  }

  test("Envelope.attach produces the attachment triple over any payload") {
    val df = Seq(("hello", 1L)).toDF("value", "offset")
    val out = Envelope.attach(df, "value", "application/json")
    val r = out.select(Envelope.Body, Envelope.MimeType, Envelope.Charset).head()
    assert(new String(r.getAs[Array[Byte]](0), "UTF-8") == "hello")
    assert(r.getString(1) == "application/json" && r.getString(2) == "UTF-8")
  }

  test("Op.pipe nests a pipeline as one op") {
    val inner = Pipeline("inner", Seq(
      RecordOps.setValues("x" -> "@{id}-in")))
    val outer = Pipeline("outer", Seq(
      Op.pipe(inner),
      RecordOps.setValues("y" -> "@{x}-out")))
    val df = Seq(Tuple1("a")).toDF("id")
    assert(outer(df).select("y").as[String].head() == "a-in-out")
  }

  test("DocumentSinkWriter batches per partition and flushes on close") {
    val sent = scala.collection.mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    val w = new Sinks.DocumentSinkWriter("id", batchSize = 2, send = b => sent.synchronized { sent += b })
    val schema = StructType(Seq(StructField("id", StringType)))
    assert(w.open(0L, 0L))
    (1 to 5).foreach(i => w.process(new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(Array(s"d$i"), schema)))
    w.close(null)
    assert(sent.map(_.size).sum == 5)
    assert(sent.last.size == 1) // the close-time flush
    assert(sent.flatten.map(_("id")).toSet == Set("d1", "d2", "d3", "d4", "d5"))
  }

  test("gunzip op inflates a compressed payload ahead of a parser") {
    val json = """{"k": 42}"""
    val baos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(baos)
    gz.write(json.getBytes("UTF-8")); gz.close()
    val df = Seq(Tuple1(baos.toByteArray)).toDF("body")
    val pipe = Pipeline("gz", Seq(
      ParserOps.gunzip("body", "payload"),
      ParserOps.readJson("payload", new StructType().add("k", IntegerType))))
    assert(pipe(df).select("json.k").as[Int].head() == 42)
  }

  test("streaming dedup-within-watermark drops restamped duplicates") {
    val d = tempDir("graft-ddw")
    // same key, two different event times within the watermark window
    Seq((1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:00:30"),
        (2L, "2024-01-01 00:01:00"))
      .toDF("k", "ts_s")
      .select(col("k"), col("ts_s").cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(d.toString)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).parquet(d.toString)
    val deduped = graft.streaming.StreamingOps
      .streamingDedupWithin(stream, "ts", "10 minutes", Seq("k"))
    val q = deduped.writeStream.format("memory").queryName("ddw")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(DISTINCT k), count(*) FROM ddw")
        .as[(Long, Long)].head()
      assert(n == ((2L, 2L)), s"restamped duplicate leaked: $n")
    } finally q.stop()
  }

  test("addValuesIfAbsent does not duplicate existing values") {
    val df = Seq(Tuple1(Seq("a", "b"))).toDF("f")
    val out = RecordOps.addValuesIfAbsent("f", lit("b"), lit("c"))(df)
      .select("f").as[Seq[String]].head()
    assert(out == Seq("a", "b", "c"))
  }

  test("removeFieldsMatching drops by name regex") {
    val df = Seq((1, 2, 3)).toDF("keep", "tmp_a", "tmp_b")
    val out = RecordOps.removeFieldsMatching("tmp_.*")(df)
    assert(out.columns.toSeq == Seq("keep"))
  }
}
