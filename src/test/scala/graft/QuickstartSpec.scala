package graft

import org.apache.spark.sql.functions._

/** Doc-test for README.md's Quickstart: the code block there is THIS test
  * body, verbatim (modulo the surrounding val/assert plumbing marked
  * below). If this spec changes, update the README block with it.
  */
class QuickstartSpec extends SparkSpec {

  test("README quickstart compiles and runs end-to-end") {
    val data = sf0 // README: val data = "/root/testdata/sf0.001"
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    graft.io.Sinks.KafkaEnv.sender = // README: wire a real producer here
      batch => batch.foreach { case (topic, _, value) =>
        sent.add(topic -> new String(value, "UTF-8")); ()
      }
    try {
      // ---- README block begins ----
      import graft.pipeline.PipelineSpec
      import graft.streaming.StreamingOps
      import graft.io.Sinks

      // 1. Compile a pipeline from morphline HOCON (the reference's
      //    query language). Compilation happens once, on the driver;
      //    the result is a plain `DataFrame => DataFrame`.
      val pipeline = PipelineSpec.fromHocon(
        """morphlines : [ {
          |  id : quickstart
          |  commands : [
          |    { fromConnectData { valueField : _value, converter : string } }
          |    { readJson { schema : "doc_id BIGINT, lang STRING, text STRING" } }
          |    { extractJsonPaths { flatten : true, paths : {
          |        doc_id : /doc_id, lang : /lang, text : /text } } }
          |    { equals { lang : en } }
          |    { setValues { route : curated } }
          |  ]
          |} ]""".stripMargin, "quickstart")

      // 2. Batch: apply it to parquet rows shaped like the Kafka source
      //    envelope (key, value, topic, partition, offset). Everything
      //    composes into ONE Catalyst plan — filters push down to the scan.
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val envelope = docs.select(
        lit(null).cast("binary").as("key"),
        to_json(struct(col("doc_id"), col("lang"), col("text"))).as("value"),
        lit("docs").as("topic"), lit(0).as("partition"),
        col("doc_id").as("offset"))
      val curated = pipeline(envelope) // columns: doc_id, lang, text, route

      // 3. Streaming: the SAME pipeline runs unchanged on a stream;
      //    produce each micro-batch to a kafka-shaped sink with a
      //    per-row topic (with a broker, use StreamingOps.kafkaSink).
      val staged = tempDir("graft-quickstart").toString // README: Files.createTempDirectory
      envelope.write.mode("overwrite").parquet(staged)
      val q = pipeline(StreamingOps.fileSource(spark, envelope.schema, staged))
        .transform(df => Sinks.kafkaProduce(df,
          topic = concat(lit("curated-"), col("lang")),
          key = col("doc_id").cast("string").cast("binary"),
          value = col("text").cast("binary")))
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // ---- README block ends ----

      val rows = curated.collect()
      assert(rows.nonEmpty, "quickstart pipeline kept no rows")
      assert(curated.columns.contains("route") &&
        rows.forall(_.getAs[String]("route") == "curated"))
      assert(rows.forall(_.getAs[String]("lang") == "en"),
        "equals{lang:en} must filter the batch path")
      val produced = sent.toArray(Array.empty[(String, String)])
      assert(produced.nonEmpty, "streaming path produced nothing")
      assert(produced.forall(_._1 == "curated-en"),
        s"unexpected topics: ${produced.map(_._1).distinct.take(3).toSeq}")
      assert(produced.length == rows.length,
        "stream must produce exactly the batch-kept rows")
    } finally graft.io.Sinks.KafkaEnv.reset()
  }
}
