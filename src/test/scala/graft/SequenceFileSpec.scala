package graft

import graft.io.Sources
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{BytesWritable, SequenceFile, Text}

/** `readSequenceFile` round-trip: write a Hadoop SequenceFile in-test
  * (no fixture data in the container), read through the documented
  * mapping, and check the attachment shape downstream parsers consume.
  */
class SequenceFileSpec extends SparkSpec {
  import spark.implicits._

  test("sequence file of (Text, BytesWritable) round-trips to (key, body)") {
    val dir = tempDir("graft-seqfile")
    val file = new Path(dir.resolve("part-00000.seq").toString)
    val conf = new Configuration()
    val writer = SequenceFile.createWriter(conf,
      SequenceFile.Writer.file(file),
      SequenceFile.Writer.keyClass(classOf[Text]),
      SequenceFile.Writer.valueClass(classOf[BytesWritable]))
    val payloads = Seq(
      "k1" -> """{"id": 1, "msg": "first"}""",
      "k2" -> """{"id": 2, "msg": "second"}""",
      "k3" -> "")
    try payloads.foreach { case (k, v) =>
      writer.append(new Text(k), new BytesWritable(v.getBytes("UTF-8")))
    } finally writer.close()

    val out = Sources.readSequenceFile(spark, file.toString)
      .withColumn("text", org.apache.spark.sql.functions.col("body").cast("string"))
      .select("key", "text").as[(String, String)].collect().sortBy(_._1)
    assert(out.toSeq == payloads.sortBy(_._1),
      s"round-trip mismatch: ${out.toSeq}")

    // Writable-reuse hazard: keys/bodies must be materialized copies, not
    // views of Hadoop's recycled buffers — distinct values prove it
    assert(out.map(_._1).distinct.length == 3)
  }

  test("downstream parser consumes the body column (readJson over sequence-file input)") {
    val dir = tempDir("graft-seqfile2")
    val file = new Path(dir.resolve("data.seq").toString)
    val writer = SequenceFile.createWriter(new Configuration(),
      SequenceFile.Writer.file(file),
      SequenceFile.Writer.keyClass(classOf[Text]),
      SequenceFile.Writer.valueClass(classOf[BytesWritable]))
    try writer.append(new Text("a"),
      new BytesWritable("""{"id": 7}""".getBytes("UTF-8")))
    finally writer.close()

    val parsed = graft.ops.ParserOps.readJson("body",
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT"))
      .apply(Sources.readSequenceFile(spark, file.toString))
    assert(parsed.select("json.id").as[Long].collect().toSeq == Seq(7L))
  }
}
