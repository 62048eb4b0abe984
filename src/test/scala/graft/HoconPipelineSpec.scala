package graft

import graft.pipeline.PipelineSpec
import org.apache.spark.sql.functions._

/** HOCON compatibility: compile the reference's ACTUAL morphline config
  * files (identity.conf / transform.conf, read verbatim from the reference
  * tree) and reproduce MorphlineTransformTest's semantics on the same
  * person-record fixtures (Records.java:29-128).
  */
class HoconPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val refDir =
    "/root/reference/src/test/resources/com/github/epheatt/kafka/connect/morphlines"
  private def conf(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$refDir/$name")), "UTF-8")

  private val personJson =
    """{"firstName": "example", "lastName": "user", "email": "example.user@example.com", "age": 27}"""

  /** The SinkRecord fixture (topic "test") as the Kafka-shaped envelope. */
  private def record = Seq(
    (null: Array[Byte], personJson, "test", 0, 0L)
  ).toDF("key", "value", "topic", "partition", "offset")

  test("identity.conf#readjson compiles and reproduces testReadJson (:245-263)") {
    val pipe = PipelineSpec.fromHocon(conf("identity.conf"), "readjson")
    val out = pipe(record)
    assert(out.columns.toSeq == Seq("firstName", "lastName", "email", "age"),
      "toConnectData mappings must define exactly the connect value fields")
    val r = out.head()
    assert(r.getAs[String]("firstName") == "example")
    assert(r.getAs[String]("lastName") == "user")
    assert(r.getAs[String]("email") == "example.user@example.com")
    assert(r.getAs[Number]("age").intValue == 27)
  }

  test("identity.conf#readline compiles and reproduces testReadLine's golden string (:287-301)") {
    val pipe = PipelineSpec.fromHocon(conf("identity.conf"), "readline")
    val got = pipe(record).select(col("value").cast("string")).as[String].head()
    assert(got ==
      """{"firstName":"example","lastName":"user","email":"example.user@example.com","age":27}""")
  }

  test("transform.conf#drop compiles and reproduces testDrop (:216-242)") {
    val pipe = PipelineSpec.fromHocon(conf("transform.conf"), "drop")
    assert(pipe(record).count() == 0)
  }

  test("transform.conf#transform compiles: extract, uuid key, rebuilt value") {
    val pipe = PipelineSpec.fromHocon(conf("transform.conf"), "transform")
    val in = Seq((null: Array[Byte],
      """{"name": "the-name", "config": {"topic": "t1"}}""", "test", 0, 0L))
      .toDF("key", "value", "topic", "partition", "offset")
    val got = pipe(in).select(col("value").cast("string")).as[String].head()
    // key is a fresh uuid — assert the surrounding golden shape
    assert(got.matches(
      """\{"name":"the-name","topic":"t1","key":"[0-9a-f-]{36}"\}"""), got)
  }

  test("transform.conf#enrichjson compiles: null-fills `missing` per the avro schema") {
    val pipe = PipelineSpec.fromHocon(conf("transform.conf"), "enrichjson")
    val in = Seq((null: Array[Byte],
      """{"dont": "whatever", "abc": 42, "foo": true, "etc": "etc"}""",
      "test", 0, 0L)).toDF("key", "value", "topic", "partition", "offset")
    val out = pipe(in)
    val body = out.select(col("_attachment_body.*")).head()
    assert(body.getAs[String]("dont") == "whatever")
    assert(body.getAs[Number]("abc").intValue == 42)
    assert(body.getAs[Boolean]("foo"))
    assert(body.getAs[String]("etc") == "etc")
    assert(body.isNullAt(body.fieldIndex("missing")))
  }

  test("Kite config idioms: field→values equals, nested not, list contains") {
    // the Kite-stdlib shapes verbatim: `equals` with a record-field map,
    // `not` wrapping a nested command, `contains` with a value list
    val kiteConf =
      """morphlines : [
        |  {
        |    id : kite
        |    commands : [
        |      { equals { lang : en } }
        |      { not { equals { source : web } } }
        |      { contains { tags : [keep, gold] } }
        |    ]
        |  }
        |]""".stripMargin
    val pipe = PipelineSpec.fromHocon(kiteConf, "kite")
    val in = Seq(
      (1L, "en", "web", Seq("keep")),
      (2L, "en", "books", Seq("gold", "x")),
      (3L, "fr", "web", Seq("x")),
      (4L, "en", null, Seq("keep")))
      .toDF("id", "lang", "source", "tags")
    // 1 dropped by not(equals source=web); 3 by equals lang=en;
    // 4's null source does NOT equal web → not keeps it (kite parity)
    assert(pipe(in).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
  }

  test("Kite equals list semantics: array field is List.equals, scalar can't match a list") {
    val listConf =
      """morphlines : [
        |  { id : l, commands : [ { equals { tags : [a, b] } } ] }
        |]""".stripMargin
    val pipe = PipelineSpec.fromHocon(listConf, "l")
    val in = Seq(
      (1L, Seq("a", "b")),   // exact list match
      (2L, Seq("b", "a")),   // order matters for List.equals
      (3L, Seq("a", "b", "c")))
      .toDF("id", "tags")
    assert(pipe(in).select("id").as[Long].collect().toSeq == Seq(1L))
    // multi-value list against a single-valued field never matches
    val scalarIn = Seq((1L, "a")).toDF("id", "tags")
    assert(pipe(scalarIn).count() == 0)
  }

  test("Kite value-list elements containing commas survive the config carrier") {
    // ["a, b"] is ONE element with an embedded comma — a list takes an
    // array's elements whole, never splitting one into two values
    val listConf =
      """morphlines : [
        |  { id : c, commands : [ { contains { title : ["a, b", solo] } } ] }
        |]""".stripMargin
    val pipe = PipelineSpec.fromHocon(listConf, "c")
    val in = Seq(
      (1L, "a, b"),  // matches the comma-bearing element
      (2L, "a"),     // half of the mangled split — must NOT match
      (3L, "b"),     // other half — must NOT match
      (4L, "solo"))
      .toDF("id", "title")
    assert(pipe(in).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("not rejects wrapping a non-predicate command") {
    val bad =
      """morphlines : [
        |  { id : b, commands : [ { not { generateUUID { field : u } } } ] }
        |]""".stripMargin
    val e = intercept[IllegalArgumentException] {
      PipelineSpec.fromHocon(bad, "b")
    }
    assert(e.getMessage.contains("predicate"))
  }

  test("unknown morphline id fails with the available ids") {
    val e = intercept[IllegalArgumentException] {
      PipelineSpec.fromHocon(conf("identity.conf"), "nope")
    }
    assert(e.getMessage.contains("readjson") && e.getMessage.contains("readline"))
  }
}
