package graft

import graft.pipeline.StandardOps
import org.apache.spark.sql.functions._

/** Config-driven pipeline compilation: the reference's identity.conf#readjson
  * chain (readJson → extractJsonPaths → rename) expressed as a spec and
  * compiled through the standard registry — the port path for a morphline
  * user.
  */
class StandardOpsSpec extends SparkSpec {
  import spark.implicits._

  val personJson =
    """{"firstName": "example", "lastName": "user", "email": "example.user@example.com", "age": 27}"""

  test("identity.conf#readjson chain compiles from a spec and matches golden") {
    val pipe = StandardOps.compile("readjson", Seq(
      "readJson" -> Map(
        "field" -> "value",
        "schema" -> "firstName STRING, lastName STRING, email STRING, age INT"),
      "extractJsonPaths" -> Map(
        "paths" -> ("first_name:firstName, last_name:lastName, " +
          "email_x:email, age_x:age"))))
    val df = Seq(personJson).toDF("value")
    val out = pipe(df).select("first_name", "last_name", "email_x", "age_x").head()
    assert(out.getString(0) == "example")
    assert(out.getString(1) == "user")
    assert(out.getString(2) == "example.user@example.com")
    assert(out.getInt(3) == 27)
  }

  test("producer.conf chain: setValues + generateUUID from spec") {
    val pipe = StandardOps.compile("producer", Seq(
      "setValues" -> Map("topic" -> "@{topic}-copy", "value" -> "test"),
      "generateUUID" -> Map("field" -> "key")))
    val df = Seq(("testing", "orig")).toDF("topic", "value")
    val r = pipe(df).select("topic", "value", "key").head()
    assert(r.getString(0) == "testing-copy" && r.getString(1) == "test")
    assert(r.getString(2).length == 36)
  }

  test("control-flow commands from spec: equals / head / dropRecord-where") {
    val df = (1 to 10).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par")
    val pipe = StandardOps.compile("ctl", Seq(
      "equals" -> Map("field" -> "par", "value" -> "even"),
      "dropRecord" -> Map("where" -> "id > 8"),
      "head" -> Map("limit" -> "2")))
    assert(pipe(df).select("id").as[Long].collect().toSeq.sorted == Seq(2L, 4L))
  }

  test("translate + convertTimestamp + grok from spec") {
    val df = Seq(("GERMANY", "01/20/2017", "WARN x=9")).toDF("n", "d", "log")
    val pipe = StandardOps.compile("mix", Seq(
      "translate" -> Map("field" -> "n", "dictionary" -> "GERMANY:DE,FRANCE:FR",
        "fallback" -> "??", "outputField" -> "code"),
      "convertTimestamp" -> Map("field" -> "d",
        "inputFormats" -> "yyyy-MM-dd,MM/dd/yyyy", "outputFormat" -> "yyyy-MM-dd"),
      "grok" -> Map("field" -> "log", "pattern" -> "%{LOGLEVEL:lvl} x=%{INT:x}")))
    val r = pipe(df).select("code", "d", "lvl", "x").head()
    assert(r.toSeq == Seq("DE", "2017-01-20", "WARN", "9"))
  }

  test("JSON pipeline spec compiles and runs (morphline-config analogue)") {
    val spec =
      """{ "id": "readjson",
        |  "commands": [
        |    { "command": "readJson", "field": "value",
        |      "schema": "firstName STRING, lastName STRING, email STRING, age INT" },
        |    { "command": "extractJsonPaths",
        |      "paths": "first_name:firstName, age_x:age" },
        |    { "command": "dropRecord", "where": "age_x > 100" } ] }""".stripMargin
    val pipe = graft.pipeline.PipelineSpec.fromJson(spec)
    assert(pipe.id == "readjson")
    val out = pipe(Seq(personJson).toDF("value"))
      .select("first_name", "age_x").head()
    assert(out.getString(0) == "example" && out.getInt(1) == 27)
  }

  test("nested if/tryRules control flow compiles from a JSON spec") {
    val spec =
      """{ "id": "routing", "commands": [
        |  { "command": "if", "condition": "v > 100",
        |    "then": [ { "command": "setValues", "tier": "high" } ],
        |    "else": [ { "command": "setValues", "tier": "low" } ] },
        |  { "command": "tryRules", "rules": [
        |      { "condition": "et = 'purchase'",
        |        "commands": [ { "command": "setValues", "rule": "p" } ] },
        |      { "condition": "v > 150",
        |        "commands": [ { "command": "setValues", "rule": "hv" } ] } ],
        |    "catchAll": [ { "command": "setValues", "rule": "def" } ] } ] }"""
        .stripMargin
    val pipe = graft.pipeline.PipelineSpec.fromJson(spec)
    val df = Seq((1, "purchase", 200.0), (2, "view", 170.0), (3, "view", 10.0))
      .toDF("id", "et", "v")
    val out = pipe(df).select("id", "tier", "rule")
      .as[(Int, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(1 -> ("high", "p"), 2 -> ("high", "hv"), 3 -> ("low", "def")))
  }

  test("a JSON if without then runs its else branch alone") {
    val spec =
      """{ "id": "else-only", "commands": [
        |  { "command": "if", "condition": "v > 100",
        |    "else": [ { "command": "setValues", "tier": "low" } ] } ] }"""
        .stripMargin
    val pipe = graft.pipeline.PipelineSpec.fromJson(spec)
    val out = pipe(Seq((1, 200.0), (2, 10.0)).toDF("id", "v"))
      .select("id", "tier").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> null, 2 -> "low"))
  }

  test("a JSON tryRules without rules fails with a config error") {
    val e = intercept[IllegalArgumentException](
      graft.pipeline.PipelineSpec.fromJson(
        """{ "commands": [ { "command": "tryRules" } ] }"""))
    assert(e.getMessage.contains("tryRules needs a 'rules' array"))
  }

  test("unknown command fails at compile with known names listed") {
    val e = intercept[IllegalArgumentException](
      StandardOps.compile("bad", Seq("nope" -> Map())))
    assert(e.getMessage.contains("readJson"))
  }
}
