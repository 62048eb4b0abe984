package graft

import graft.pipeline.{Pipeline, PipelineSpec}

/** Config-driven pipeline compilation: the reference's identity.conf#readjson
  * chain (readJson → extractJsonPaths → rename) and friends written as
  * HOCON morphlines and compiled through the standard registry — the port
  * path for a morphline user.
  */
class StandardOpsSpec extends SparkSpec {
  import spark.implicits._

  val personJson =
    """{"firstName": "example", "lastName": "user", "email": "example.user@example.com", "age": 27}"""

  private def morphline(commands: String): Pipeline =
    PipelineSpec.fromHocon(
      s"morphlines : [ { id : t, commands : [ $commands ] } ]", "t")

  test("identity.conf#readjson chain compiles from a spec and matches golden") {
    val pipe = morphline(
      """{ readJson { field : value,
        |    schema : "firstName STRING, lastName STRING, email STRING, age INT" } }
        |{ extractJsonPaths { paths { first_name : firstName,
        |    last_name : lastName, email_x : email, age_x : age } } }""".stripMargin)
    val df = Seq(personJson).toDF("value")
    val out = pipe(df).select("first_name", "last_name", "email_x", "age_x").head()
    assert(out.getString(0) == "example")
    assert(out.getString(1) == "user")
    assert(out.getString(2) == "example.user@example.com")
    assert(out.getInt(3) == 27)
  }

  test("producer.conf chain: setValues + generateUUID from spec") {
    val pipe = morphline(
      """{ setValues { topic : "@{topic}-copy", value : test } }
        |{ generateUUID { field : key } }""".stripMargin)
    val df = Seq(("testing", "orig")).toDF("topic", "value")
    val r = pipe(df).select("topic", "value", "key").head()
    assert(r.getString(0) == "testing-copy" && r.getString(1) == "test")
    assert(r.getString(2).length == 36)
  }

  test("control-flow commands from spec: equals / head / dropRecord-where") {
    val df = (1 to 10).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par")
    val pipe = morphline(
      """{ equals { field : par, value : even } }
        |{ dropRecord { where : "id > 8" } }
        |{ head { limit : 2 } }""".stripMargin)
    assert(pipe(df).select("id").as[Long].collect().toSeq.sorted == Seq(2L, 4L))
  }

  test("translate + convertTimestamp + grok from spec") {
    val df = Seq(("GERMANY", "01/20/2017", "WARN x=9")).toDF("n", "d", "log")
    // a scalar in a list position splits on ','
    val pipe = morphline(
      """{ translate { field : n, dictionary { GERMANY : DE, FRANCE : FR },
        |    fallback : "??", outputField : code } }
        |{ convertTimestamp { field : d, inputFormats : "yyyy-MM-dd,MM/dd/yyyy",
        |    outputFormat : "yyyy-MM-dd" } }
        |{ grok { field : log, pattern : "%{LOGLEVEL:lvl} x=%{INT:x}" } }""".stripMargin)
    val r = pipe(df).select("code", "d", "lvl", "x").head()
    assert(r.toSeq == Seq("DE", "2017-01-20", "WARN", "9"))
  }

  test("JSON pipeline spec compiles and runs (morphline-config analogue)") {
    // a strict-JSON morphline document: HOCON is a JSON superset
    val spec =
      """{ "morphlines": [ { "id": "readjson",
        |  "commands": [
        |    { "readJson": { "field": "value",
        |      "schema": "firstName STRING, lastName STRING, email STRING, age INT" } },
        |    { "extractJsonPaths": {
        |      "paths": { "first_name": "firstName", "age_x": "age" } } },
        |    { "dropRecord": { "where": "age_x > 100" } } ] } ] }""".stripMargin
    val pipe = PipelineSpec.fromHocon(spec, "readjson")
    assert(pipe.id == "readjson")
    val out = pipe(Seq(personJson).toDF("value"))
      .select("first_name", "age_x").head()
    assert(out.getString(0) == "example" && out.getInt(1) == 27)
  }

  test("nested if/tryRules control flow compiles from HOCON") {
    val pipe = morphline(
      """{ if { condition : "v > 100",
        |    then : [ { setValues { tier : high } } ],
        |    else : [ { setValues { tier : low } } ] } }
        |{ tryRules {
        |    rules : [
        |      { condition : "et = 'purchase'",
        |        commands : [ { setValues { rule : p } } ] },
        |      { condition : "v > 150",
        |        commands : [ { setValues { rule : hv } } ] } ],
        |    catchAll : [ { setValues { rule : def } } ] } }""".stripMargin)
    val df = Seq((1, "purchase", 200.0), (2, "view", 170.0), (3, "view", 10.0))
      .toDF("id", "et", "v")
    val out = pipe(df).select("id", "tier", "rule")
      .as[(Int, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(1 -> ("high", "p"), 2 -> ("high", "hv"), 3 -> ("low", "def")))
  }

  test("an if without then runs its else branch alone") {
    val pipe = morphline(
      """{ if { condition : "v > 100",
        |    else : [ { setValues { tier : low } } ] } }""".stripMargin)
    val out = pipe(Seq((1, 200.0), (2, 10.0)).toDF("id", "v"))
      .select("id", "tier").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> null, 2 -> "low"))
  }

  test("a tryRules without rules fails with a config error") {
    val e = intercept[IllegalArgumentException](morphline("{ tryRules {} }"))
    assert(e.getMessage.contains("tryRules needs a 'rules' array"))
  }

  test("unknown command fails at compile with known names listed") {
    val e = intercept[IllegalArgumentException](morphline("{ nope {} }"))
    assert(e.getMessage.contains("readJson"))
  }

  test("setValues assigns in config order; a later key reads an earlier one") {
    val pipe = morphline(
      """{ setValues { a : x, b : "@{a}", c : "@{b}-c", d : d, e : "@{a}@{d}" } }""")
    val out = pipe(Seq(1).toDF("id"))
    assert(out.columns.toSeq == Seq("id", "a", "b", "c", "d", "e"))
    assert(out.select("b", "c", "e").as[(String, String, String)].head() ==
      ("x", "x-c", "xd"))
  }

  test("translate dictionary keys and values keep ',' and ':'") {
    val pipe = morphline(
      """{ translate { field : n, dictionary { "a:b" : X, c : "d,e" },
        |    outputField : t } }""".stripMargin)
    val out = pipe(Seq("a:b", "c", "a").toDF("n"))
      .select("n", "t").as[(String, String)].collect().toMap
    assert(out == Map("a:b" -> "X", "c" -> "d,e", "a" -> ""))
  }

  test("extractJsonPaths output names keep ',' and ':'") {
    val pipe = morphline(
      """{ readJson { field : value, schema : "a STRING, b STRING" } }
        |{ extractJsonPaths { paths { "o:1" : /a, "o,2" : /b } } }""".stripMargin)
    val out = pipe(Seq("""{"a": "x", "b": "y"}""").toDF("value"))
    assert(out.columns.takeRight(2).toSeq == Seq("o:1", "o,2"))
    assert(out.select("`o:1`", "`o,2`").as[(String, String)].head() == ("x", "y"))
  }

  test("toConnectData mapping names keep ',' and ':'") {
    val pipe = morphline(
      """{ toConnectData { mappings { "k:1" : n, "k,2" : m } } }""")
    val out = pipe(Seq(("x", "y")).toDF("n", "m"))
    assert(out.columns.toSeq == Seq("k:1", "k,2"))
    assert(out.as[(String, String)].head() == ("x", "y"))
  }
}
