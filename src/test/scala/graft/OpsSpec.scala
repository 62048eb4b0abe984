package graft

import graft.functions.{Grok, Interp, TimeFunctions}
import graft.ops.{ControlOps, ParserOps, RecordOps}
import graft.pipeline.{Op, OpRegistry, Pipeline, PipelineSpec}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("interpolate compiles @{field} refs into concat; missing→empty") {
    val df = Seq(("t1", 7)).toDF("topic", "n")
    val got = df.select(
      Interp.interpolate("@{topic}-avro/@{n}").as("s")).as[String].head()
    assert(got == "t1-avro/7")
    val nulls = Seq((null: String, 7)).toDF("topic", "n")
    assert(nulls.select(Interp.interpolate("x@{topic}y").as("s"))
      .as[String].head() == "xy")
    // absent column renders empty via setValues (morphline semantics)
    val absent = RecordOps.setValues("s" -> "a@{no_such_col}b")(nulls)
      .select("s").as[String].head()
    assert(absent == "ab")
    // a column literally named "a.b" (morphline field names may carry
    // dots) must resolve as ITSELF through the known-column path, not as
    // a nested field access
    val dotted = Seq("v").toDF("a.b")
    assert(RecordOps.setValues("s" -> "<@{a.b}>")(dotted)
      .select("s").as[String].head() == "<v>")
    // @{} renders the whole record as JSON (logInfo args shape)
    val whole = RecordOps.setValues("s" -> "rec=@{}")(
        Seq(("x", 1)).toDF("a", "b"))
      .select("s").as[String].head()
    assert(whole == """rec={"a":"x","b":1}""")
  }

  test("grok expansion produces fields; non-match yields nulls") {
    val (regex, fields) = Grok.expand("%{LOGLEVEL:lvl} %{INT:n}")
    assert(fields == Seq("lvl", "n"))
    val df = Seq("WARN 42", "nope").toDF("line")
    val out = Grok.extract(df, col("line"), "%{LOGLEVEL:lvl} %{INT:n}")
      .select("lvl", "n").collect()
    assert(out(0).getString(0) == "WARN" && out(0).getString(1) == "42")
    assert(out(1).isNullAt(0) && out(1).isNullAt(1))
  }

  test("grok base dictionary covers an apache-style access log line") {
    val line = """10.0.0.7 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326"""
    val df = Seq(line).toDF("l")
    val out = Grok.extract(df, col("l"),
      "%{IP:ip} - %{USERNAME:user} \\[%{HTTPDATE:ts}\\] \"%{HTTPMETHOD:method} %{URIPATH:path} HTTP/%{BASE10NUM:ver}\" %{INT:status} %{INT:bytes}")
      .select("ip", "user", "method", "path", "status").head()
    assert(out.toSeq == Seq("10.0.0.7", "frank", "GET", "/apache_pb.gif", "200"))
  }

  test("convertTimestamp: multi-format coalesce + unix millis") {
    val df = Seq(("01/20/2017", "1484897702123")).toDF("us", "ms")
    val r = df.select(
      TimeFunctions.convertTimestamp(col("us"),
        Seq("yyyy-MM-dd", "MM/dd/yyyy"), "yyyy-MM-dd").as("a"),
      TimeFunctions.convertTimestamp(col("ms"),
        Seq("unixTimeInMillis"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("b")).head()
    assert(r.getString(0) == "2017-01-20")
    assert(r.getString(1) == "2017-01-20T07:35:02.123Z")
  }

  test("translate: literal-map lookup with default") {
    val df = Seq("GERMANY", "ELBONIA").toDF("n")
    val out = RecordOps.translate("n", Map("GERMANY" -> "DE"), lit("??"), "c")(df)
      .select("c").as[String].collect()
    assert(out.toSeq == Seq("DE", "??"))
  }

  test("addValues promotes scalar to array and appends") {
    val df = Seq(("a")).toDF("f")
    val out = RecordOps.addValues("f", lit("b"), lit("c"))(df)
      .select("f").as[Seq[String]].head()
    assert(out == Seq("a", "b", "c"))
  }

  test("readMultiLine stitches continuation lines") {
    val df = Seq("line1\n  cont1\nline2").toDF("payload")
    val out = ParserOps.readMultiLine("payload", "\\s")(df)
      .select("line").as[String].collect()
    assert(out.toSeq == Seq("line1\n  cont1", "line2"))
  }

  test("splitKeyValue parses k=v pairs") {
    val df = Seq("a=1,b=2").toDF("kv")
    val m = RecordOps.splitKeyValue("kv", "m")(df)
      .select("m").as[Map[String, String]].head()
    assert(m == Map("a" -> "1", "b" -> "2"))
  }

  test("findReplace is literal by default: regex metachars in pattern AND " +
      "$-groups in replacement are data; isRegex restores regex semantics") {
    val df = Seq("cost: $1.50").toDF("s")
    assert(RecordOps.findReplace("s", "$1.50", "$2.00")(df)
      .select("s").as[String].head() == "cost: $2.00")
    assert(RecordOps.findReplace("s", "[$]\\d[.]\\d+", "X", isRegex = true)(df)
      .select("s").as[String].head() == "cost: X")
  }

  test("split separators are literal by default (kite isRegex semantics): " +
      "'|' and '.' split on themselves, not as regex metacharacters") {
    val df = Seq("a|b|c").toDF("s")
    val toks = RecordOps.splitField("s", "|", "t")(df)
      .select("t").as[Seq[String]].head()
    assert(toks == Seq("a", "b", "c"),
      s"'|' split as regex alternation: $toks") // regex '|' → per-char split
    val dots = Seq("x.y").toDF("s")
    assert(RecordOps.splitField("s", ".", "t")(dots)
      .select("t").as[Seq[String]].head() == Seq("x", "y"))
    // the regex path stays available behind the kite flag
    assert(RecordOps.splitField("s", "[.]", "t", isRegex = true)(dots)
      .select("t").as[Seq[String]].head() == Seq("x", "y"))
    // splitKeyValue with regex-hostile separators
    val kv = Seq("a=1|b=2").toDF("kv")
    assert(RecordOps.splitKeyValue("kv", "m", pairSep = "|")(kv)
      .select("m").as[Map[String, String]].head() ==
      Map("a" -> "1", "b" -> "2"))
  }

  test("tryRules routes each record to first matching rule only") {
    val df = Seq((1, "purchase", 200.0), (2, "view", 200.0), (3, "view", 10.0))
      .toDF("id", "et", "v")
    val out = ControlOps.tryRules(
      Seq(
        (col("et") === "purchase", (d: org.apache.spark.sql.DataFrame) =>
          d.withColumn("rule", lit("p"))),
        (col("v") > 100, (d: org.apache.spark.sql.DataFrame) =>
          d.withColumn("rule", lit("hv")))),
      Some((d: org.apache.spark.sql.DataFrame) => d.withColumn("rule", lit("def"))))(df)
      .select("id", "rule").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "p", 2 -> "hv", 3 -> "def"))
  }

  test("dead-letter split partitions valid/invalid") {
    val df = Seq(1, 2, -1).toDF("v")
    val (ok, dead) = ControlOps.deadLetterSplit(df, col("v") > 0)
    assert(ok.count() == 2 && dead.count() == 1)
  }

  test("op registry builds by name, unknown op fails with names listed") {
    val reg = new OpRegistry()
      .register("head")(cfg => ControlOps.head(cfg("n").toInt))
    def compile(command: String) = PipelineSpec.fromHocon(
      s"morphlines : [ { id : r, commands : [ $command ] } ]", "r", reg)
    val df = Seq(1, 2, 3).toDF("v")
    assert(compile("{ head { n : 2 } }")(df).count() == 2)
    val e = intercept[IllegalArgumentException](compile("{ nope {} }"))
    assert(e.getMessage.contains("head"))
  }

  test("pipeline composes ops in order") {
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s")
    val p = Pipeline("p", Seq(
      Op("f")(_.filter(col("id") > 1)),
      RecordOps.setValues("s2" -> "@{s}!")))
    val out = p(df).select("s2").as[String].collect().sorted
    assert(out.toSeq == Seq("b!", "c!"))
  }
}
