package graft

import graft.ops.{ControlOps, RecordOps}
import graft.pipeline.{Op, Pipeline, PipelineSpec, ProjectionOp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared fixtures: the benchmark's morphline and a small envelope batch
  * that reaches every branch of its `tryRules` and `if`. */
object BranchFusionSpec {
  val EnvelopeSchema: StructType = StructType.fromDDL(
    "key STRING, value STRING, topic STRING, partition INT, offset BIGINT, timestamp TIMESTAMP")

  /** `perfbench/etl.conf` compiled with a stand-in Avro value schema. */
  def etl: Pipeline = PipelineSpec.fromHoconFile("perfbench/etl.conf", "etl",
    env = k => if (k == "ETL_VALUE_SCHEMA") Some("""{"type":"string"}""") else None)

  /** Its commands up to (not including) the sink. */
  def etlBody: Seq[Op] = etl.ops.takeWhile(_.name != "kafkaProducer")

  def envelopes: Seq[Row] = {
    val kinds = Seq("purchase", "click", "heartbeat", "view")
    val statuses = Seq("200", "503", "404", "-")
    val amounts = Seq("5", "1500", "null", "999")
    for (i <- 0 until 32) yield {
      val kind = kinds(i % kinds.size)
      val status = statuses((i / 4) % statuses.size)
      val log = s"""10.0.0.$i - u$i [01/Jan/2026:00:00:0${i % 10} +0000] "GET /api/v1/items/$i HTTP/1.1" $status ${100 + i}"""
      val json = s"""{"id":$i,"user":"u$i","kind":"$kind","amount":${amounts((i / 8) % 4)},""" +
        s""""ts":${1767225600000L + i},"log":"${log.replace("\"", "\\\"")}","body":"b$i"}"""
      Row(s"k$i", json, s"t${i % 2}", i % 3, i.toLong,
        new java.sql.Timestamp(1767225600000L + i))
    }
  }
}

/** The compiler fuses `if`/`tryRules` branches that only assign columns into
  * one first-match projection. Each test compares that fused form with the
  * union of filtered copies that the `ControlOps` API builds from the same
  * commands: identical columns in identical order, and identical rows as a
  * multiset.
  */
class BranchFusionSpec extends SparkSpec {
  import spark.implicits._
  import BranchFusionSpec._

  private def set(kv: (String, String)*): ProjectionOp = RecordOps.setValues(kv: _*)
  private def chain(ops: Op*): DataFrame => DataFrame =
    df => ops.foldLeft(df)((d, op) => op(d))
  private def run(ops: Seq[Op], df: DataFrame): DataFrame =
    ops.foldLeft(df)((d, op) => op(d))

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.mkString("|")).groupBy(identity).view.mapValues(_.size).toMap

  private def hasUnion(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case u: Union => u }.nonEmpty

  private def assertSame(fused: DataFrame, union: DataFrame): Unit = {
    assert(!hasUnion(fused), "fused form still unions branch copies")
    assert(hasUnion(union))
    assert(fused.columns.toSeq == union.columns.toSeq)
    val (f, u) = (multiset(fused), multiset(union))
    assert(f.nonEmpty, "no rows — vacuous")
    assert(f == u, s"only fused: ${f.toSet diff u.toSet}; only union: ${u.toSet diff f.toSet}")
  }

  private def compile(commands: String): Pipeline =
    PipelineSpec.fromHocon(s"morphlines : [ { id : m, commands : [ $commands ] } ]",
      "m", env = _ => None)
  /** One command compiled exactly as a branch compiles it (a multi-key
    * block's assignment order is the compiler's, not the text's). */
  private def cmd(command: String): Op = compile(command).ops.last

  test("the HoconControlFlowSpec config: fused if and tryRules match the union form") {
    val p = PipelineSpec.fromHocon(HoconControlFlowSpec.conf, "ctrl")
    assert(p.ops(1).isInstanceOf[ProjectionOp]) // if keeps every row
    assert(!p.ops(2).isInstanceOf[ProjectionOp]) // no catchAll: drops unmatched
    val union = Seq(p.ops.head,
      ControlOps.ifThenElse(expr("value > 100"),
        chain(set("bucket" -> "big")), chain(set("bucket" -> "small"))),
      ControlOps.tryRules(Seq(
        expr("event_type = 'purchase'") -> chain(set("kind" -> "buy")),
        expr("true") -> chain(set("kind" -> "other")))),
      p.ops(3))
    val df = Seq((1L, "purchase", 150.0), (2L, "view", 50.0),
      (3L, "purchase", 20.0), (4L, null, Double.NaN))
      .toDF("event_id", "event_type", "value")
    assertSame(p(df), run(union, df))
  }

  test("etl.conf: the fused tryRules and if match the union form") {
    val body = etlBody
    val union = body.map { op =>
      op.name match {
        case "tryRules" => ControlOps.tryRules(Seq(
          expr("cast(status as int) >= 500") -> chain(set("route" -> "errors")),
          expr("kind = 'purchase'") -> chain(set("route" -> "orders"))),
          Some(chain(set("route" -> "events"))))
        case "if" => ControlOps.ifThenElse(expr("amount >= 1000"),
          chain(set("tier" -> "high")), chain(set("tier" -> "std")))
        case _ => op
      }
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(envelopes),
      EnvelopeSchema)
    val fused = run(body, df)
    assertSame(fused, run(union, df))
    // every route and tier occurs, so every branch was exercised
    assert(fused.select("route").distinct().count() == 3)
    assert(fused.select("tier").distinct().count() == 2)
  }

  test("null and NaN conditions: null takes else and matches no rule, NaN > x holds") {
    val df = Seq((1, Some(200.0)), (2, Some(5.0)), (3, None), (4, Some(Double.NaN)))
      .toDF("id", "v")
    val ifP = compile("""{ if { condition : "v > 100",
      then : [ { setValues { b : big } } ], else : [ { setValues { b : small } } ] } }""")
    assertSame(ifP(df), run(Seq(ifP.ops.head, ControlOps.ifThenElse(expr("v > 100"),
      chain(set("b" -> "big")), chain(set("b" -> "small")))), df))
    assert(ifP(df).select("id", "b").as[(Int, String)].collect().toMap ==
      Map(1 -> "big", 2 -> "small", 3 -> "small", 4 -> "big"))
    // no catchAll: the null row matches no rule and is dropped
    val rules = compile("""{ tryRules { rules : [
      { condition : "v > 100", commands : [ { setValues { r : hi } } ] }
      { condition : "v < 10", commands : [ { setValues { r : lo } } ] } ] } }""")
    val union = run(Seq(rules.ops.head, ControlOps.tryRules(Seq(
      expr("v > 100") -> chain(set("r" -> "hi")),
      expr("v < 10") -> chain(set("r" -> "lo"))))), df)
    assertSame(rules(df), union)
    assert(rules(df).select("id", "r").as[(Int, String)].collect().toMap ==
      Map(1 -> "hi", 2 -> "lo", 4 -> "hi"))
  }

  test("a branch that replaces an input column keeps its place and type") {
    val df = Seq((1, "a", 5L), (2, "b", 50L), (3, "c", 500L)).toDF("id", "kind", "n")
    val p = compile("""{ tryRules {
      rules : [
        { condition : "n > 100", commands : [ { setValues { kind : "big-@{kind}" } } ] }
        { condition : "n > 10", commands : [ { setValues { extra : "@{kind}", kind : mid } } ] } ]
      catchAll : [ { addValues { field : tags, values : [x, y] } } ] } }""")
    val union = run(Seq(p.ops.head, ControlOps.tryRules(Seq(
      expr("n > 100") -> chain(set("kind" -> "big-@{kind}")),
      expr("n > 10") -> chain(cmd("""{ setValues { extra : "@{kind}", kind : mid } }"""))),
      Some(chain(RecordOps.addValues("tags", lit("x"), lit("y")))))), df)
    assertSame(p(df), union)
    assert(p(df).columns.toSeq == Seq("id", "kind", "n", "extra", "tags"))
  }

  test("an if nested in a tryRules rule fuses with it") {
    val df = Seq((1, 3), (2, 7), (3, 20), (4, 30)).toDF("id", "v")
    val p = compile("""{ tryRules {
      rules : [
        { condition : "v >= 25", commands : [ { setValues { a : top } } ] }
        { condition : "v >= 5", commands : [
            { setValues { a : mid } }
            { if { condition : "v > 10",
                   then : [ { setValues { b : "@{a}-hi" } } ]
                   else : [ { setValues { b : "@{a}-lo", c : "@{v}" } } ] } } ] } ]
      catchAll : [ { setValues { a : low } } ] } }""")
    assert(p.ops(1).isInstanceOf[ProjectionOp])
    val union = run(Seq(p.ops.head, ControlOps.tryRules(Seq(
      expr("v >= 25") -> chain(set("a" -> "top")),
      expr("v >= 5") -> chain(set("a" -> "mid"),
        ControlOps.ifThenElse(expr("v > 10"), chain(set("b" -> "@{a}-hi")),
          chain(cmd("""{ setValues { b : "@{a}-lo", c : "@{v}" } }"""))))),
      Some(chain(set("a" -> "low"))))), df)
    assertSame(p(df), union)
    assert(p(df).select("id", "a", "b", "c").as[(Int, String, String, String)]
      .collect().sortBy(_._1).toSeq == Seq((1, "low", null, null),
      (2, "mid", "mid-lo", "7"), (3, "mid", "mid-hi", null), (4, "top", null, null)))
  }

  test("a rule does not see the columns a sibling rule sets") {
    val df = Seq((1, "p"), (2, "q")).toDF("id", "k")
    val p = compile("""{ tryRules { rules : [
      { condition : "k = 'p'", commands : [ { setValues { x : set } }
          { addValues { field : w, values : [a] } } ] }
      { condition : "true", commands : [ { setValues { y : "@{x}", z : "@{}" } }
          { addValues { field : w, values : [b] } } ] } ] } }""")
    val union = run(Seq(p.ops.head, ControlOps.tryRules(Seq(
      expr("k = 'p'") -> chain(set("x" -> "set"),
        RecordOps.addValues("w", lit("a"))),
      expr("true") -> chain(cmd("""{ setValues { y : "@{x}", z : "@{}" } }"""),
        RecordOps.addValues("w", lit("b")))))), df)
    assertSame(p(df), union)
    val r = p(df).filter($"id" === 2).select("x", "y", "z", "w").head()
    // w is absent in rule 1's view: addValues starts an empty list, where
    // the sibling's (null there) list would make the result null. z sees
    // y, which the block assigns before it.
    assert(r.isNullAt(0) && r.getString(1) == "" &&
      r.getString(2) == """{"id":2,"k":"q","y":""}""" && r.getSeq[String](3) == Seq("b"))
  }

  test("a streaming run of etl.conf's commands matches the union form in batch") {
    val dir = tempDir("branch-fusion-stream")
    val in = dir.resolve("in").toString
    spark.createDataFrame(spark.sparkContext.parallelize(envelopes, 2),
      EnvelopeSchema).write.json(in)
    val stream = spark.readStream.schema(EnvelopeSchema).json(in)
    val q = run(etlBody, stream).writeStream.format("memory")
      .queryName("branch_fusion_stream")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("branch_fusion_stream")
    val union = run(etlBody.map { op =>
      op.name match {
        case "tryRules" => ControlOps.tryRules(Seq(
          expr("cast(status as int) >= 500") -> chain(set("route" -> "errors")),
          expr("kind = 'purchase'") -> chain(set("route" -> "orders"))),
          Some(chain(set("route" -> "events"))))
        case "if" => ControlOps.ifThenElse(expr("amount >= 1000"),
          chain(set("tier" -> "high")), chain(set("tier" -> "std")))
        case _ => op
      }
    }, spark.read.schema(EnvelopeSchema).json(in))
    assert(streamed.columns.toSeq == union.columns.toSeq)
    assert(multiset(streamed) == multiset(union))
    assert(streamed.count() == envelopes.size * 3 / 4) // heartbeats dropped
  }
}

/** The benchmark morphline's executed plan reads its input once: the fused
  * `tryRules` and `if` leave no union of per-branch copies, each of which
  * re-ran the scan and every `from_json` above it. */
class EtlPlanShapeSpec extends SparkSpec {
  import BranchFusionSpec._

  test("etl.conf up to kafkaProducer scans a JSON file source once, without a union") {
    val in = tempDir("etl-plan-shape").resolve("in").toString
    spark.createDataFrame(spark.sparkContext.parallelize(envelopes),
      EnvelopeSchema).write.json(in)
    val out = etlBody.foldLeft(spark.read.schema(EnvelopeSchema).json(in))(
      (d, op) => op(d))
    out.write.format("noop").mode("overwrite").save()
    import org.apache.spark.sql.execution.SparkPlan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val names = nodes(out.queryExecution.executedPlan).map(_.getClass.getSimpleName)
    assert(names.count(_ == "FileSourceScanExec") == 1, names)
    assert(names.count(_ == "UnionExec") == 0, names)
  }
}
