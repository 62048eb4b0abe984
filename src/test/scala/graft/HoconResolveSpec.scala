package graft

import graft.pipeline.{Hocon, PipelineSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Substitution/resolution semantics of the HOCON reader against the
  * reference's real configs (typesafe-config parity where the reference
  * relies on it: MorphlineSinkTask.java:108,119-127 overrides channel,
  * `${path}` / `${?path}` with env fallback).
  */
class HoconResolveSpec extends AnyFunSuite {

  private val noEnv: String => Option[String] = _ => None

  private def cloudsolr: String = new String(
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/config/cloudsolr.conf")), "UTF-8")

  test("cloudsolr.conf: morphlines.collection override satisfies ${collection}, ${?zkHost} drops") {
    val root = Hocon.resolve(Hocon.parse(cloudsolr),
      overrides = Map("collection" -> "c1"), env = noEnv)
    val locator = root.get("SOLR_LOCATOR")
    assert(locator.get("collection").asText == "c1")
    assert(!locator.has("zkHost"), "optional unresolved ${?zkHost} must drop")
    // the command-level ${SOLR_LOCATOR} references resolve to the same object
    val commands = root.get("morphlines").get(0).get("commands")
    val loadSolrCmd = (0 until commands.size).map(commands.get)
      .find(_.has("loadSolr")).get.get("loadSolr")
    assert(loadSolrCmd.get("solrLocator").get("collection").asText == "c1")
  }

  test("missing required substitution throws; env fallback satisfies it") {
    val ex = intercept[IllegalArgumentException] {
      Hocon.resolve(Hocon.parse(cloudsolr), env = noEnv)
    }
    assert(ex.getMessage.contains("collection"))
    val viaEnv = Hocon.resolve(Hocon.parse(cloudsolr),
      env = k => if (k == "collection") Some("from-env") else None)
    assert(viaEnv.get("SOLR_LOCATOR").get("collection").asText == "from-env")
  }

  test("producer.conf: ${?CONNECT_KAFKA_REST_URL} resolves via the env hook or drops") {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
      .get("/root/reference/src/test/resources/com/github/epheatt/kafka/" +
        "connect/morphlines/producer.conf")), "UTF-8")
    def props(root: com.fasterxml.jackson.databind.JsonNode) = {
      val commands = root.get("morphlines").get(0).get("commands")
      (0 until commands.size).map(commands.get)
        .find(_.has("kafkaProducer")).get.get("kafkaProducer").get("properties")
    }
    val withEnv = Hocon.resolve(Hocon.parse(text),
      env = k => if (k == "CONNECT_KAFKA_REST_URL") Some("http://r:8082") else None)
    assert(props(withEnv).get("kafka-rest-url").asText == "http://r:8082")
    val without = Hocon.resolve(Hocon.parse(text), env = noEnv)
    assert(!props(without).has("kafka-rest-url"))
  }

  test("multi-key substitution cycles are detected") {
    val ex = intercept[IllegalArgumentException] {
      Hocon.resolve(Hocon.parse("a : ${b}\nb : ${a}"), env = noEnv)
    }
    assert(ex.getMessage.contains("cycle"))
  }

  test("self-reference is env inheritance, not a cycle (HOME = ${?HOME})") {
    val resolved = Hocon.resolve(Hocon.parse("HOME : ${?HOME}\nx : 1"),
      env = k => if (k == "HOME") Some("/home/u") else None)
    assert(resolved.get("HOME").asText == "/home/u")
    // without env: optional self-reference drops instead of throwing
    val dropped = Hocon.resolve(Hocon.parse("HOME : ${?HOME}\nx : 1"), env = noEnv)
    assert(!dropped.has("HOME") && dropped.get("x").asInt == 1)
    // required self-reference without env: throws unresolved, not cycle
    val ex = intercept[IllegalArgumentException] {
      Hocon.resolve(Hocon.parse("HOME : ${HOME}"), env = noEnv)
    }
    assert(ex.getMessage.contains("unresolved"))
  }

  test("override descending into a substitution marker replaces the marker") {
    val text = "SOLR_LOCATOR : { collection : c0 }\nsolrLocator : ${SOLR_LOCATOR}"
    val resolved = Hocon.resolve(Hocon.parse(text),
      overrides = Map("solrLocator.collection" -> "c9"), env = noEnv)
    assert(resolved.get("solrLocator").get("collection").asText == "c9",
      "override silently swallowed by the substitution marker")
  }

  test("unquoted value concatenation with a substitution fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      Hocon.parse("key : abc${x}")
    }
    assert(ex.getMessage.contains("concatenation"))
  }
}

/** HOCON control flow: `if`/`tryRules`/`pipe` nested command blocks
  * compile from `.conf` text and apply branch semantics.
  */
class HoconControlFlowSpec extends SparkSpec {
  import spark.implicits._
  import HoconControlFlowSpec.conf

  test("if/tryRules/pipe compile from .conf and apply branch semantics") {
    val pipe = PipelineSpec.fromHocon(conf, "ctrl")
    val input = Seq(
      (1L, "purchase", 150.0),
      (2L, "view", 50.0),
      (3L, "purchase", 20.0))
      .toDF("event_id", "event_type", "value")
    val out = pipe(input).orderBy("event_id")
      .select("event_id", "bucket", "kind", "tagged")
      .as[(Long, String, String, String)].collect().toSeq
    assert(out == Seq(
      (1L, "big", "buy", "yes"),
      (2L, "small", "other", "yes"),
      (3L, "small", "buy", "yes")))
  }

  test("nested log commands get unique observation names across branches") {
    val logged =
      """morphlines : [
        |  { id : logs
        |    commands : [
        |      { if {
        |          condition : "true"
        |          then : [ { logInfo { format : "a" } } ]
        |          else : [ { logInfo { format : "b" } } ]
        |      } }
        |      { logInfo { format : "c" } }
        |    ] } ]""".stripMargin
    val pipe = PipelineSpec.fromHocon(logged, "logs")
    // would throw "observation name already exists" on a name collision
    val out = pipe(Seq((1, "x")).toDF("id", "s"))
    assert(out.count() == 1)
    // branches holding log commands keep the union of filtered copies
    assert(out.queryExecution.analyzed.collectFirst {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.nonEmpty)
  }
}

object HoconControlFlowSpec {
  /** `if` with then/else, a two-rule `tryRules` without `catchAll`, and a
    * `pipe`: every branch only assigns columns. */
  val conf: String =
    """morphlines : [
      |  {
      |    id : ctrl
      |    commands : [
      |      { if {
      |          condition : "value > 100"
      |          then : [ { setValues { bucket : big } } ]
      |          else : [ { setValues { bucket : small } } ]
      |      } }
      |      { tryRules {
      |          rules : [
      |            { condition : "event_type = 'purchase'"
      |              commands : [ { setValues { kind : buy } } ] }
      |            { condition : "true"
      |              commands : [ { setValues { kind : other } } ] }
      |          ]
      |      } }
      |      { pipe {
      |          id : nested
      |          commands : [ { setValues { tagged : yes } } ]
      |      } }
      |    ]
      |  }
      |]""".stripMargin
}
