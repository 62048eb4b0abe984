package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.io.HttpSenders

import scala.jdk.CollectionConverters._

/** [[HttpSenders]] against in-process REST-proxy / Solr-shaped stubs: wire
  * format, the 50003 retry-once loop of
  * KafkaDataProducerCommandBuilder.java:317-327, retriable IO failures, and
  * the Solr JSON update surface behind `loadSolr`.
  */
class HttpSinkSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private final case class Hit(path: String, contentType: String, body: String)

  /** Stub server answering every POST from `responses` in sequence (last one
    * repeats); records each hit.
    */
  private def withStub(responses: Seq[(Int, String)])(
      body: (String, java.util.List[Hit]) => Unit): Unit = {
    val hits = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Hit]())
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: HttpExchange) => {
      val reqBody = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      hits.add(Hit(x.getRequestURI.toString,
        Option(x.getRequestHeaders.getFirst("Content-Type")).getOrElse(""),
        reqBody))
      val (status, resp) =
        responses(math.min(n.getAndIncrement(), responses.size - 1))
      val bytes = resp.getBytes("UTF-8")
      x.sendResponseHeaders(status, bytes.length)
      x.getResponseBody.write(bytes); x.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", hits)
    finally server.stop(0)
  }

  private def b64(s: String) =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  test("rest proxy: records arrive base64-encoded in the v2 binary format") {
    withStub(Seq((200, """{"offsets":[{"partition":0,"offset":0}]}"""))) {
      (url, hits) =>
        val send = HttpSenders.restProxyKafkaSender(url)
        send(Seq(("events", "k1".getBytes, "v1".getBytes),
          ("events", null, "v2".getBytes)))
        assert(hits.size == 1)
        val h = hits.get(0)
        assert(h.path == "/topics/events")
        assert(h.contentType == "application/vnd.kafka.binary.v2+json")
        val recs = mapper.readTree(h.body).get("records")
        assert(recs.size == 2)
        assert(recs.get(0).get("key").asText() == b64("k1"))
        assert(recs.get(0).get("value").asText() == b64("v1"))
        assert(!recs.get(1).has("key")) // null key omitted, like the reference
        assert(recs.get(1).get("value").asText() == b64("v2"))
    }
  }

  test("rest proxy: one POST per topic, order preserved within a topic") {
    withStub(Seq((200, "{}"))) { (url, hits) =>
      HttpSenders.restProxyKafkaSender(url)(Seq(
        ("a", null, "1".getBytes), ("b", null, "2".getBytes),
        ("a", null, "3".getBytes)))
      assert(hits.size == 2)
      val byTopic = hits.asScala.map(h => h.path -> mapper.readTree(h.body)
        .get("records").elements().asScala.map(_.get("value").asText()).toSeq)
        .toMap
      assert(byTopic("/topics/a") == Seq(b64("1"), b64("3")))
      assert(byTopic("/topics/b") == Seq(b64("2")))
    }
  }

  test("rest proxy: error_code 50003 is retried exactly once, then succeeds") {
    withStub(Seq(
      (500, """{"error_code":50003,"message":"broker transient"}"""),
      (200, "{}"))) { (url, hits) =>
      HttpSenders.restProxyKafkaSender(url)(
        Seq(("t", null, "v".getBytes)))
      assert(hits.size == 2, "first 50003 must trigger exactly one retry")
      assert(hits.get(0).body == hits.get(1).body, "retry must resend the batch")
    }
  }

  test("rest proxy: persistent 50003 throws after the single retry") {
    withStub(Seq((500, """{"error_code":50003,"message":"still down"}"""))) {
      (url, hits) =>
        val e = intercept[HttpSenders.ProducerHttpException] {
          HttpSenders.restProxyKafkaSender(url)(Seq(("t", null, "v".getBytes)))
        }
        assert(e.errorCode == 50003)
        assert(hits.size == 2, "exactly two attempts — no retry storm")
    }
  }

  test("rest proxy: non-50003 error codes fail immediately, no retry") {
    withStub(Seq((422, """{"error_code":42201,"message":"bad record"}"""))) {
      (url, hits) =>
        val e = intercept[HttpSenders.ProducerHttpException] {
          HttpSenders.restProxyKafkaSender(url)(Seq(("t", null, "v".getBytes)))
        }
        assert(e.errorCode == 42201 && hits.size == 1)
    }
  }

  test("rest proxy: connection error is retriable (epoch replay semantics)") {
    val dead = new java.net.ServerSocket(0)
    val port = dead.getLocalPort; dead.close()
    intercept[HttpSenders.RetriableSinkException] {
      HttpSenders.restProxyKafkaSender(s"http://127.0.0.1:$port",
        java.time.Duration.ofMillis(500))(Seq(("t", null, "v".getBytes)))
    }
  }

  /** Stall-capable stub (r17 VERDICT item 7 — kill/timeout injection for
    * the HTTP senders): each planned response is (delayMs, status, body);
    * a delay past the client's request timeout simulates a hung/flaky
    * server, the case the connection-refused test cannot cover (the
    * socket IS accepted, the response never comes).
    */
  private def withFlakyStub(plan: Seq[(Int, Int, String)])(
      body: (String, java.util.List[Hit]) => Unit): Unit = {
    val hits = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Hit]())
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", (x: HttpExchange) => {
      val reqBody = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      hits.add(Hit(x.getRequestURI.toString,
        Option(x.getRequestHeaders.getFirst("Content-Type")).getOrElse(""),
        reqBody))
      val (delay, status, resp) =
        plan(math.min(n.getAndIncrement(), plan.size - 1))
      if (delay > 0) Thread.sleep(delay)
      try {
        val bytes = resp.getBytes("UTF-8")
        x.sendResponseHeaders(status, bytes.length)
        x.getResponseBody.write(bytes)
      } catch { case _: java.io.IOException => () } // client gave up — fine
      finally x.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", hits)
    finally server.stop(0)
  }

  test("rest proxy: response timeout is retriable; the replayed epoch lands") {
    // server hangs past the client timeout on request 1, recovers on 2 —
    // the flaky-broker case: the sender must surface RETRIABLE (Connect
    // redelivers the epoch) after exactly ONE request (a timeout is not
    // the 50003 path — no blind in-sender retry of a maybe-committed
    // batch), and the replay must resend the identical payload
    withFlakyStub(Seq((1500, 200, "{}"), (0, 200, "{}"))) { (url, hits) =>
      val send = HttpSenders.restProxyKafkaSender(
        url, java.time.Duration.ofMillis(300))
      val batch = Seq(("t", "k".getBytes, "v".getBytes))
      intercept[HttpSenders.RetriableSinkException] { send(batch) }
      assert(hits.size == 1, "a timeout must not retry inside the sender")
      send(batch) // the epoch replay
      assert(hits.size == 2)
      assert(hits.get(0).body == hits.get(1).body,
        "replay must resend the identical batch")
    }
  }

  test("rest proxy: flaky server — timeout, then 50003, then recovery") {
    // composite flake across two delivery attempts: attempt 1 times out
    // (retriable, 1 request); the replay hits a transient 50003, the
    // sender's single in-sender retry lands it (2 more requests). Exactly
    // 3 identical requests total — no retry storm, no lost batch.
    withFlakyStub(Seq(
      (1500, 200, "{}"),
      (0, 500, """{"error_code":50003,"message":"transient"}"""),
      (0, 200, "{}"))) { (url, hits) =>
      val send = HttpSenders.restProxyKafkaSender(
        url, java.time.Duration.ofMillis(300))
      val batch = Seq(("t", null, "v".getBytes))
      intercept[HttpSenders.RetriableSinkException] { send(batch) }
      send(batch)
      assert(hits.size == 3, s"expected timeout + 50003 + success, got ${hits.size}")
      assert(hits.asScala.map(_.body).distinct.size == 1,
        "every attempt must carry the same batch")
    }
  }

  test("solr: response timeout is retriable so the epoch replays") {
    withFlakyStub(Seq((1500, 200, "{}"), (0, 200, "{}"))) { (url, hits) =>
      val send = HttpSenders.solrHttpSender(
        url, timeout = java.time.Duration.ofMillis(300))
      intercept[HttpSenders.RetriableSinkException] {
        send("c", Seq(Map("id" -> "x")))
      }
      assert(hits.size == 1)
      send("c", Seq(Map("id" -> "x"))) // recovered server: replay lands
      assert(hits.size == 2)
    }
  }

  test("solr: documents arrive as a JSON array on the collection update path") {
    withStub(Seq((200, """{"responseHeader":{"status":0}}"""))) { (url, hits) =>
      val send = HttpSenders.solrHttpSender(url, commitWithinMs = 5000)
      send("collection1", Seq(
        Map("id" -> "doc-1", "name_s" -> "first", "n_l" -> 7L, "skip" -> null),
        Map("id" -> "doc-2", "ok_b" -> true)))
      assert(hits.size == 1)
      val h = hits.get(0)
      assert(h.path == "/collection1/update?commitWithin=5000")
      assert(h.contentType == "application/json")
      val arr = mapper.readTree(h.body)
      assert(arr.size == 2)
      assert(arr.get(0).get("id").asText() == "doc-1")
      assert(arr.get(0).get("n_l").asLong() == 7L)
      assert(!arr.get(0).has("skip"), "null fields must be omitted")
      assert(arr.get(1).get("ok_b").asBoolean())
    }
  }

  test("solr: non-2xx surfaces as retriable so the epoch replays") {
    withStub(Seq((503, """{"error":{"msg":"overloaded"}}"""))) { (url, _) =>
      intercept[HttpSenders.RetriableSinkException] {
        HttpSenders.solrHttpSender(url)("c", Seq(Map("id" -> "x")))
      }
    }
  }

  test("cloud solr: docs route to their key-hash shard leader, one batched POST each") {
    // two "leaders" = two stub servers; the cluster-state function is the
    // test's stand-in for the zkHost read of config/cloudsolr.conf:1-7
    withStub(Seq((200, "{}"))) { (urlA, hitsA) =>
      withStub(Seq((200, "{}"))) { (urlB, hitsB) =>
        val send = HttpSenders.cloudSolrSender(
          Map("coll" -> Seq(urlA, urlB)), commitWithinMs = 7000)
        val docs = (1 to 20).map(i => Map[String, Any]("id" -> s"doc-$i"))
        send("coll", docs)
        // one batched POST per leader that received docs — never per doc
        assert(hitsA.size + hitsB.size <= 2 && hitsA.size + hitsB.size >= 1)
        def docsOf(hits: java.util.List[Hit]): Seq[String] =
          hits.asScala.toSeq.flatMap(h => mapper.readTree(h.body)
            .elements().asScala.map(_.get("id").asText()).toSeq)
        val (da, db) = (docsOf(hitsA), docsOf(hitsB))
        assert((da ++ db).sorted == docs.map(_("id").toString).sorted,
          "every doc lands on exactly one shard")
        // routing is the stable key hash, not arrival order: recompute
        def shardOf(id: String) = math.floorMod(
          scala.util.hashing.MurmurHash3.stringHash(id, 0), 2)
        assert(da.forall(shardOf(_) == 0) && db.forall(shardOf(_) == 1))
        (hitsA.asScala ++ hitsB.asScala).foreach { h =>
          assert(h.path.endsWith("/coll/update?commitWithin=7000"))
        }
      }
    }
  }

  test("cloud solr: per-collection routing via cluster state; unknown collection is retriable") {
    withStub(Seq((200, "{}"))) { (urlA, hitsA) =>
      withStub(Seq((200, "{}"))) { (urlB, hitsB) =>
        val state = Map("alpha" -> Seq(urlA), "beta" -> Seq(urlB))
        val send = HttpSenders.cloudSolrSender(state.getOrElse(_, Nil))
        send("alpha", Seq(Map("id" -> "a1")))
        send("beta", Seq(Map("id" -> "b1"), Map("id" -> "b2")))
        assert(hitsA.size == 1 && hitsA.get(0).path == "/alpha/update?commitWithin=1000")
        assert(hitsB.size == 1 && hitsB.get(0).path == "/beta/update?commitWithin=1000")
        assert(mapper.readTree(hitsB.get(0).body).size() == 2)
        // a collection absent from cluster state replays, not drops
        intercept[HttpSenders.RetriableSinkException] {
          send("gamma", Seq(Map("id" -> "g1")))
        }
      }
    }
  }

  test("registry wire format: framed avro values carry magic 0x00 + BE schema id") {
    import org.apache.spark.sql.functions._
    val schema =
      """{"type":"record","name":"r","fields":[{"name":"v","type":"long"}]}"""
    val framed = spark.range(1).select(
      graft.exprs.AvroExprs.confluent_frame(
        graft.exprs.AvroExprs.to_avro_binary(struct(lit(259L).as("v")), schema),
        lit(66052)).as("w")).head().getAs[Array[Byte]]("w")
    // frame: magic 0, id 66052 = 0x00010204 big-endian, then the payload
    assert(framed(0) == 0x00.toByte)
    assert(framed.slice(1, 5).toSeq ==
      Seq(0x00.toByte, 0x01.toByte, 0x02.toByte, 0x04.toByte))
    val payload = framed.drop(5)
    assert(payload.toSeq ==
      Seq(0x86.toByte, 0x04.toByte), "zigzag varint 259 = 0x86 0x04")
    // unframe inverts exactly; a wrong magic nulls out as a bad record
    val back = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(framed, framed.updated(0, 1.toByte))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("good",
            org.apache.spark.sql.types.BinaryType),
          org.apache.spark.sql.types.StructField("bad",
            org.apache.spark.sql.types.BinaryType))))
      .select(graft.exprs.AvroExprs.confluent_unframe(col("good")).as("g"),
        graft.exprs.AvroExprs.confluent_unframe(col("bad")).as("b"))
      .head()
    val g = back.getStruct(0)
    assert(g.getInt(0) == 66052)
    assert(g.getAs[Array[Byte]](1).toSeq == payload.toSeq)
    assert(back.isNullAt(1), "wrong magic must yield a filterable null")
    // and the framed bytes survive the REST-proxy wire verbatim
    withStub(Seq((200, "{}"))) { (url, hits) =>
      HttpSenders.restProxyKafkaSender(url)(Seq(("t", null, framed)))
      val v = mapper.readTree(hits.get(0).body).get("records").get(0)
        .get("value").asText()
      assert(java.util.Base64.getDecoder.decode(v).toSeq == framed.toSeq)
    }
  }

  test("solr locator drives loadSolr batch boundaries") {
    // SolrEnv-level check (no HTTP): locator batchSize must bound every
    // sender invocation — the batch/commitWithin contract of
    // config/cloudsolr.conf:74-78's loadSolr
    import spark.implicits._
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    graft.io.Sinks.SolrEnv.sender = (coll, docs) => {
      assert(coll == "coll"); batches.add(docs.size)
    }
    try {
      val df = (1 to 25).map(i => (s"d$i", i)).toDF("id", "v").repartition(1)
      val loc = graft.io.Sinks.SolrLocator("coll", batchSize = 10)
      graft.io.Sinks.loadSolr(df, loc).count()
      assert(batches.asScala.sum == 25)
      assert(batches.asScala.forall(_ <= 10), s"batches: ${batches.asScala}")
      assert(batches.asScala.count(_ == 10) == 2,
        "full batches must flush at the locator's batchSize")
    } finally graft.io.Sinks.SolrEnv.reset()
  }
}
