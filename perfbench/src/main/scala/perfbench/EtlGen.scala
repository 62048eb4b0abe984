package perfbench

import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.generic.{GenericData, GenericDatumWriter}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Traffic parameters of the ETL workloads. Every field is printed with
  * the result so a run says exactly what load it measured. The values are
  * assumptions chosen to exercise every branch of the morphline, not
  * shares measured from a real trace.
  */
final case class EtlParams(
    users: Int = 5000, // distinct Kafka keys
    keySkew: Double = 1.1, // Zipf exponent of the key (user) distribution
    topics: Seq[(String, Double)] = Seq("web" -> 0.5, "app" -> 0.3, "api" -> 0.2),
    partitions: Int = 8,
    dropShare: Double = 0.10, // heartbeats, dropped by `not { equals }`
    purchaseShare: Double = 0.20, // routed to `orders`
    errorShare: Double = 0.05, // HTTP 5xx, routed to `errors` first
    highAmountShare: Double = 0.15, // `if` branch: tier high
    // body size mix: (share, min chars, max chars)
    payloadMix: Seq[(Double, Int, Int)] =
      Seq((0.6, 32, 128), (0.3, 512, 1024), (0.1, 2048, 4096))) {
  def describe: Seq[(String, Any)] = Seq(
    "users" -> users, "key_zipf_s" -> keySkew,
    "topic_shares" -> topics.toMap, "partitions" -> partitions,
    "drop_share" -> dropShare, "route_purchase_share" -> purchaseShare,
    "route_error_share" -> errorShare, "high_amount_share" -> highAmountShare,
    "payload_mix" -> payloadMix.map { case (s, lo, hi) =>
      Seq("share" -> s, "min_chars" -> lo, "max_chars" -> hi) })
}

/** One generated Kafka record and everything the pipeline should make of
  * it. */
final case class Event(id: Long, user: String, kind: String, amount: Long,
                       ts: Long, log: String, body: String, topic: String,
                       partition: Int, offset: Long, method: String,
                       status: Int) {
  def dropped: Boolean = kind == "heartbeat"
  def route: String =
    if (status >= 500) "errors" else if (kind == "purchase") "orders" else "events"
  def tier: String = if (amount >= 1000) "high" else "std"
  def outTopic: String = s"$topic-$route-$tier"

  def valueJson: String = {
    val sb = new java.lang.StringBuilder(96 + log.length + body.length)
    sb.append("{\"id\":").append(id).append(",\"user\":\"").append(user)
      .append("\",\"kind\":\"").append(kind).append("\",\"amount\":").append(amount)
      .append(",\"ts\":").append(ts).append(",\"log\":\"")
      .append(log.replace("\"", "\\\"")).append("\",\"body\":\"").append(body)
      .append("\"}")
    sb.toString
  }

  def row: Row = Row(user, valueJson, topic, partition, offset,
    java.sql.Timestamp.from(Instant.ofEpochMilli(ts)))
}

/** Seeded generator of Kafka-envelope rows. Batch `b` depends only on
  * (seed, b); partition offsets advance in generation order, so batches
  * must be drawn in index order, as the workloads do.
  */
final class EtlGen(seed: Long, val p: EtlParams = EtlParams()) {
  private val offsets = new Array[Long](p.topics.size * p.partitions)
  private var nextId = 0L
  private val zipf = Zipf.cdf(p.users, p.keySkew)
  private val topicCdf = p.topics.map(_._2).scanLeft(0.0)(_ + _).tail.toArray
  private val httpDate = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss Z",
    java.util.Locale.ENGLISH).withZone(ZoneOffset.UTC)
  private val methods = Array("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val okStatus = Array(200, 200, 200, 200, 201, 204, 301, 304, 404)
  private val errStatus = Array(500, 502, 503)
  private val kinds = Array("click", "view", "search")
  private val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** Start ids at `n`, so events of different phases never share an id. */
  def skipIds(n: Long): Unit = nextId = n
  def nextIdValue: Long = nextId

  def event(rnd: SplittableRandom, tsMs: Long): Event = {
    val id = nextId; nextId += 1
    val user = "u" + Zipf.draw(zipf, rnd)
    val r = rnd.nextDouble()
    val kind =
      if (r < p.dropShare) "heartbeat"
      else if (r < p.dropShare + p.purchaseShare) "purchase"
      else kinds(rnd.nextInt(kinds.length))
    val amount =
      if (rnd.nextDouble() < p.highAmountShare) 1000L + rnd.nextInt(49000)
      else rnd.nextInt(1000).toLong
    val status =
      if (rnd.nextDouble() < p.errorShare) errStatus(rnd.nextInt(errStatus.length))
      else okStatus(rnd.nextInt(okStatus.length))
    val method = methods(rnd.nextInt(methods.length))
    val ti = { val x = rnd.nextDouble(); val i = topicCdf.indexWhere(x < _); if (i < 0) topicCdf.length - 1 else i }
    val part = (user.hashCode & 0x7fffffff) % p.partitions
    val slot = ti * p.partitions + part
    val offset = offsets(slot); offsets(slot) += 1
    val ip = s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
    val path = s"/api/v${1 + rnd.nextInt(3)}/items/${rnd.nextInt(100000)}"
    val log = s"""$ip - $user [${httpDate.format(Instant.ofEpochMilli(tsMs))}] "$method $path HTTP/1.1" $status ${rnd.nextInt(20000)}"""
    val u = rnd.nextDouble()
    var acc = 0.0
    val (lo, hi) = p.payloadMix.find { case (s, _, _) => acc += s; u < acc }
      .orElse(p.payloadMix.lastOption).map(m => (m._2, m._3)).get
    val len = lo + rnd.nextInt(hi - lo + 1)
    val body = new java.lang.StringBuilder(len)
    while (body.length < len) {
      if (body.length > 0 && rnd.nextInt(7) == 0) body.append(' ')
      else body.append(alnum.charAt(rnd.nextInt(alnum.length)))
    }
    Event(id, user, kind, amount, tsMs, log, body.toString, p.topics(ti)._1,
      part, offset, method, status)
  }

  /** Batch `b` of `n` events with event times spread over one second. */
  def batch(b: Int, n: Int, baseMs: Long = EtlGen.BaseMs): Array[Event] = {
    val rnd = new SplittableRandom(seed * 1000003L + b)
    Array.tabulate(n)(i => event(rnd, baseMs + b * 1000L + (i * 1000L) / n))
  }
}

object EtlGen {
  val BaseMs: Long = 1767225600000L // 2026-01-01T00:00:00Z

  val Schema: StructType = StructType.fromDDL(
    "key STRING, value STRING, topic STRING, partition INT, offset BIGINT, timestamp TIMESTAMP")

  /** The Avro value schema; the benchmark's registry serves it under
    * [[Subject]]. Field order matches the morphline's readJson schema. */
  val ValueSchema: String =
    """{"type":"record","name":"Event","namespace":"perfbench","fields":[
      |{"name":"id","type":"long"},{"name":"user","type":"string"},
      |{"name":"kind","type":"string"},{"name":"amount","type":"long"},
      |{"name":"ts","type":"long"},{"name":"log","type":"string"},
      |{"name":"body","type":"string"}]}""".stripMargin.replace("\n", "")
  val Subject = "etl-value"

  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  /** What the sink must receive for `e`, computed without Spark: the
    * topic from the route, the key as generateSolrSequenceKey's md5, the
    * value as Avro written by `GenericDatumWriter`. */
  final class Truth {
    private val schema = new AvroSchema.Parser().parse(ValueSchema)
    private val writer = new GenericDatumWriter[GenericData.Record](schema)
    private val md5 = java.security.MessageDigest.getInstance("MD5")
    private val baos = new java.io.ByteArrayOutputStream()
    private var enc: org.apache.avro.io.BinaryEncoder = _

    def key(e: Event): Array[Byte] = {
      val base = Seq(e.topic, e.partition.toString, e.offset.toString,
        iso.format(Instant.ofEpochMilli(e.ts)), e.method, e.status.toString)
        .mkString(" ")
      md5.digest(base.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
        .getBytes("UTF-8")
    }

    def value(e: Event): Array[Byte] = {
      val r = new GenericData.Record(schema)
      r.put("id", e.id); r.put("user", e.user); r.put("kind", e.kind)
      r.put("amount", e.amount); r.put("ts", e.ts); r.put("log", e.log)
      r.put("body", e.body)
      baos.reset()
      enc = EncoderFactory.get().binaryEncoder(baos, enc)
      writer.write(r, enc); enc.flush()
      baos.toByteArray
    }

    def recordHash(e: Event): Long = Digest.record(e.outTopic, key(e), value(e))
  }
}

object Zipf {
  def cdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  /** Rank in [0, n) drawn from a cdf table. */
  def draw(cdf: Array[Double], rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}
