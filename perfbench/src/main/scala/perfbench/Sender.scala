package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** The benchmark-owned Kafka transport installed as
  * `graft.io.Sinks.KafkaEnv.sender`. It plays the broker: it counts what
  * arrives (the `io` layer), digests every (topic, key, value) for the
  * output check, and stamps arrival times for latency. Its own cost is
  * timed (`io.send_ms`) so it can be subtracted from the layers above.
  *
  * In local mode the executors are threads of this JVM, so one global
  * instance sees every send.
  */
final class Sender(val batchSize: Int, trackIds: Boolean) {
  val calls = new AtomicLong
  val rows = new AtomicLong
  val bytes = new AtomicLong
  val ownNanos = new AtomicLong
  val digest = new Digest.Multiset
  val perTopic = new ConcurrentHashMap[String, AtomicLong]()
  /** Streaming: event id -> deliveries, and id -> first arrival nanoTime. */
  val deliveries = new ConcurrentHashMap[java.lang.Long, AtomicLong]()
  val firstArrival = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  /** Anti-vacuity faults: silently lose the first record seen, or receive
    * it twice (a redelivery that got past dedup). */
  val dropOne = new AtomicBoolean(false)
  val dupOne = new AtomicBoolean(false)

  def send(batch: Seq[(String, Array[Byte], Array[Byte])]): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    batch.foreach { case (topic, key, value) =>
      val copies = if (dropOne.compareAndSet(true, false)) 0
        else if (dupOne.compareAndSet(true, false)) 2 else 1
      for (_ <- 0 until copies) {
        n += 1
        bytes.addAndGet((if (key == null) 0 else key.length) +
          (if (value == null) 0 else value.length))
        digest.add(Digest.record(topic, key, value))
        perTopic.computeIfAbsent(topic, _ => new AtomicLong).incrementAndGet()
        if (trackIds) {
          val id = java.lang.Long.valueOf(Sender.leadingAvroLong(value))
          deliveries.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet()
          firstArrival.putIfAbsent(id, t0)
        }
      }
    }
    calls.incrementAndGet()
    rows.addAndGet(n)
    ownNanos.addAndGet(System.nanoTime() - t0)
  }

  def topicCounts: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    perTopic.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  def install(): this.type = {
    graft.io.Sinks.KafkaEnv.sender = send
    this
  }
}

object Sender {
  /** The `io` layer over the senders of a window. */
  def metrics(senders: Seq[Sender]): Seq[Metric] = {
    val calls = senders.map(_.calls.get).sum.toDouble
    val rows = senders.map(_.rows.get).sum.toDouble
    val capacity = senders.map(s => s.calls.get * s.batchSize).sum.toDouble
    Seq(
      Metric("io.send_calls", calls, "count"),
      Metric("io.rows_sent", rows, "count"),
      Metric("io.bytes_sent", senders.map(_.bytes.get).sum.toDouble, "bytes"),
      Metric("io.send_ms", senders.map(_.ownNanos.get).sum / 1e6, "ms"),
      Metric("io.batch_fill", if (capacity > 0) rows / capacity else 0, "frac"))
  }

  /** The first field of every produced value is the event id, an Avro
    * `long`: a zig-zag varint at offset 0.
    */
  def leadingAvroLong(b: Array[Byte]): Long = {
    var shift = 0
    var acc = 0L
    var i = 0
    var more = true
    while (more) {
      val x = b(i) & 0xff
      acc |= (x & 0x7fL) << shift
      shift += 7; i += 1
      more = (x & 0x80) != 0
    }
    (acc >>> 1) ^ -(acc & 1)
  }
}
