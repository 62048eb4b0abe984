package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Command-line arguments of one benchmark run. `inject` names a deliberate
  * fault for the anti-vacuity checks (`drop` = the sender loses one record,
  * `dup` = one duplicate reaches the sink); real runs leave it empty.
  */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, inject: Option[String],
                      outDir: java.io.File)

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back to [[Main]]: the output-check tally, the
  * metrics for the requested mode, and a free-form report (traffic
  * parameters, input digest, sample counts, effective settings).
  */
final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
                        report: Seq[(String, Any)])

object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] if s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty &&
        s.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      s.foreach { case (k: String, x) => out.put(k, toJava(x)); case _ => }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      java.lang.Double.valueOf(d)
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def obj(fields: (String, Any)*): String =
    mapper.writeValueAsString(toJava(fields.toSeq))
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** FNV-1a 64-bit hashing plus an order-independent multiset digest: a
  * digest is (count, sum of mixed hashes, xor of hashes), so two record
  * sets compare equal regardless of the order the sink saw them in.
  */
object Digest {
  private val Offset = 0xcbf29ce484222325L
  private val Prime = 0x100000001b3L

  def fnv(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    if (bytes == null) { h ^= 0xff; h *= Prime }
    else {
      var i = 0
      while (i < bytes.length) { h ^= (bytes(i) & 0xff); h *= Prime; i += 1 }
      h ^= 0xfe; h *= Prime
    }
    h
  }

  def record(topic: String, key: Array[Byte], value: Array[Byte]): Long =
    fnv(fnv(fnv(Offset, topic.getBytes("UTF-8")), key), value)

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Multiset {
    private val n = new java.util.concurrent.atomic.AtomicLong
    private val sum = new java.util.concurrent.atomic.AtomicLong
    private val xor = new java.util.concurrent.atomic.AtomicLong
    def add(h: Long): Unit = {
      n.incrementAndGet(); sum.addAndGet(mix(h))
      xor.accumulateAndGet(h, (a, b) => a ^ b)
    }
    def value: (Long, Long, Long) = (n.get, sum.get, xor.get)
    def hex: String = f"${n.get}%d-${sum.get}%016x-${xor.get}%016x"
  }

  /** Order-dependent running digest of generated inputs. */
  final class Running {
    private var h = Offset
    def add(bytes: Array[Byte]): Unit = h = fnv(h, bytes)
    def add(s: String): Unit = add(s.getBytes("UTF-8"))
    def hex: String = f"$h%016x"
  }
}

/** Session lifecycle and the effective settings every result records. */
object Env {
  /** Spark local threads. The streaming workload leaves one core to its
    * generator thread so the two never contend for more than `nproc`.
    */
  def cores(reserveForGenerator: Boolean): Int = {
    val n = Runtime.getRuntime.availableProcessors
    math.max(1, if (reserveForGenerator) n - 1 else n)
  }

  def session(cores: Int): SparkSession = {
    val s = graft.Sessions.build(cores.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def settings(spark: SparkSession): Seq[(String, Any)] = Seq(
    "master" -> spark.sparkContext.master,
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "state_store_provider" ->
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .getOrElse("default"),
    "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled"),
    "spark_version" -> spark.version,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))

  /** Release every library-registered cache and verify nothing is left —
    * the guard each timed iteration starts behind.
    */
  def releaseCaches(): Boolean = {
    graft.CacheScope.releaseAll(blocking = true)
    graft.CacheScope.releaseSession(blocking = true)
    graft.CacheScope.liveCount == 0 && graft.CacheScope.sessionLiveCount == 0
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
