package perfbench

import graft.pipeline.Pipeline
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One generated batch of Kafka-envelope rows through the compiled
  * morphline, as a Connect sink task's `put()` hands it over: the
  * per-command prefix passes of the traced `etl_stream` run, and the batch
  * check the tests use.
  */
object EtlBatch {
  val BatchRows = 4000
  val PrefixReps = 2

  /** What the sink must receive for a batch, from the generator's truth. */
  final class Expected(events: Array[Event], truth: EtlGen.Truth) {
    private val kept = events.filterNot(_.dropped)
    val count: Long = kept.length.toLong
    val topics: Map[String, Long] = kept.groupBy(_.outTopic).map { case (t, es) => t -> es.length.toLong }
    val routed: Map[String, Long] = kept.groupBy(_.route).map { case (r, es) => r -> es.length.toLong }
    val dropped: Long = events.length - count
    val digest: (Long, Long, Long) = {
      val m = new Digest.Multiset
      kept.foreach(e => m.add(truth.recordHash(e)))
      m.value
    }
  }

  final case class BatchOut(ok: Boolean, sender: Sender)

  /** Run `events` through `pipeline` into a fresh sender (a `noop` write,
    * so every output column is computed) and check what the sender saw:
    * count, per-topic counts and the record digest. */
  def runBatch(spark: SparkSession, pipeline: Pipeline, events: Array[Event],
               cores: Int, truth: EtlGen.Truth, dropOne: Boolean): BatchOut = {
    val exp = new Expected(events, truth)
    val guard = Env.releaseCaches()
    val sender = new Sender(1000, trackIds = false).install()
    if (dropOne) sender.dropOne.set(true)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(events.map(_.row).toSeq, cores), EtlGen.Schema)
    Etl.noop(pipeline(df))
    val ok = guard && sender.rows.get == exp.count &&
      sender.topicCounts == exp.topics && sender.digest.value == exp.digest
    BatchOut(ok, sender)
  }

  /** Per-command rows and marginal cost on one fixed batch: prefix k runs
    * ops 0..k with its output counted by an observation, and the marginal
    * cost of command k is median(prefix k) - median(prefix k-1). */
  def prefixPasses(spark: SparkSession, pipeline: Pipeline, events: Array[Event],
                   cores: Int, reps: Int): Seq[Metric] = {
    val rows = events.map(_.row).toSeq
    val medians = (-1 until pipeline.ops.size).map { k =>
      val runs = (0 until reps).map { rep =>
        Env.releaseCaches()
        new Sender(1000, trackIds = false).install()
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, cores),
          EtlGen.Schema)
        val obs = Observation(s"prefix_${k + 1}_$rep")
        val t0 = System.nanoTime()
        Etl.noop(Etl.prefix(pipeline, k)(df).observe(obs, count(lit(1)).as("n")))
        val ms = (System.nanoTime() - t0) / 1e6
        (ms, obs.get("n").asInstanceOf[Long])
      }
      (Stats.median(runs.map(_._1)), runs.head._2)
    }
    pipeline.ops.indices.flatMap { i =>
      val name = s"ops.${Etl.opName(pipeline, i)}"
      Seq(Metric(s"$name.rows_in", medians(i)._2.toDouble, "count"),
        Metric(s"$name.rows_out", medians(i + 1)._2.toDouble, "count"),
        Metric(s"$name.marginal_ms", medians(i + 1)._1 - medians(i)._1, "ms"))
    }
  }
}
