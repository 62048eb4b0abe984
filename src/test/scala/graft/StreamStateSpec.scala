package graft

import graft.queries.StreamMetrics
import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Watermarked dedup through the library path (file source →
  * `StreamingOps.streamingDedupWithin` → parquet sink), shared by the
  * specs that check what a library-session stream writes. */
trait DedupRuns extends SparkSpec {

  /** The sf0 events with a timestamp `ts`, staged as parquet. */
  def dedupInput(tag: String): java.nio.file.Path = {
    val inDir = tempDir(s"graft-state-in-$tag")
    Tables.load(spark, sf0, "events")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value"))
      .coalesce(2).write.mode("overwrite").parquet(inDir.toString)
    inDir
  }

  /** One file per micro-batch from `inDir` on `session`, run to
    * completion, writing `run/out` and checkpointing to `run/ckpt`. */
  def dedupStream(session: SparkSession, tag: String,
                  inDir: java.nio.file.Path,
                  run: java.nio.file.Path): StreamingQuery = {
    val stream = StreamingOps.fileSource(session,
      session.read.parquet(inDir.toString).schema, inDir.toString,
      options = Map("maxFilesPerTrigger" -> "1"))
    val q = StreamingOps.streamingDedupWithin(stream, "ts", "2 hours",
        Seq("event_type", "value"))
      .writeStream.format("parquet")
      .queryName(s"state_policy_${tag}_sink")
      .option("path", run.resolve("out").toString)
      .option("checkpointLocation", run.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** [[dedupStream]] on the shared session over fresh input: two
    * micro-batches, one with data and one that only advances the
    * watermark. Returns the query and its checkpoint directory. */
  def dedupRun(tag: String): (StreamingQuery, java.nio.file.Path) = {
    val run = tempDir(s"graft-state-run-$tag")
    (dedupStream(spark, tag, dedupInput(tag), run), run.resolve("ckpt"))
  }
}

/** The library's streaming state-store policy ([[Sessions.StreamState]])
  * as a stream started from a library session actually runs it, and the
  * telemetry that reads its state size. */
class StreamStateSpec extends DedupRuns {

  test("library session: a watermarked dedup stream writes RocksDB " +
      "changelog checkpoints and tracks no row counts") {
    for ((k, v) <- Sessions.StreamState)
      assert(spark.conf.get(k) == v, s"$k not at the library policy")
    val (q, ckpt) = dedupRun("policy")
    val files = {
      val w = java.nio.file.Files.walk(ckpt.resolve("state"))
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally w.close()
    }
    assert(files.exists(_.endsWith(".changelog")),
      s"no RocksDB changelog files in the state checkpoint: ${files.take(20)}")
    assert(!files.exists(_.endsWith(".delta")),
      "HDFSBacked delta files found: the RocksDB provider did not engage")
    // untracked, each store reports -1 rows and progress reads 0 rows
    // although the first batch wrote hundreds of keys
    val ops = q.recentProgress.flatMap(_.stateOperators)
    assert(ops.map(_.numRowsUpdated).sum > 0, "no state written — vacuous")
    assert(ops.forall(_.numRowsTotal <= 0),
      s"row counts tracked: ${ops.map(_.numRowsTotal).toSeq}")
  }

  test("StreamMetrics: untracked state rows read as untracked, not as a " +
      "count; tracked rows read as the state's real size") {
    StreamMetrics.reset()
    try {
      val (untracked, _) = dedupRun("untracked")
      StreamMetrics.record("state_policy_untracked_sink", untracked)
      val prev = spark.conf.get(Sessions.TrackRowsKey)
      spark.conf.set(Sessions.TrackRowsKey, "true")
      try {
        val (tracked, _) = dedupRun("tracked")
        StreamMetrics.record("state_policy_tracked_sink", tracked)
      } finally spark.conf.set(Sessions.TrackRowsKey, prev)
      val sm = StreamMetrics.summary.map(r => r._1 -> r).toMap
      val (_, _, uRows, uBytes) = sm("state_policy_untracked")
      assert(uRows.isEmpty, s"untracked state read as $uRows rows")
      assert(uBytes >= 0)
      val (_, _, tRows, _) = sm("state_policy_tracked")
      assert(tRows.exists(_ > 0), s"tracked state read as $tRows rows")
    } finally StreamMetrics.reset()
  }
}
