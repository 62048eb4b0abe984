package graft.queries

/** Per-gate streaming throughput, captured from the engine's own
  * `StreamingQueryProgress` after each gate run (round-13 verdict item 8):
  * the bench's wall-clock seconds time a FIXED-SIZE replay, so a
  * per-micro-batch overhead regression is invisible once the corpus grows —
  * rows/sec from the query's own progress (numInputRows over
  * triggerExecution ms, summed across the run's triggers) is
  * corpus-size-independent and rides along in BENCH.out.json /
  * the stdout bench line as `stream_rps`. Iterations accumulate: the
  * reported figure is the run-wide average, which smooths the cold first
  * iteration the same way the timing median does.
  */
object StreamMetrics {
  private final case class Acc(rows: Long, ms: Long,
                               stateRows: Option[Long], stateBytes: Long)
  private val acc =
    new java.util.concurrent.ConcurrentHashMap[String, Acc]()

  /** Whether `q`'s state operators count their rows. Without row-count
    * tracking, which the library policy turns off
    * ([[graft.Sessions.StreamState]]), each RocksDB store reports -1
    * rows; Spark's sum metric drops negative values, so progress reads
    * 0 however large the state. Read from the query's session, where
    * the policy is set once per session. */
  private def rowsTracked(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean = {
    val conf = q.sparkSession.conf
    !conf.get(graft.Sessions.ProviderKey, "").endsWith("RocksDBStateStoreProvider") ||
      conf.get(graft.Sessions.TrackRowsKey, "true").toBoolean
  }

  /** Record a finished streaming query's progress under the GATE name
    * (sink names arrive as `<gate>_sink` and are stripped). State sizes
    * are the run's PEAK (max over triggers of the summed state
    * operators) — the figure a capacity plan needs. State rows are
    * None (untracked) unless [[rowsTracked]]; record a query before
    * changing its session's state-store conf. */
  def record(sinkName: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val name = sinkName.stripSuffix("_sink")
    val ps = q.recentProgress
    val rows = ps.map(_.numInputRows).sum
    val ms = ps.map(p =>
      Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)).sum
    val peakRows =
      if (!rowsTracked(q)) None
      else Some(ps.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L))
    val peakBytes =
      if (ps.isEmpty) 0L else ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max
    if (rows > 0 && ms > 0)
      acc.merge(name, Acc(rows, ms, peakRows, peakBytes),
        (a, b) => Acc(a.rows + b.rows, a.ms + b.ms,
          for (x <- a.stateRows; y <- b.stateRows) yield math.max(x, y),
          math.max(a.stateBytes, b.stateBytes)))
  }

  /** gate → rows/sec over everything recorded so far. */
  def rowsPerSec: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.map { case (k, a) => k -> a.rows * 1000.0 / a.ms }.toMap
  }

  /** gate → (rows/sec, peak state rows or None if untracked, peak state
    * bytes) for the stderr summary table (PLANS state-size evidence). */
  def summary: Seq[(String, Double, Option[Long], Long)] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq.sortBy(_._1).map { case (k, a) =>
      (k, a.rows * 1000.0 / a.ms, a.stateRows, a.stateBytes) }
  }

  /** Drop everything recorded so far. ScaleBench calls this between
    * scale points so a gate's peak-state figure is attributable to ONE
    * corpus size — the accumulator otherwise maxes across sizes and the
    * growth exponent would read as flat. */
  def reset(): Unit = acc.clear()
}
