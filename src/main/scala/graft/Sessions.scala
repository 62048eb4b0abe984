package graft

import org.apache.spark.sql.SparkSession

/** The one place `src/main` builds a SparkSession: the harness mains
  * (Bench, Verify, ScaleBench, FaultInjection and its child JVMs,
  * ConcurrentServe, SpillCertify and its child JVM, ScanAudit) and
  * perfbench all come through here, so every session gets the same UTC
  * clock, no UI, AQE, streaming state policy and local-cluster wiring.
  * Only deployment settings come from the environment:
  *
  *  - `SPARK_GRAFT_MASTER` — overrides the master URL. The interesting
  *    value is `local-cluster[N,C,MEM_MB]`: Spark's standalone-in-a-box
  *    mode that launches N SEPARATE EXECUTOR JVMS (real process
  *    boundary: closures/state serialize, broadcasts actually
  *    transfer, nothing accidentally shares the driver heap) without
  *    needing a real cluster. Every number before round 14 was
  *    single-JVM `local[32]`; this knob is how the gate surface is
  *    re-run under the closest available approximation of the 100 TB
  *    deployment shape. Executor JVMs are launched by the in-process
  *    Worker from SPARK_HOME, so they need (a) this project's classes
  *    on their classpath and (b) the same JDK-17 --add-opens set the
  *    driver gets from build.sbt — both wired here, not in each main.
  *  - `SPARK_GRAFT_EXECUTOR_MEM` — the executor memory of such a master.
  *  - `SPARK_GRAFT_CLASSES` — the classes dir those executors load.
  *
  * Every session built here also runs the one streaming state-store
  * policy, [[StreamState]], at session scope, so every stream started
  * from a library session inherits it. That policy binds `file:` to
  * [[graft.io.NioLocalFs]]: a stream commits each micro-batch as small
  * files (source-log entry, offset, commit, one RocksDB changelog per
  * state partition), and Hadoop without `libhadoop` forks a `chmod` per
  * create and a `readlink` twice per rename. On a 4-vCPU host a
  * checkpoint file (create, 2 KB write, atomic rename) took 34-47 ms
  * that way and 2 ms through java.nio; `etl_stream`'s median trigger
  * fell from 607 to 381 ms, with `walCommit` 36 -> 2 ms,
  * `commitOffsets` 35 -> 3 ms and state commit 220 -> 17 ms per
  * trigger.
  */
object Sessions {

  /** The JDK-17 module opens Spark needs when sessions are created
    * outside spark-submit — mirrored from build.sbt's driver options so
    * local-cluster executor JVMs (which do NOT inherit sbt's
    * javaOptions) get the same set. */
  private val jdk17AddOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** The [[StreamState]] entry naming the state-store provider. */
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** The one [[StreamState]] entry a caller may override on its own
    * session: ScaleBench turns tracking on to read exact state rows. */
  val TrackRowsKey =
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"

  /** The streaming state and checkpoint policy, applied at session scope by
    * [[build]] and by the test session, so every stream runs the same one.
    * It also keeps the `file:` binding fixed: `FileSystem`'s cache is
    * keyed without the conf, so a session built without it would bind
    * `file:` to Hive's `ProxyLocalFileSystem` for the whole JVM.
    *  - RocksDB provider (default since round 22): state lives off-heap
    *    and on disk instead of in executor-heap HashMaps, the documented
    *    OOM source for large state. On the 15-gate board (two interleaved
    *    pairs, sf0.1, 32 cores, min basis) it won the gate total 1.07x
    *    geomean; the two small-state losers (restart_session,
    *    window_disorder 0.87x) are recovery costs accepted for scale.
    *  - Changelog checkpointing (round 18): the default RocksDB commit
    *    uploads a full snapshot per micro-batch, which made the
    *    400-batch session gate superlinear (wall exponent 1.21, 0.98 with
    *    changelog; measured round 17).
    *  - No row-count tracking (round 22): tracking GETs the existing key
    *    before every state write, about 2x write amplification purely to
    *    keep `numRowsTotal` exact. Progress then reads 0 rows however
    *    large the state, which [[graft.queries.StreamMetrics]] reports as
    *    untracked.
    *  - `file:` through [[graft.io.NioLocalFs]], for both Hadoop APIs:
    *    checkpoint logs go through `FileContext`, RocksDB's file manager
    *    also through `FileSystem`. Only `chmod` and `readlink` change;
    *    `.crc` side files, Spark's checkpoint checksums and atomic rename
    *    stay as they were. */
  val StreamState: Map[String, String] = Map(
    ProviderKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    TrackRowsKey -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.io.NioLocalFs].getName)

  /** Executor-JVM wiring a `local-cluster[...]` master needs when the
    * driver was not launched by spark-submit. Executor JVMs are spawned
    * by the in-process Worker from SPARK_HOME/jars; they additionally
    * need this project's compiled classes (the closures they deserialize
    * reference graft.* classes) and the JDK-17 opens. sbt runs from the
    * project root, so the relative classes dir resolves; an explicit
    * override is available for running from elsewhere. */
  private def wireLocalCluster(b0: SparkSession.Builder,
                               executorMem: Option[String])
      : SparkSession.Builder = {
    val classes = sys.env.getOrElse("SPARK_GRAFT_CLASSES",
      new java.io.File("target/scala-2.13/classes").getAbsolutePath)
    var b = b0.config("spark.executor.extraClassPath", classes)
      .config("spark.executor.extraJavaOptions", jdk17AddOpens)
      // The Worker's in-process launcher resolves the Scala version
      // before it finds $SPARK_HOME/jars; outside spark-class nothing
      // exports SPARK_SCALA_VERSION, so executor launch dies with
      // "Cannot find any build directories." — ship it through the
      // executor Command environment (sc.executorEnvs), which the
      // launcher's childEnv consults first.
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
    // the MEM_MB in local-cluster[N,C,MEM_MB] sizes the WORKER; the
    // executor itself defaults to 1g — overridable per run
    executorMem.foreach(m => b = b.config("spark.executor.memory", m))
    b
  }

  /** Build the standard harness session: `cpus` threads (or the
    * SPARK_GRAFT_MASTER override, its executors sized by
    * SPARK_GRAFT_EXECUTOR_MEM), `cpus` shuffle partitions, and the rest
    * as the overload below. */
  def build(cpus: String,
            extra: Map[String, String] = Map.empty): SparkSession =
    build(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus,
      sys.env.get("SPARK_GRAFT_EXECUTOR_MEM").filter(_.nonEmpty), extra)

  /** Build a session on `master` with `shufflePartitions`, AQE, UTC, no
    * UI and the [[StreamState]] policy, then `extra` on top (a FAIR
    * scheduler, a warehouse dir). `executorMem` sizes the executors of
    * a `local-cluster` master and is ignored otherwise. */
  def build(master: String, shufflePartitions: String,
            executorMem: Option[String],
            extra: Map[String, String]): SparkSession = {
    var b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(StreamState)
      .config(extra)
    if (master.startsWith("local-cluster"))
      b = wireLocalCluster(b, executorMem)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
