package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All queries in [[SparkEntry]] read through here so that the scan layer is
  * uniform: parquet with filter/column pushdown (Catalyst handles pruning —
  * verify with `.explain("formatted")`: `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  // Memoized per (session, dir, name): the testdata is immutable, so the
  // analyzed scan relation (file listing + footer schema) is reused across
  // the 80+ queries instead of being re-derived per query. LRU-capped
  // (NOT a WeakHashMap: a weak key that its own values strongly reference
  // is never collectible), so stopped sessions' plans are bounded to the
  // last few sessions rather than retained for the process lifetime.
  private val MaxSessions = 4
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]](
        16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession,
            java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]): Boolean =
        size() > MaxSessions
    })

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
      .computeIfAbsent((dir, name), { _ =>
      // events.ts may be parquet TIMESTAMP(NANOS), which Spark's µs
      // TimestampType rejects — with nanosAsLong it reads as a nanos
      // BIGINT; convert (integer `div`, no double round-trip). Newer
      // testdata stores µs TIMESTAMP_NTZ directly, which needs no
      // conversion, so gate on the resolved read type rather than
      // assuming the physical layout.
      if (name == "events") {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = spark.read.parquet(path(dir, name))
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts",
              org.apache.spark.sql.functions.timestamp_micros(
                org.apache.spark.sql.functions.expr("ts div 1000")))
          case _ => raw
        }
      } else spark.read.parquet(path(dir, name))
    })

  /** Register every table as a temp view for `spark.sql` use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Cheap content fingerprint of a testdata dir: every file's relative
    * path, size and mtime folded into one hash, so REGENERATED testdata at
    * the same path reads as different data. Two keys carry it:
    * ScaleBench's blow-up provenance marker (`--reuse` keeps a blow-up
    * only if it was built from the same base data) and the in-JVM
    * trained-merges key in CorpusQueries. Pure directory-listing metadata
    * — no Spark job, microseconds at testdata file counts.
    */
  def dirFingerprint(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return "missing"
    val wk = java.nio.file.Files.walk(root)
    val acc =
      try wk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { p =>
          s"${root.relativize(p)}|${java.nio.file.Files.size(p)}|" +
            java.nio.file.Files.getLastModifiedTime(p).toMillis
        }
        .toSeq.sorted.mkString("\n")
      finally wk.close()
    java.util.UUID.nameUUIDFromBytes(acc.getBytes("UTF-8")).toString
  }
}
