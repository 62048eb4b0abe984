package graft

import graft.queries.{Replay, RestartRuns}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The replay layout the streaming gates are fed through: N ordered,
  * non-empty, mtime-pinned parquet files in a directory the caller owns. */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  private def names(dir: Path): Seq[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally ls.close()
  }

  /** 1,000 rows whose order column `k` takes 100 values, 10 rows each. */
  private def frame = spark.range(0, 1000)
    .select(col("id"), (col("id") % 100).as("k"))

  test("stage: N non-empty files, ordered across files, mtimes increasing") {
    val dir = tempDir("graft-replay-spec")
    val staged = Replay.stage(frame, col("k"), 4, dir)
    assert(names(dir) == (1 to 4).map(k => f"part-$k%05d.parquet"))
    val keys = (1 to 4).map(k =>
      spark.read.parquet(staged.file(k).toString).as[(Long, Long)]
        .collect().map(_._2).toSeq)
    assert(keys.forall(_.nonEmpty), keys.map(_.size))
    assert(keys.map(_.size).sum == 1000)
    keys.sliding(2).foreach { case Seq(a, b) =>
      assert(a.max <= b.min, s"file order broken: ${a.max} > ${b.min}")
    }
    // one order value, one file
    keys.map(_.toSet).combinations(2).foreach { case Seq(a, b) =>
      assert((a intersect b).isEmpty)
    }
    assert(keys.flatten.groupBy(identity).values.forall(_.size == 10))
    val mtimes = (1 to 4).map(k =>
      Files.getLastModifiedTime(staged.file(k)).toMillis)
    assert(mtimes.sliding(2).forall { case Seq(a, b) => a < b }, mtimes)
    // publishing keeps the name and the pinned mtime
    val in = dir.resolveSibling(dir.getFileName.toString + "-in")
    try {
      staged.publish(in, 3)
      assert(names(in) == Seq("part-00003.parquet"))
      assert(Files.getLastModifiedTime(in.resolve("part-00003.parquet"))
        .toMillis == mtimes(2))
    } finally RestartRuns.deleteTree(in)
  }

  test("stage: a row-hash order splits three rows into three files; " +
      "an order with too few values fails") {
    val three = spark.range(0, 3).select(col("id").as("vec_id"))
    val dir = tempDir("graft-replay-spec")
    Replay.stage(three, Replay.rowHash(three), 3, dir.resolve("hash"))
    assert(names(dir.resolve("hash")).size == 3)
    val err = intercept[RuntimeException](
      Replay.stage(frame, col("id") % 2, 4, dir.resolve("two")))
    assert(err.getMessage.contains("expected 4 non-empty files"),
      err.getMessage)
  }

  test("a gate's second staging gets a new directory; the first is " +
      "deleted") {
    val first = RestartRuns.fresh("replay_spec")
    Replay.stage(frame, col("k"), 2, first)
    val second = RestartRuns.fresh("replay_spec")
    Replay.stage(frame, col("k"), 2, second)
    assert(first != second)
    assert(!Files.exists(first), s"$first survived the next staging")
    assert(names(second) == Seq("part-00001.parquet", "part-00002.parquet"))
  }
}
