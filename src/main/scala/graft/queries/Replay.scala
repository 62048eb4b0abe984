package graft.queries

import graft.streaming.StreamingOps
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, pmod, xxhash64}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** The replay layout every `x_stream*` gate is fed through, the way the
  * reference's FileStreamSourceConnector feeds a connector (reference
  * README.md:108): a table is staged as N parquet files
  * `part-00001.parquet` … `part-0000N.parquet`, ordered across files by
  * an order column, and opened with `maxFilesPerTrigger=1`, so file k is
  * micro-batch k.
  *
  *  - Rows with one order value land in one file, and file k's largest
  *    order value is at most file k+1's smallest: one distributed
  *    `repartitionByRange` on the order column writes the files.
  *  - File k's mtime is pinned to `Epoch + k` minutes, because the file
  *    source takes the oldest-modified file first (`latestFirst=false`);
  *    write latency would not order them.
  *  - Gates whose result does not depend on arrival order (complete
  *    mode, an inner join without a watermark, independent lookups)
  *    order by [[rowHash]]; the watermarked gates order by event time or
  *    by [[jittered]] event time. Ordered by event time, arrival order
  *    is event order at file granularity, so no row arrives behind the
  *    watermark and the append-mode emitted set is a function of the
  *    data alone (every window the final watermark closed, with full
  *    counts), which is what lets those gates be hash-oracle-checked.
  *
  * Nothing is memoized: each gate invocation stages into a directory it
  * owns, [[RestartRuns.fresh]], which is deleted on that gate's next
  * invocation and at JVM exit, so staging is paid inside the gate's own
  * run. */
private[graft] object Replay {

  /** File k's mtime is `Epoch + k` minutes. */
  private val Epoch = 1700000000000L

  private def fileName(k: Int): String = f"part-$k%05d.parquet"

  private def pin(p: Path, k: Int): Unit =
    Files.setLastModifiedTime(p, FileTime.fromMillis(Epoch + k * 60000L))

  /** The `files` staged files of one table under `dir`, in replay order. */
  final case class Staged(dir: Path, files: Int, schema: StructType) {
    def file(k: Int): Path = dir.resolve(fileName(k))

    /** Copy file k into the input directory `in`, same name, same mtime. */
    def publish(in: Path, k: Int): Unit = {
      Files.createDirectories(in)
      val dst = in.resolve(fileName(k))
      Files.copy(file(k), dst, StandardCopyOption.REPLACE_EXISTING)
      pin(dst, k)
    }
  }

  /** The order of a gate whose result does not depend on arrival order:
    * xxhash64 of the whole row, so the files split the table evenly. */
  def rowHash(src: DataFrame): Column = xxhash64(src.columns.map(col): _*)

  /** BOUNDED-DISORDER order: each row's event time `tsCol` in µs plus a
    * deterministic jitter in [0, `boundMicros`), xxhash64 of the row.
    * With the bound δ below the watermark delay D no row can arrive
    * behind the watermark: a row r replayed in file q+1 has jittered
    * time ≥ every file-q jittered time b, so its true time is ≥ b − δ,
    * while the watermark after file q is ≤ b − D < b − δ. Hence zero
    * drops, the final watermark (max true ts − D) is unchanged, and the
    * emitted append set equals the ordered replay's, for any prefix of
    * the files, hence across a restart too. */
  def jittered(src: DataFrame, tsCol: String, boundMicros: Long): Column =
    expr(s"unix_micros(cast($tsCol AS timestamp))") +
      pmod(rowHash(src), lit(boundMicros))

  /** Stage `src` as `n` non-empty parquet files under `dir`, ordered
    * across files by `order`, mtimes pinned. Fails unless exactly `n`
    * non-empty files were written (an order with fewer than `n` distinct
    * values cannot be split `n` ways). */
  def stage(src: DataFrame, order: Column, n: Int, dir: Path): Staged = {
    val build = dir.resolve("_build")
    src.repartitionByRange(n, order).write.parquet(build.toString)
    // Spark names a task's file part-<partition id>-<job uuid>…, so name
    // order is partition order; an empty partition writes no file, save
    // partition 0, which a footer row count catches
    val ls = Files.list(build)
    val parts =
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .sortBy(_.getFileName.toString)
      finally ls.close()
    val conf = src.sparkSession.sessionState.newHadoopConf()
    val sizes = parts.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf))
      try r.getRecordCount finally r.close()
    }
    if (sizes.size != n || sizes.contains(0L))
      sys.error(s"replay staging into $dir wrote ${sizes.size} file(s) " +
        s"of ${sizes.mkString("/")} rows; expected $n non-empty files")
    for ((p, i) <- parts.zipWithIndex) {
      val dst = dir.resolve(fileName(i + 1))
      Files.move(p, dst)
      pin(dst, i + 1)
    }
    RestartRuns.deleteTree(build)
    Staged(dir, n, src.schema)
  }

  /** Open the directory `in` as a file stream, one file per trigger. */
  def open(s: SparkSession, schema: StructType, in: Path): DataFrame =
    StreamingOps.fileSource(s, schema, in.toString,
      options = Map("maxFilesPerTrigger" -> "1"))

  /** Stage `src` into `dir` and open it. */
  def stream(s: SparkSession, dir: Path, src: DataFrame, order: Column,
             n: Int = 4): DataFrame =
    open(s, src.schema, stage(src, order, n, dir).dir)

  /** A restart query's writer: the stream and the output path in, a
    * writer out; [[phase]] adds the checkpoint and the trigger. */
  type Query = (DataFrame, String) => DataStreamWriter[Row]

  /** The writer of the aggregation restart gates: `agg` appended to
    * parquet at the output path. */
  def appendParquet(agg: DataFrame => DataFrame): Query =
    (stream, out) => agg(stream).writeStream.format("parquet")
      .option("path", out).outputMode("append")

  /** One phase of a restart: publish `files` of `staged` into `run/in`,
    * then run `query` over it until it has read everything there
    * (AvailableNow), checkpointing to `run/ckpt`, output to `run/out`. */
  def phase(s: SparkSession, staged: Staged, run: Path, files: Seq[Int])(
      query: Query): Unit = {
    val in = run.resolve("in")
    files.foreach(staged.publish(in, _))
    CorpusQueries.startWithStreamConf(s) {
      query(open(s, staged.schema, in), run.resolve("out").toString)
        .option("checkpointLocation", run.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
    }.awaitTermination()
  }

  /** Two-phase checkpointed restart: files 1..`split`, then a STOP, then
    * a NEW query from the same checkpoint over the rest. Recovery must
    * restore the file-source offsets (no re-read, no double counts) and
    * the operator state, so state straddling the stop emits once — the
    * union of both phases' output then equals a continuous run's, which
    * is what lets every restart gate share its continuous twin's oracle.
    * Returns what both phases wrote to `run/out`. */
  def restart(s: SparkSession, staged: Staged, run: Path, split: Int)(
      query: Query): DataFrame = {
    phase(s, staged, run, 1 to split)(query)
    phase(s, staged, run, split + 1 to staged.files)(query)
    s.read.parquet(run.resolve("out").toString)
  }
}
