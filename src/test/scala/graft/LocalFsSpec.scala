package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The `file:` binding of library sessions ([[graft.io.NioLocalFs]]):
  * its two java.nio primitives answer as stock Hadoop does, a stream
  * checkpoints the same files through it, and a library session
  * resolves `file:` to it through both Hadoop APIs. */
class LocalFsSpec extends DedupRuns {

  private def fs(raw: RawLocalFileSystem): RawLocalFileSystem = {
    raw.initialize(URI.create("file:///"), new Configuration())
    raw
  }
  private lazy val stock = fs(new RawLocalFileSystem)
  private lazy val nio = fs(new NioRawLocalFileSystem)

  /** A file, a directory, a symlink to each, a dangling symlink and a
    * missing path, under `dir`. */
  private def tree(dir: JPath): Seq[JPath] = {
    val file = Files.write(dir.resolve("file"), "x".getBytes)
    val sub = Files.createDirectory(dir.resolve("dir"))
    Seq(file, sub,
      Files.createSymbolicLink(dir.resolve("file-link"), file),
      Files.createSymbolicLink(dir.resolve("dir-link"), sub),
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone")),
      dir.resolve("missing"))
  }

  /** Everything a status says, or the exception class thrown. */
  private def linkStatus(raw: RawLocalFileSystem, p: Path): Any =
    Try(raw.getFileLinkStatus(p)).map { (s: FileStatus) =>
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    }.recover { case e => e.getClass }.get

  test("getFileLinkStatus answers as stock for files, directories, " +
      "symlinks, a dangling symlink and a missing path") {
    val dir = tempDir("graft-localfs-link")
    for (p <- tree(dir); path <- Seq(new Path(p.toString),
         stock.makeQualified(new Path(p.toString)))) {
      val (s, n) = (linkStatus(stock, path), linkStatus(nio, path))
      assert(n == s, s"$path: nio $n, stock $s")
    }
    assert(linkStatus(nio, new Path(dir.resolve("missing").toString)) ==
      classOf[FileNotFoundException])
    assert(nio.getFileLinkStatus(new Path(dir.resolve("file-link").toString))
      .isSymlink, "an unqualified symlink must read as one, as in stock")
  }

  test("setPermission leaves the mode stock leaves, under several masks " +
      "and a sticky bit, and fails where stock fails") {
    def mode(p: JPath): Any =
      Try(Files.getAttribute(p, "unix:mode")).recover { case e => e.getClass }.get
    for (mask <- Seq("644", "750", "600", "1777")) {
      val perm = new FsPermission(Integer.parseInt(mask, 8).toShort)
      val (sDir, nDir) = (tempDir("graft-localfs-s"), tempDir("graft-localfs-n"))
      for ((s, n) <- tree(sDir).zip(tree(nDir))) {
        val sErr = Try(stock.setPermission(new Path(s.toString), perm))
        val nErr = Try(nio.setPermission(new Path(n.toString), perm))
        assert(nErr.failed.map(_.getClass).toOption ==
          sErr.failed.map(_.getClass).toOption, s"$mask ${n.getFileName}")
        assert(mode(n) == mode(s), s"$mask ${n.getFileName}")
      }
      if (mask == "1777") // the stock fallback, not nio, set it
        assert((mode(nDir.resolve("dir")).asInstanceOf[Int] & 0x200) != 0)
    }
  }

  /** Every file under `root`, relative, with random ids masked. */
  private def names(root: JPath): Set[String] = {
    val w = Files.walk(root)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<id>"))
      .toSet
    finally w.close()
  }

  /** The Hadoop conf `session`'s streams run with; `sessionState` is
    * `private[sql]` in Spark 4. */
  private def hadoopConf(session: SparkSession): Configuration = {
    val state = session.getClass.getMethod("sessionState").invoke(session)
    state.getClass.getMethod("newHadoopConf").invoke(state)
      .asInstanceOf[Configuration]
  }
  private val root = URI.create("file:///")

  test("a library-session stream checkpoints the same files as on stock " +
      "Hadoop, and restarts from them without emitting a row twice") {
    val stockSession = spark.newSession()
    // the shared session's stream policy and partitioning, whichever
    // session created the context, and stock Hadoop for `file:`
    (Sessions.StreamState.keys.filterNot(_.startsWith("spark.hadoop.")) ++
        Seq("spark.sql.shuffle.partitions"))
      .foreach(k => stockSession.conf.set(k, spark.conf.get(k)))
    stockSession.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    stockSession.conf.set("fs.file.impl.disable.cache", "true")
    stockSession.conf.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    assert(FileSystem.get(root, hadoopConf(stockSession)).getClass ==
      classOf[LocalFileSystem])
    assert(AbstractFileSystem.get(root, hadoopConf(stockSession)).getClass
      .getName == "org.apache.hadoop.fs.local.LocalFs")
    val staged = dedupInput("localfs")
    val (nioRun, stockRun) =
      (tempDir("graft-localfs-nio"), tempDir("graft-localfs-stock"))
    dedupStream(spark, "localfs_nio", staged, nioRun)
    dedupStream(stockSession, "localfs_stock", staged, stockRun)
    val (n, s) = (names(nioRun.resolve("ckpt")), names(stockRun.resolve("ckpt")))
    assert(n == s, s"nio only: ${n -- s}; stock only: ${s -- n}")
    // Hadoop's side files (`.1.changelog.crc`, `offsets/.0.crc`) and
    // Spark's checkpoint checksums (`1.changelog.crc`)
    for (re <- Seq("state/.*/\\.1\\.changelog\\.crc", "offsets/\\.0\\.crc",
                   "state/.*/1\\.changelog\\.crc"))
      assert(n.exists(_.matches(re)), s"no $re among $n")

    // restart: the earlier half of the events, then the later half from
    // the same checkpoint
    val split = tempDir("graft-localfs-split").resolve("events")
    spark.read.parquet(staged.toString).repartitionByRange(2, col("ts"))
      .write.parquet(split.toString)
    val parts = Files.list(split).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    assert(parts.size == 2)
    val (in, run) = (tempDir("graft-localfs-restart-in"),
      tempDir("graft-localfs-restart"))
    Files.copy(parts(0), in.resolve(parts(0).getFileName))
    dedupStream(spark, "localfs_restart", in, run)
    Files.copy(parts(1), in.resolve(parts(1).getFileName))
    val second = dedupStream(spark, "localfs_restart", in, run)
    assert(second.recentProgress.map(_.numInputRows).sum ==
      spark.read.parquet(parts(1).toString).count(),
      "the restart re-read input its checkpoint had committed")
    val out = spark.read.parquet(run.resolve("out").toString)
    assert(out.count() > 0)
    assert(out.count() == out.distinct().count(), "a row was emitted twice")
  }

  test("a library session resolves file: to the nio classes through " +
      "FileSystem.get and FileContext") {
    val conf = hadoopConf(spark)
    // cached per scheme, not per conf: the instance every FileSystem.get
    // of `file:` in this JVM returns, whichever conf created it first
    val viaGet = FileSystem.get(root, conf)
    assert(viaGet.getClass == classOf[NioLocalFileSystem])
    assert(viaGet.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
  }
}
