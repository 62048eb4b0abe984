package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Census of the side channels a run can be configured through, read
  * from the repo's files. Settings reach the library through arguments
  * and the pipeline config; the environment carries only deployment
  * settings (paths, master URL, core count, memory size), and every
  * session is built by [[Sessions]], so each gets the same UTC clock,
  * streaming state policy and `file:` binding. A new knob or a
  * hand-built session fails here.
  */
class KnobCensusSpec extends AnyFunSuite {

  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (Files.isRegularFile(p)) Seq(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def mainSources: Seq[Path] =
    files("src/main").filter(_.toString.endsWith(".scala"))

  /** `src` without its `/* */` and `//` comments. */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("the environment carries only the six deployment settings") {
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    val names = Seq("src/main", "tools", "build.sbt").flatMap(files)
      .flatMap(p => knob.findAllIn(read(p))).toSet
    assert(names == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER",
      "SPARK_GRAFT_EXECUTOR_MEM", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_CLASSES", "SPARK_GRAFT_SPILL_BASE"))
  }

  test("only Sessions builds a SparkSession in src/main") {
    val calls = mainSources.map(p =>
      p.getFileName.toString -> java.util.regex.Pattern
        .quote("SparkSession.builder()").r.findAllIn(code(read(p))).size)
      .filter(_._2 > 0)
    assert(calls == Seq("Sessions.scala" -> 1), calls)
  }

  test("src/main reads no graft.* system property") {
    val prop = "(sys\\.props|System\\.getProperty)[^\n]*\"graft\\.".r
    val readers = mainSources.filter(p => prop.findFirstIn(code(read(p))).nonEmpty)
    assert(readers.isEmpty, readers)
  }
}
