package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites (getOrCreate),
  * running the library's streaming state-store policy. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft-warehouse-${java.lang.ProcessHandle.current().pid()}")
    .config("spark.ui.enabled", "false")
    .config(Sessions.StreamState)
    .getOrCreate()

  def sf0: String = "/root/testdata/sf0.001"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Create a temp dir that the suite DELETES in afterAll — test staging
    * must not accumulate in /tmp across sbt invocations (advice r14; the
    * same class of leak RestartRuns exists to prevent on the main side).
    * Tests consume their staged data eagerly (collect/assert), so
    * end-of-suite deletion is safe. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    tempDirs.asScala.foreach { p =>
      if (java.nio.file.Files.exists(p)) {
        val wk = java.nio.file.Files.walk(p)
        try wk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally wk.close()
      }
    }
    tempDirs.clear()
    super.afterAll()
  }
}
