package perfbench

import graft.pipeline.{Pipeline, PipelineSpec}
import graft.schema.{CachedRegistryClient, RegistryClient, SchemaProvider}
import org.apache.spark.sql.DataFrame

import java.util.concurrent.atomic.AtomicLong

/** The schema registry the benchmark supplies: serves the value schema and
  * counts what reaches it (`schema.fetches`); lookups through the cache in
  * front of it are `schema.lookups`. */
final class BenchRegistry extends RegistryClient {
  val fetches = new AtomicLong
  val lookups = new AtomicLong
  def latest(subject: String): Option[String] = {
    fetches.incrementAndGet()
    if (subject == EtlGen.Subject) Some(EtlGen.ValueSchema) else None
  }
  private val cached = new CachedRegistryClient(this)

  /** Environment hook for the morphline's `${ETL_VALUE_SCHEMA}`. */
  def env(name: String): Option[String] =
    if (name != "ETL_VALUE_SCHEMA") None
    else {
      lookups.incrementAndGet()
      Some(SchemaProvider.FromRegistry(cached, EtlGen.Subject).schemaJson)
    }

  def metrics: Seq[Metric] = Seq(
    Metric("schema.lookups", lookups.get.toDouble, "count"),
    Metric("schema.fetches", fetches.get.toDouble, "count"))
}

object Etl {
  def confFile: java.io.File = new java.io.File(Main.home, "etl.conf")

  /** `PipelineSpec.fromHocon` over the committed morphline. */
  def compile(registry: BenchRegistry): Pipeline = {
    val text = new String(java.nio.file.Files.readAllBytes(confFile.toPath), "UTF-8")
    PipelineSpec.fromHocon(text, "etl", env = registry.env)
  }

  /** Metric-safe name of op `i`: position and the op's own name. */
  def opName(p: Pipeline, i: Int): String =
    f"$i%02d_" + p.ops(i).name.replaceAll("[^A-Za-z0-9_.-]", "_")

  /** Pipeline ops up to and including `last` (-1: none). */
  def prefix(p: Pipeline, last: Int): DataFrame => DataFrame =
    df => p.ops.take(last + 1).foldLeft(df)((d, op) => op(d))

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
