package graft

import graft.pipeline.{PipelineSpec, StandardOps}
import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md's "Registered morphline commands" section is generated from
  * `StandardOps.registry` and drift-checked here: registering a new command
  * without documenting it (or documenting a command that was removed) fails
  * the suite.
  */
class RegistryCoverageSpec extends AnyFunSuite {

  test("COVERAGE.md registered-command list matches StandardOps.registry exactly") {
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val header = "## Registered morphline commands"
    val idx = md.indexOf(header)
    assert(idx >= 0, s"COVERAGE.md lost its '$header' section")
    val section = md.substring(idx)
    val next = section.indexOf("\n## ", header.length)
    val body = if (next >= 0) section.substring(0, next) else section
    val documented = raw"`([A-Za-z0-9]+)`".r.findAllMatchIn(body)
      .map(_.group(1)).toSet -- Set("if", "tryRules", "pipe",
        "StandardOps", "PipelineSpec", "RegistryCoverageSpec", "fromHocon",
        "registry")
    val registered = StandardOps.registry.names.toSet
    assert(documented == registered,
      s"COVERAGE.md drift — undocumented: ${registered -- documented}; " +
        s"stale: ${documented -- registered}")
  }

  test("user-registered op: registry extension resolves from HOCON like a built-in") {
    // the `java { code: … }` stand-in (SURVEY §2.F): users extend the
    // registry with their own op and reference it from a conf — the same
    // CommandBuilder-SPI seam the reference exposes, without inline
    // compilation. Gate query m_custom_udf exercises the full path on
    // real data; this pins the registry mechanics.
    val r = StandardOps.registry.register("userShout") { c =>
      val f = c.getOrElse("field", "_attachment_body")
      graft.pipeline.Op("userShout")(df =>
        df.withColumn(f, org.apache.spark.sql.functions.upper(
          org.apache.spark.sql.functions.col(f))))
    }
    assert(r.names.contains("userShout"))
    // a fresh StandardOps.registry is NOT polluted by user registration
    assert(!StandardOps.registry.names.contains("userShout"))
    val op = PipelineSpec.fromHocon(
      "morphlines : [ { id : u, commands : [ { userShout { field : x } } ] } ]",
      "u", r).ops.last
    assert(op.name == "userShout")
  }

  test("every command builds from a minimal config or fails with a config error") {
    // the registry must never throw on *lookup* of a documented name
    // (unknown-op errors are reserved for genuinely unknown commands)
    StandardOps.registry.names.foreach { name =>
      try { StandardOps.registry.build(name); () }
      catch {
        case e: IllegalArgumentException =>
          assert(!e.getMessage.startsWith("unknown op"),
            s"registered name '$name' not resolvable: ${e.getMessage}")
        case _: Throwable => () // config-shape errors are fine here
      }
    }
  }
}
