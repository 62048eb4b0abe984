package graft

import graft.functions.Conform
import graft.schema._
import org.apache.spark.sql.functions._

class SchemaProviderSpec extends SparkSpec {
  import spark.implicits._

  private val target =
    """{"type":"record","name":"T","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":["null","string"],"default":null},
      |{"name":"extra","type":["null","int"],"default":null}]}""".stripMargin

  private val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")

  test("literal, file, and registry sources conform identically") {
    val viaLiteral = Conform.conformTo(df, SchemaProvider.Literal(target))

    val f = java.nio.file.Files.createTempFile("graft-test-schema", ".avsc")
    java.nio.file.Files.write(f, target.getBytes("UTF-8"))
    val viaFile = Conform.conformTo(df, SchemaProvider.FromFile(f.toString))

    val reg = new InMemoryRegistry(Map("t-value" -> Seq("{}", target)))
    val viaRegistry = Conform.conformTo(df,
      SchemaProvider.FromRegistry(reg, "t-value"))

    val expect = viaLiteral.orderBy("id").collect().toSeq
    assert(viaFile.orderBy("id").collect().toSeq == expect)
    assert(viaRegistry.orderBy("id").collect().toSeq == expect)
    assert(expect.forall(r => r.isNullAt(2)), "missing nullable field not null-filled")
    java.nio.file.Files.delete(f)
  }

  test("registry resolves the LATEST version of a subject") {
    val v1 = """{"type":"record","name":"T","fields":[{"name":"id","type":"long"}]}"""
    val reg = new InMemoryRegistry(Map("s" -> Seq(v1, target)))
    assert(SchemaProvider.FromRegistry(reg, "s").schemaJson == target)
  }

  test("cached registry client fetches each subject once, LRU-bounded") {
    var fetches = 0
    val counting = new RegistryClient {
      def latest(subject: String): Option[String] = { fetches += 1; Some(target) }
    }
    val cached = new CachedRegistryClient(counting, maxEntries = 2)
    cached.latest("a"); cached.latest("a"); cached.latest("b"); cached.latest("a")
    assert(fetches == 2, s"expected 2 underlying fetches, got $fetches")
    // c evicts the least-recently-used entry (b); a stays hot, b refetches
    cached.latest("c")
    cached.latest("a")
    assert(fetches == 3, s"a should still be cached: $fetches")
    cached.latest("b")
    assert(fetches == 4, s"b should have been evicted: $fetches")
  }

  test("missing subject fails at plan time with the subject name") {
    val reg = new InMemoryRegistry(Map.empty)
    val e = intercept[NoSuchElementException] {
      SchemaProvider.FromRegistry(reg, "nope").schemaJson
    }
    assert(e.getMessage.contains("nope"))
  }

  test("resource: URI loads from the classpath") {
    // any test resource works; absence throws with the resource name
    val e = intercept[IllegalArgumentException] {
      SchemaProvider.FromFile("resource:does/not/exist.avsc").schemaJson
    }
    assert(e.getMessage.contains("does/not/exist.avsc"))
  }

  test("conformByField routes each row through its own schema") {
    val sA = """{"type":"record","name":"A","fields":[
               |{"name":"id","type":"long"},{"name":"name","type":"string"}]}""".stripMargin
    val sB = """{"type":"record","name":"B","fields":[
               |{"name":"id","type":"long"},{"name":"n","type":["null","int"],"default":null}]}""".stripMargin
    val rows = Seq((1L, "x", Some(sA)), (2L, "y", Some(sB)), (3L, "z", None))
      .toDF("id", "name", "schema")
    val out = Conform.conformByField(rows, "schema", keep = Seq("id"))
      .orderBy("id").as[(Long, Option[String])].collect().toSeq
    assert(out == Seq(
      1L -> Some("""{"id":1,"name":"x"}"""),
      2L -> Some("""{"id":2}"""), // n is null → omitted by to_json
      3L -> None))                // null schema → passthrough, unenriched
  }

  test("conformByField rejects an unbounded schema set") {
    val rows = (1 to 5).map(i =>
      (i.toLong, s"""{"type":"record","name":"R$i","fields":[{"name":"id","type":"long"}]}"""))
      .toDF("id", "schema")
    val e = intercept[IllegalArgumentException] {
      Conform.conformByField(rows, "schema", keep = Seq("id"), maxSchemas = 3)
    }
    assert(e.getMessage.contains("maxSchemas") || e.getMessage.contains("distinct"))
  }

  test("conformBySubject rejects an unbounded subject set") {
    import spark.implicits._
    val t = """{"type":"record","name":"T","fields":[{"name":"v","type":"long"}]}"""
    val reg = new graft.schema.InMemoryRegistry(Map("s1" -> Seq(t)))
    val rows = (1 to 5).map(i => (i.toLong, s"s$i")).toDF("v", "subj")
      .select(org.apache.spark.sql.functions.struct($"v").as("value"), $"subj")
    val e = intercept[IllegalArgumentException] {
      Conform.conformBySubject(rows, "subj", "value", reg, maxSubjects = 3)
    }
    assert(e.getMessage.contains("maxSubjects") ||
      e.getMessage.contains("distinct"), e.getMessage)
  }

  test("enrichJson op accepts exactly one schema source") {
    def enrichJson(block: String) = graft.pipeline.PipelineSpec.fromHocon(
      s"morphlines : [ { id : e, commands : [ { enrichJson { $block } } ] } ]",
      "e").ops.last
    val schemaString = "schemaString : \"\"\"" + target + "\"\"\""
    val ok = enrichJson(schemaString)
    assert(ok.name == "enrichJson")
    intercept[IllegalArgumentException] {
      enrichJson(s"$schemaString, schemaFile : /tmp/x.avsc")
    }
    intercept[IllegalArgumentException] {
      enrichJson("")
    }
  }
}
