package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: reproducible inputs, output checks that can
  * fail, and per-command counts that match what the generator planted.
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = Env.session(2)
  private val out = java.nio.file.Files.createTempDirectory("perfbench-spec").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Env.deleteRecursively(out)
  }

  private def args(w: String, inject: Option[String] = None) =
    Args(w, seed = 7, seconds = 1, trace = false, inject = inject, outDir = out)

  test("one seed gives identical input digests; another seed does not") {
    def etl(seed: Long) = {
      val d = new Digest.Running
      val g = new EtlGen(seed)
      (0 until 3).foreach(b => g.batch(b, 200).foreach(e => d.add(e.valueJson)))
      d.hex
    }
    assert(etl(11) == etl(11))
    assert(etl(11) != etl(12))
    val small = CorpusParams(baseDocs = 200)
    assert(CorpusGen.generate(11, small).digest == CorpusGen.generate(11, small).digest)
    assert(CorpusGen.generate(11, small).digest != CorpusGen.generate(12, small).digest)
    def stream(seed: Long) = {
      val dir = new java.io.File(out, s"gen-$seed-${System.nanoTime()}")
      val (in, stage) = (new java.io.File(dir, "in"), new java.io.File(dir, "stage"))
      in.mkdirs(); stage.mkdirs()
      val g = new EtlStream.Generator(seed, new EtlGen(seed), in, stage, Seq((200, 4)),
        new Tracer(false), 0)
      g.start(); g.join()
      assert(g.failure == null)
      g.digest.hex
    }
    assert(stream(11) == stream(11))
    assert(stream(11) != stream(12))
  }

  test("etl_stream: a clean window passes its check; a lost or a twice-delivered record fails it") {
    val st = EtlStream.start(spark, new java.io.File(out, "stream"), Etl.compile(new BenchRegistry))
    try {
      def failed(inject: Option[String], salt: Long) = {
        val w = EtlStream.measure(st, args("etl_stream", inject), salt, salt * 1000000L,
          new Tracer(false), Seq(Seq((400, 12))))
        assert(w.expected > 0 && w.gens.head.redelivered.nonEmpty)
        w.failed
      }
      assert(failed(None, 1) == 0)
      assert(failed(Some("drop"), 2) > 0)
      assert(failed(Some("dup"), 3) > 0)
    } finally st.stop()
  }

  test("morphline batch check: a clean batch passes, a sender that drops one record fails") {
    val p = Etl.compile(new BenchRegistry)
    val events = new EtlGen(7).batch(0, 500)
    val truth = new EtlGen.Truth
    assert(EtlBatch.runBatch(spark, p, events, 2, truth, dropOne = false).ok)
    assert(!EtlBatch.runBatch(spark, p, events, 2, truth, dropOne = true).ok)
  }

  test("per-command row counts and routes equal the generator's planted shares") {
    val p = Etl.compile(new BenchRegistry)
    val events = new EtlGen(7).batch(0, 800)
    val exp = new EtlBatch.Expected(events, new EtlGen.Truth)
    val metrics = EtlBatch.prefixPasses(spark, p, events, 2, reps = 1)
      .map(m => m.name -> m.value).toMap
    def rows(op: String, k: String) = metrics(s"ops.${Etl.opName(p, p.ops.indexWhere(_.name == op))}.$k")
    assert(rows("connectEnvelope", "rows_in") == events.length)
    assert(rows("not:equals", "rows_in") == events.length)
    assert(rows("not:equals", "rows_out") == events.length - exp.dropped)
    assert(exp.dropped > 0)
    assert(rows("tryRules", "rows_out") == exp.count)
    assert(rows("kafkaProducer", "rows_out") == exp.count)
    // routes: what the sender saw per route equals the planted route shares
    val sender = EtlBatch.runBatch(spark, p, events, 2, new EtlGen.Truth, dropOne = false).sender
    val routed = sender.topicCounts.toSeq.groupBy(_._1.split("-")(1))
      .map { case (r, ts) => r -> ts.map(_._2).sum }
    assert(routed == exp.routed)
    assert(Set("errors", "orders", "events").subsetOf(routed.keySet))
  }

  test("curation_batch: survivors match the truth, an unremoved planted duplicate fails") {
    val c = CorpusGen.generate(7, CorpusParams(baseDocs = 150))
    val docs = Curation.load(spark, c, 2)
    val tracer = new Tracer(false)
    Env.releaseCaches()
    assert(Curation.pass(docs, None, tracer).matches(c))
    Env.releaseCaches()
    assert(c.spareDuplicate >= 0)
    val dup = docs.filter(org.apache.spark.sql.functions.col("id") === c.spareDuplicate)
    assert(!Curation.pass(docs, Some(dup), tracer).matches(c))
    Env.releaseCaches()
    docs.unpersist()
  }

  test("BENCHMARK.json names the workloads and metrics the harness prints") {
    val f = new java.io.File(Main.home.getAbsoluteFile.getParentFile, "BENCHMARK.json")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def names(k: String) = {
      import scala.jdk.CollectionConverters._
      json.get(k).elements.asScala.toSeq.map(_.get("name").asText)
    }
    assert(names("workloads").toSet == Main.Workloads.keySet)
    assert(names("end_to_end") == Main.EndToEnd.map(_._1))
    assert(names("per_layer") == Main.perLayer.map(_._1))
  }
}
