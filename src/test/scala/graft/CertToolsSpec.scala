package graft

/** Contract invariants for the certification tools (SpillCertify,
  * ConcurrentServe): their query lists are plain string Seqs, so a query
  * rename would silently turn a certification into a KeyError at tool
  * runtime — long after the rename's author stopped looking. Pinning
  * them to SparkEntry.queries (and, for the spill subset, to the bench
  * headline, whose members are plan-fingerprinted and oracle-gated)
  * makes the drift a test failure instead.
  */
class CertToolsSpec extends SparkSpec {

  test("SpillCertify cert queries all exist and are headline-gated") {
    val missing = tools.SpillCertify.certQueries
      .filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unknown queries in SpillCertify: $missing")
    val unheadlined = tools.SpillCertify.certQueries
      .filterNot(Bench.headline.contains)
    assert(unheadlined.isEmpty,
      s"SpillCertify queries outside the plan-fingerprinted headline: $unheadlined")
  }

  test("SpillCertify options: defaults, each option, typos fail, prefixes stay positional") {
    import tools.SpillCertify.{Options, certQueries, parseArgs}
    assert(parseArgs(Nil) == Options(10, "8", "", "", certQueries))
    assert(parseArgs(Seq("--factor=100", "--cpus=4",
        "--master=local-cluster[2,2,4096]", "--exec-mem=1500m")) ==
      Options(100, "4", "local-cluster[2,2,4096]", "1500m", certQueries))
    // options and query prefixes mix in any order
    assert(parseArgs(Seq("q_window", "--cpus=2", "q5_")) ==
      Options(10, "2", "", "", Seq("q5_local_supplier", "q_window_rank")))
    for (typo <- Seq("--factr=1", "--cpus", "--probe"))
      intercept[RuntimeException](parseArgs(Seq(typo)))
  }

  test("ConcurrentServe queries all exist and are batch-only") {
    val missing = tools.ConcurrentServe.serveQueries
      .filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unknown queries in ConcurrentServe: $missing")
    // streaming gates manage global state-store lifecycles; the serving
    // certification is a batch-overlap contract by design
    assert(tools.ConcurrentServe.serveQueries
      .forall(!_.startsWith("x_stream")))
  }

  test("ResultHash is order-insensitive and content-sensitive") {
    import spark.implicits._
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "v")
    val b = Seq((3, "z"), (1, "x"), (2, "y")).toDF("id", "v")
    val c = Seq((1, "x"), (2, "y"), (3, "w")).toDF("id", "v")
    assert(tools.ResultHash.of(a) == tools.ResultHash.of(b))
    assert(tools.ResultHash.of(a) != tools.ResultHash.of(c))
  }
}
