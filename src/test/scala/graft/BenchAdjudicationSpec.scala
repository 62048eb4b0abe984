package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the bench record's self-adjudication layer (r18 VERDICT
  * item 1) and the measured-scan-class listener (item 2): the per-round
  * BENCH_r{N}.json must be readable standalone — a judge classifies a
  * contended-host sample from the record's own fields, without PLANS/
  * commit archaeology — and roll updates must freeze under non-default
  * execution configs (ADVICE r18: one throughput-favorable run would
  * otherwise poison the rolling records forever).
  */
class BenchAdjudicationSpec extends AnyFunSuite {

  test("verdictLine: clean sample when probes flat and shift small") {
    assert(Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = true, shift = 1.05, probeMin = 0.4,
      probeMax = 0.45, probe2Min = 0.42, probe2Max = 0.48,
      quietBest = 94.3) == "clean sample")
  }

  test("verdictLine: contended sample names the probe swing and quiet best") {
    val v = Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = true, shift = 1.499, probeMin = 0.44,
      probeMax = 0.76, probe2Min = 0.45, probe2Max = 0.50,
      quietBest = 94.3)
    assert(v.contains("contended-host sample"))
    assert(v.contains("probe 0.44-0.76s"))
    assert(!v.contains("probe2"), "flat probe2 must not be cited")
    assert(v.contains("quiet same-commit best 94.3s"))
  }

  test("verdictLine: probe2-only swing names probe2, not the flat probe-1 range") {
    // ADVICE r19: the live r19 record cited "probe 0.31-0.40s" (1.30x,
    // flat-looking) when probe 2 alone broke flatness
    val v = Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = true, shift = 1.28, probeMin = 0.31,
      probeMax = 0.40, probe2Min = 0.30, probe2Max = 0.62,
      quietBest = -1.0)
    assert(v.contains("contended-host sample"))
    assert(v.contains("probe2 0.30-0.62s"))
    assert(!v.contains("probe 0.31-0.40s"), "flat probe-1 must not be cited")
  }

  test("verdictLine: both series swinging cites both") {
    val v = Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = true, shift = 1.5, probeMin = 0.44,
      probeMax = 0.76, probe2Min = 0.30, probe2Max = 0.62,
      quietBest = -1.0)
    assert(v.contains("probe 0.44-0.76s"))
    assert(v.contains("probe2 0.30-0.62s"))
  }

  test("verdictLine: contended flat-probe sample cites the shift; no quiet sample is said so") {
    val v = Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = true, shift = 1.6, probeMin = 0.4,
      probeMax = 0.42, probe2Min = 0.44, probe2Max = 0.46,
      quietBest = -1.0)
    assert(v.contains("global_shift 1.60x"))
    assert(v.contains("no quiet same-commit sample"))
  }

  test("verdictLine: partial and non-default-config runs are labeled, never 'clean sample'") {
    assert(Bench.verdictLine(fullBoard = false, nQueries = 12,
      cfgDefault = true, shift = 1.0, probeMin = 0.4,
      probeMax = 0.4, probe2Min = 0.4, probe2Max = 0.4,
      quietBest = -1).startsWith("partial run (12 queries"))
    assert(Bench.verdictLine(fullBoard = true, nQueries = 219,
      cfgDefault = false, shift = 1.0, probeMin = 0.4,
      probeMax = 0.4, probe2Min = 0.4, probe2Max = 0.4,
      quietBest = -1).startsWith("non-default execution config"))
  }

  test("quietBestTotal: same commit, flat, small shift only") {
    val ss = Seq(
      Bench.Sample("aaa", 141.0, 1.499, flat = false, 0.44, 0.76),
      Bench.Sample("aaa", 94.3, 1.02, flat = true, 0.27, 0.31),
      Bench.Sample("aaa", 104.8, 1.1, flat = true, 0.3, 0.35),
      Bench.Sample("bbb", 80.0, 1.0, flat = true, 0.3, 0.3), // other commit
      Bench.Sample("aaa", 90.0, 1.45, flat = true, 0.3, 0.3)) // shifted
    assert(Bench.quietBestTotal(ss, "aaa") == 94.3)
    assert(Bench.quietBestTotal(ss, "ccc") == -1.0)
  }

  test("samples round-trip through BENCH.out.json (full per-sample schema)") {
    // r19 VERDICT item 2: each entry is standalone — verdict,
    // probe_version, sf, probe-2 spread, and the production stream-rps
    // summary all round-trip, so a probe-version caveat never lives only
    // in PLANS prose again
    val ss = Seq(
      Bench.Sample("abc1234", 94.301, 1.0214, flat = true, 0.2714, 0.3101,
        0.4012, 0.4409, 3, "/root/testdata/sf0.1", "clean sample",
        Map("x_stream_window_append" -> 57274.0,
          "x_stream_session_disorder" -> 43485.0)),
      Bench.Sample("abc1234", 141.02, 1.499, flat = false, 0.4418, 0.7612,
        0.4101, 0.9003, 3, "/root/testdata/sf0.1",
        "contended-host sample (probe 0.44-0.76s, probe2 0.41-0.90s " +
          "within the run); quiet same-commit best 94.3s",
        Map("x_stream_window_append" -> 41002.0)))
    val json = s"""{"metric":"total","value":1.0${
      ss.map(Bench.sampleJson).mkString(",\"samples\":[", ",", "]")}}"""
    val f = java.nio.file.Files.createTempFile("bench-samples", ".json")
    try {
      java.nio.file.Files.write(f, json.getBytes("UTF-8"))
      val back = Bench.readPrevSamples(f)
      assert(back.map(_.commit) == Seq("abc1234", "abc1234"))
      assert(back.map(_.flat) == Seq(true, false))
      assert(math.abs(back.head.total - 94.301) < 1e-9)
      assert(math.abs(back(1).probeMax - 0.7612) < 1e-9)
      assert(math.abs(back.head.probe2Max - 0.4409) < 1e-9)
      assert(back.map(_.probeVer) == Seq(3, 3))
      assert(back.map(_.sf).distinct == Seq("/root/testdata/sf0.1"))
      assert(back.head.verdict == "clean sample")
      assert(back(1).verdict.contains("probe2 0.41-0.90s"))
      assert(back.head.streamRps("x_stream_window_append") == 57274.0)
      assert(back.head.streamRps("x_stream_session_disorder") == 43485.0)
      assert(back(1).streamRps == Map("x_stream_window_append" -> 41002.0))
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("pre-r20 sample entries (no new fields) still parse with legacy defaults") {
    val legacy = """{"samples":[{"commit":"30faf2e","total":112.45,""" +
      """"shift":1.2839,"flat":false,"probe_min":0.3058,"probe_max":0.3970}]}"""
    val f = java.nio.file.Files.createTempFile("bench-legacy", ".json")
    try {
      java.nio.file.Files.write(f, legacy.getBytes("UTF-8"))
      val back = Bench.readPrevSamples(f)
      assert(back.size == 1)
      assert(back.head.commit == "30faf2e")
      assert(back.head.probe2Min == -1.0 && back.head.probe2Max == -1.0)
      assert(back.head.probeVer == 0) // marks the entry pre-versioning
      assert(back.head.sf == "" && back.head.verdict == "")
      assert(back.head.streamRps.isEmpty)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("readPrevSamples: missing file / missing field / garbage all yield empty") {
    assert(Bench.readPrevSamples(
      java.nio.file.Paths.get("/tmp/does-not-exist-bench.json")).isEmpty)
    val f = java.nio.file.Files.createTempFile("bench-garbage", ".json")
    try {
      java.nio.file.Files.write(f, "not json".getBytes("UTF-8"))
      assert(Bench.readPrevSamples(f).isEmpty)
      java.nio.file.Files.write(f, """{"samples":"nope"}""".getBytes("UTF-8"))
      assert(Bench.readPrevSamples(f).isEmpty)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("seriesFlat: both-ends spread under 1.3x, non-positive values never flat") {
    assert(Bench.seriesFlat(Seq(0.40, 0.45, 0.50)))
    assert(!Bench.seriesFlat(Seq(0.44, 0.76, 0.58))) // r18's live host event
    assert(!Bench.seriesFlat(Nil))
    assert(!Bench.seriesFlat(Seq(0.0, 0.0)))
  }

  test("rollEligibleConfig: default env eligible; every shaping knob freezes rolls") {
    assert(Bench.rollEligibleConfig(Map.empty))
    assert(Bench.rollEligibleConfig(Map("SPARK_GRAFT_CPUS" -> "32")))
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,8,8192]")))
    assert(!Bench.rollEligibleConfig(Map("SPARK_GRAFT_CPUS" -> "8")))
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_STREAM_FILES" -> "span:648000")))
    // ADVICE r19 (medium): the remaining execution-shaping knobs freeze
    // rolls too — a smaller corpus or a different iteration count each
    // sets records a default run can never match
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.01")))
    assert(Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.1")),
      "explicitly naming the default corpus stays eligible")
    assert(!Bench.rollEligibleConfig(Map("SPARK_GRAFT_BENCH_ITERS" -> "6")))
    assert(Bench.rollEligibleConfig(Map("SPARK_GRAFT_BENCH_ITERS" -> "3")),
      "explicitly naming the default iteration count stays eligible")
  }

  test("ScanTimeListener: no observed tasks yields None, not a class flip") {
    val lis = new Bench.ScanTimeListener
    assert(lis.scanFraction("q_never_ran").isEmpty)
  }
}
