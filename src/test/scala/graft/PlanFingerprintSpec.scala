package graft

/** Physical-plan regression gate (r15 VERDICT item 5): the headline
  * queries' plan shapes — shuffle/join/agg operator counts, scan columns,
  * pushed filters — are snapshot into a committed fixture and asserted on
  * every `sbt test`. Bench timings can't catch a plan regression (host
  * drift of 1.3-4× hides an extra Exchange); plan shapes are
  * deterministic, so a shuffle/scan change that nobody intended fails CI
  * the day it lands, with a diff naming the query and the changed shape.
  *
  * Streaming gates are excluded: their `queries` entries EXECUTE the
  * stream at build time, and the interesting machinery (state stores,
  * watermarks) lives outside the batch sparkPlan anyway.
  *
  * To regenerate after an INTENDED plan change:
  *   GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanFingerprintSpec"
  * then review the fixture diff like code — every changed line is a plan
  * change you are claiming is intentional.
  */
class PlanFingerprintSpec extends SparkSpec {

  private val fixturePath = java.nio.file.Paths.get(
    "src/test/resources/plan_fingerprints.tsv")

  // ALL batch queries since r20 (r19 VERDICT item 4): the fixture
  // previously pinned only the ~45 headline queries, so a lost broadcast
  // or new shuffle in any of the other ~170 would surface only as bench
  // noise. Building a frame is planning-only for most queries; the
  // iterative ones (union-find, kNN graph, PageRank) run their driver
  // loops at sf0.001, which keeps the full pass to ~2 min.
  private def gateNames: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("x_stream"))

  private def currentFingerprints(): Seq[(String, String)] =
    gateNames.map { n =>
      // a clean cache per query: a cached relation left by a previous
      // query would swap InMemoryTableScan into this one's plan and make
      // the fingerprint depend on evaluation ORDER instead of the query
      CacheScope.releaseAll()
      spark.sharedState.cacheManager.clearCache()
      val fp = graft.tools.PlanFingerprint.of(
        SparkEntry.queries(n)(spark, sf0))
      n -> fp
    }

  test("headline physical plans match the committed fingerprint fixture") {
    val got = currentFingerprints()
    CacheScope.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    if (sys.env.get("GRAFT_REGEN_PLANS").contains("1")) {
      java.nio.file.Files.createDirectories(fixturePath.getParent)
      val body = got.map { case (n, fp) => s"$n\t$fp" }.mkString("", "\n", "\n")
      java.nio.file.Files.write(fixturePath, body.getBytes("UTF-8"))
      info(s"regenerated ${fixturePath} with ${got.size} fingerprints")
    } else {
      assert(java.nio.file.Files.exists(fixturePath),
        s"missing fixture $fixturePath — run GRAFT_REGEN_PLANS=1 " +
          "sbt 'testOnly graft.PlanFingerprintSpec' once and commit it")
      val want = new String(
        java.nio.file.Files.readAllBytes(fixturePath), "UTF-8")
        .linesIterator.filter(_.nonEmpty).map { l =>
          val Array(n, fp) = l.split("\t", 2); n -> fp
        }.toMap
      val diffs = got.flatMap { case (n, fp) =>
        want.get(n) match {
          case None => Some(s"$n: NOT IN FIXTURE (new headline query — regenerate)")
          case Some(w) if w != fp =>
            Some(s"$n:\n  fixture: $w\n  current: $fp")
          case _ => None
        }
      }
      val missing = want.keySet -- got.map(_._1).toSet
      assert(diffs.isEmpty && missing.isEmpty,
        s"physical plan shape changed for ${diffs.size} quer(ies) " +
          s"(${missing.size} dropped from headline).\n" +
          diffs.mkString("\n") +
          (if (missing.nonEmpty) s"\ndropped: ${missing.mkString(", ")}" else "") +
          "\nIf intended: GRAFT_REGEN_PLANS=1 sbt 'testOnly " +
          "graft.PlanFingerprintSpec', review the fixture diff, commit.")
    }
  }

  test("fingerprints are deterministic across rebuilds") {
    // the gate is only as good as its stability: two consecutive builds
    // of the same queries must produce identical signatures (no exprIds,
    // no environment-dependent fields leaked into the fingerprint)
    val a = currentFingerprints().toMap
    val b = currentFingerprints().toMap
    CacheScope.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    val unstable = a.keys.filter(k => a(k) != b(k))
    assert(unstable.isEmpty,
      s"non-deterministic fingerprints: ${unstable.mkString(", ")}")
  }
}
