package graft.tools

import org.apache.spark.sql.SparkSession

/** Memory-pressure / spill certification (r16 VERDICT item 1): every gate
  * run to date fit in RAM (8 GB JVMs even at the 10× blow-up), so the
  * Tungsten spill paths a 100 TB deployment lives in — `UnsafeExternalSorter`
  * sort spills, hash-aggregate fallback to sort-aggregate, shuffle spill —
  * had never executed under any correctness gate. A wrong-result-under-spill
  * bug (a non-associative partial-merge, a sort-key mismatch that only
  * surfaces in spill-file merge) would be invisible to the whole board.
  *
  * Protocol:
  *  1. The parent (this JVM, the roomy 8 GB sbt heap) computes reference
  *     hashes for a spill-prone headline subset over the CLEAN 10× blow-up
  *     of sf0.1 (6M-row lineitem, 50k docs — sf1-equivalent), recording its
  *     own spill metrics (expected ≈0: nothing should spill at 8 GB).
  *  2. It spawns a CHILD JVM with `-Xmx1500m` (`ChildHeap`) and 8 large
  *     shuffle partitions (`ChildParts`, on local[8]) so per-task
  *     execution memory is ~1500m·0.6/8 ≈ 110 MB against
  *     multi-hundred-MB per-task sorts — the spill paths MUST engage. The child records per-query `memoryBytesSpilled` /
  *     `diskBytesSpilled` from its own task metrics and the same canonical
  *     result hash.
  *  3. The parent asserts (a) every query's child hash equals its
  *     reference hash, and (b) the child actually spilled — a run with
  *     zero spilled bytes anywhere proves nothing and FAILS the
  *     certification rather than passing vacuously.
  *
  * Usage: runMain graft.tools.SpillCertify [--factor=10] [--cpus=8]
  *          [--master=local-cluster[2,2,4096]] [--exec-mem=1500m]
  *          [queryPrefix ...]
  *  - `--factor`: blow-up factor of the base corpus (default 10; 1 = the
  *    base dir itself);
  *  - `--cpus`: the child's local[k] (default 8);
  *  - `--master`: run the child on this master instead, e.g. a
  *    local-cluster, so spill engages inside separate executor JVMs;
  *  - `--exec-mem`: the executor memory of that `--master`.
  * An unknown `--` option fails. As in every other main, the base corpus
  * is `SPARK_GRAFT_SF_DIR` (default: the sf0.1 test data) and the
  * reference session's cores `SPARK_GRAFT_CPUS`.
  * Exit 0 = certified (all hashes equal AND spill engaged); 1 otherwise.
  */
object SpillCertify {

  /** The child JVM's -Xmx and shuffle partitions: small enough that the
    * headline sorts and aggregates cannot fit in execution memory. */
  private val ChildHeap = "1500m"
  private val ChildParts = "8"

  /** Spill-prone headline subset: full-partition window sorts, sort-merge
    * as-of, multi-join TPC-H shapes, line-grain explode shuffles, corpus
    * TF-IDF, packing, subword encode, media hashing — plus q1 (tiny-group
    * hash agg) as the deliberately-unspillable control row. All are
    * oracle-gated on the 219 board and plan-fingerprinted. */
  val certQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_window_rank", "q_asof_join", "q_custom_topk_agg",
    "d_dedup_exact", "d_line_dedup", "t_tfidf_topk",
    "p_pack_sequences", "t_wordpiece_encode", "mm_phash_dedup")

  private class SpillListener extends org.apache.spark.scheduler.SparkListener {
    val mem = new java.util.concurrent.atomic.AtomicLong
    val disk = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  /** Run the queries serially, hashing each and snapshotting the spill
    * counters per query (1 s listener-bus drain before each snapshot —
    * task-end events are delivered async). Returns
    * (name, hash, rows, memSpilled, diskSpilled, seconds). */
  private def runAll(spark: SparkSession, sfDir: String, names: Seq[String],
                     tag: String): Seq[(String, String, Long, Long, Long, Double)] = {
    val lis = new SpillListener
    spark.sparkContext.addSparkListener(lis)
    val heapMax = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    System.err.println(s"[$tag] heap max = ${heapMax} MB, " +
      s"shuffle.partitions = ${spark.conf.get("spark.sql.shuffle.partitions")}, " +
      s"defaultParallelism = ${spark.sparkContext.defaultParallelism}")
    names.map { name =>
      val t0 = System.nanoTime()
      val (h, rows) =
        try ResultHash.of(graft.SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
          ("ERROR:" + e.getClass.getSimpleName, -1L)
        }
      val sec = (System.nanoTime() - t0) / 1e9
      graft.CacheScope.releaseAll()
      spark.sharedState.cacheManager.clearCache()
      Thread.sleep(1000) // drain async task-end events before the snapshot
      val (m, d) = (lis.mem.getAndSet(0L), lis.disk.getAndSet(0L))
      System.err.println(f"[$tag] $name%-22s rows=$rows%8d memSpilled=${m / 1048576}%6d MB diskSpilled=${d / 1048576}%6d MB ($sec%.1fs)")
      (name, h, rows, m, d, sec)
    }
  }

  private def childMain(runDir: java.nio.file.Path): Unit = {
    val conf = new String(java.nio.file.Files.readAllBytes(
      runDir.resolve("spill.conf")), "UTF-8").trim.split("\n")
    val (sfDir, cpus, parts) = (conf(0), conf(1), conf(2))
    val names = conf(3).split(",").toSeq
    // multi-JVM mode (r18): line 5 may carry a local-cluster master +
    // executor memory — spill then engages inside SEPARATE executor
    // processes, with shuffle blocks fetched across JVMs, the closest
    // local approximation of a memory-starved production executor.
    val master = if (conf.length > 4 && conf(4).nonEmpty) conf(4)
                 else s"local[$cpus]"
    val execMem = if (conf.length > 5) Some(conf(5)).filter(_.nonEmpty)
                  else None
    val spark = graft.Sessions.build(master, parts, execMem, Map.empty)
    val rs = runAll(spark, sfDir, names, "spill-child")
    val out = rs.map { case (n, h, r, m, d, s) =>
      f"$n\t$h\t$r\t$m\t$d\t$s%.2f" }.mkString("", "\n", "\n")
    java.nio.file.Files.write(runDir.resolve("child_results.tsv"),
      out.getBytes("UTF-8"))
    spark.stop()
  }

  /** The parsed command line of [[main]]; `master` and `execMem` are ""
    * when unset. */
  private[graft] case class Options(factor: Int, cpus: String,
                                    master: String, execMem: String,
                                    names: Seq[String])

  /** `--name=value` options anywhere in `args`, the rest query prefixes
    * (none selects every cert query). An unknown `--` option fails. */
  private[graft] def parseArgs(args: Seq[String]): Options = {
    val (opts, queryArgs) = args.partition(_.startsWith("--"))
    val known = Seq("factor", "cpus", "master", "exec-mem")
    def valued(name: String): Option[String] =
      opts.find(_.startsWith(s"--$name=")).map(_.stripPrefix(s"--$name="))
    opts.filterNot(o => known.exists(k => o.startsWith(s"--$k=")))
      .foreach(o => sys.error(s"SpillCertify: unknown option $o"))
    // optional multi-JVM child: --master (e.g. 'local-cluster[2,2,4096]')
    // + --exec-mem (e.g. '1500m') starve the EXECUTOR processes instead of
    // the child driver; the -Xmx child heap then only bounds the driver side
    Options(valued("factor").getOrElse("10").toInt,
      valued("cpus").getOrElse("8"),
      valued("master").getOrElse(""), valued("exec-mem").getOrElse(""),
      if (queryArgs.isEmpty) certQueries
      else certQueries.filter(n => queryArgs.exists(n.startsWith)))
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("child")) {
      childMain(java.nio.file.Paths.get(args(1))); return
    }
    val sfBase = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val Options(factor, childCpus, childMaster, childExecMem, names) =
      parseArgs(args.toSeq)
    val spark = graft.Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val dir = if (factor <= 1) sfBase
              else graft.ScaleBench.ensureBlowup(spark, sfBase, factor)
    System.err.println(s"[spill] corpus: $dir (factor $factor), " +
      s"child heap $ChildHeap, local[$childCpus], $ChildParts shuffle partitions")

    val ref = runAll(spark, dir, names, "spill-ref")
    val refSpill = ref.map(r => r._4 + r._5).sum

    if (childMaster.nonEmpty)
      System.err.println(s"[spill] child master: $childMaster" +
        (if (childExecMem.nonEmpty) s", executor memory $childExecMem"
         else ""))
    val runDir = java.nio.file.Files.createTempDirectory("graft-spill-")
    java.nio.file.Files.write(runDir.resolve("spill.conf"),
      (s"$dir\n$childCpus\n$ChildParts\n${names.mkString(",")}\n" +
        s"$childMaster\n$childExecMem\n").getBytes("UTF-8"))
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(System.getProperty("java.home") + "/bin/java")
    jvmArgs.forEach { a =>
      // strip inherited heap sizing (the whole point is a SMALL child
      // heap) and any debug agent; keep --add-opens etc.
      if (!a.startsWith("-agentlib") && !a.startsWith("-Xmx") &&
          !a.startsWith("-Xms")) cmd.add(a)
    }
    cmd.add(s"-Xmx$ChildHeap")
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.tools.SpillCertify"); cmd.add("child")
    cmd.add(runDir.toString)
    val child = new ProcessBuilder(cmd).inheritIO().start()
    val exit = child.waitFor()
    if (exit != 0) {
      System.err.println(s"[spill] FAIL: child JVM exited $exit " +
        "(OOM or crash under pressure — that is itself a finding)")
      spark.stop(); sys.exit(1)
    }
    val got = new String(java.nio.file.Files.readAllBytes(
        runDir.resolve("child_results.tsv")), "UTF-8")
      .trim.split("\n").map { l =>
        val f = l.split("\t")
        f(0) -> (f(1), f(2).toLong, f(3).toLong, f(4).toLong, f(5).toDouble)
      }.toMap

    System.err.println(f"[spill] ${"query"}%-22s ${"rows"}%9s ${"hash"}%6s ${"memSpill"}%10s ${"diskSpill"}%10s ${"child s"}%8s")
    var allMatch = true
    var totalSpill = 0L
    var spilled = 0
    ref.foreach { case (n, refH, refRows, _, _, _) =>
      got.get(n) match {
        case Some((h, rows, m, d, s)) =>
          val okH = h == refH && rows == refRows
          allMatch &&= okH
          totalSpill += m + d
          if (m + d > 0) spilled += 1
          System.err.println(f"[spill] $n%-22s $rows%9d ${if (okH) "EQUAL" else "DIFF!"}%6s ${m / 1048576}%8d MB ${d / 1048576}%8d MB $s%8.1f")
        case None =>
          allMatch = false
          System.err.println(f"[spill] $n%-22s MISSING from child results")
      }
    }
    val engaged = totalSpill > 0
    System.err.println(
      f"[spill] reference-run spill (8G heap): ${refSpill / 1048576} MB; " +
        f"pressured-run spill ($ChildHeap): ${totalSpill / 1048576} MB across " +
        s"$spilled/${names.size} queries")
    val ok = allMatch && engaged
    System.err.println("[spill] " + (if (ok)
      "CERTIFIED: all hashes identical under memory pressure AND the spill paths demonstrably engaged"
    else if (!engaged)
      "FAIL: nothing spilled — the run proves nothing (raise --factor or shrink ChildHeap/ChildParts)"
    else "FAIL: result diverged under spill — wrong-result-under-pressure defect"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
