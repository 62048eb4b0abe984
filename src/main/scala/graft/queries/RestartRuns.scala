package graft.queries

/** Working-dir registry for the streaming gates: each invocation of a
  * gate gets a fresh temp dir holding its staged replay files
  * ([[Replay]]) and, for the checkpointed-RESTART gates, its input
  * files, checkpoint and sink output. THAT GATE's previous dir is
  * deleted on the next invocation (iterations of one gate run
  * sequentially, so its prior DataFrame is already consumed) and
  * everything is removed by a JVM shutdown hook, so nothing accumulates
  * in /tmp across bench/verify cycles. Keyed per gate name: the restart
  * gates return LAZY parquet reads over their run dir, so a SIBLING gate
  * constructing must not invalidate an unconsumed sibling result. */
private[graft] object RestartRuns {
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  private[graft] def deleteTree(p: java.nio.file.Path): Unit =
    if (p != null && java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val wk = java.nio.file.Files.walk(p)
      try wk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally wk.close()
    }

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    import scala.jdk.CollectionConverters._
    last.values().asScala.foreach(deleteTree)
  }))

  def fresh(gate: String): java.nio.file.Path = {
    val run = java.nio.file.Files.createTempDirectory(s"graft-$gate-")
    deleteTree(last.put(gate, run))
    run
  }
}
