package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch attribution for the streaming family's variance (r15,
  * VERDICT item 6): run a streaming query N times and print, per run,
  * the wall time plus every micro-batch's QueryProgress breakdown
  * (durationMs: triggerExecution / queryPlanning / addBatch /
  * getBatch / walCommit / commitOffsets, and stateOperators' store
  * instantiation/commit times) — so "the spread is per-batch planning"
  * vs "state-store setup" vs "host" is measured, not guessed.
  *
  * Usage: runMain graft.tools.StreamProbe <sfDir> <runs> <query ...>
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val runs = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.Tables.session("ERROR")

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def g(k: String): Long =
          Option(d.get(k)).map(_.longValue).getOrElse(-1L)
        val states = p.stateOperators.map { so =>
          s"rows=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
            s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}"
        }.mkString(" | ")
        progress.add(
          f"    batch=${p.batchId}%3d trigger=${g("triggerExecution")}%5d " +
            f"plan=${g("queryPlanning")}%5d addBatch=${g("addBatch")}%5d " +
            f"getBatch=${g("getBatch")}%4d latestOffset=${g("latestOffset")}%4d " +
            f"walCommit=${g("walCommit")}%4d commitOffsets=${g("commitOffsets")}%4d " +
            f"rows=${p.numInputRows}%7d  [$states]")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      println(s"\n===== $name =====")
      (1 to runs).foreach { r =>
        progress.clear()
        val t0 = System.nanoTime()
        graft.Bench.runFull(fn(spark, dir))
        val sec = (System.nanoTime() - t0) / 1e9
        // listener is async; give it a beat
        Thread.sleep(300)
        println(f"  run $r%d: $sec%.2f s")
        progress.forEach(s => println(s))
      }
    }
    spark.stop()
  }
}
