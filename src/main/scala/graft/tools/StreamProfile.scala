package graft.tools

/** Dev tool: run the stream-stream replay once and dump each micro-batch's
  * durationMs breakdown (addBatch / getBatch / walCommit / commitOffsets /
  * stateCommit...) — the feedback loop for "where does the replay's fixed
  * cost actually go", which wall-clock timing alone can't answer.
  *
  * Usage: runMain graft.tools.StreamProfile [reps]
  * Env:   SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4)
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.flatMap(_.toIntOption).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.create()

    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = p.durationMs
        val keys = dur.keySet().toArray(Array.empty[String]).sorted
        val parts = keys.map(k => s"$k=${dur.get(k)}").mkString(" ")
        println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} $parts")
        p.stateOperators.foreach { so =>
          println(s"[stream]   state: rowsTotal=${so.numRowsTotal} " +
            s"updated=${so.numRowsUpdated} commitMs=${so.allUpdatesTimeMs}+" +
            s"${so.commitTimeMs} memUsed=${so.memoryUsedBytes}")
        }
      }
    }
    spark.streams.addListener(listener)
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      graft.streaming.Streaming.purchaseClickJoin(spark, sfDir).count()
      println(f"[stream] rep $r total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
