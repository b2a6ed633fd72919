package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run `body` under a named job group with a hard timeout: on timeout
    * the group's Spark jobs are cancelled (so the NEXT query starts on a
    * quiet scheduler) and Some(message) is returned; same for a thrown
    * error. None = success. The session stays usable either way.
    *
    * Cancellation caveat: interruptOnCancel reaches tasks at interruption
    * points (blocking I/O, sleeps, shuffle fetches, iterator boundaries).
    * A tight whole-stage-codegen loop (e.g. a runaway cartesian count)
    * may burn its cores to completion even though this call returns —
    * the timeout bounds VERIFY's wall clock, not the zombie's CPU.
    * Streaming queries are not cancellable from here either (micro-batch
    * jobs run under the stream's own job group); their guard is
    * Streaming.drain's 180s timeout + the session's
    * spark.sql.streaming.stopTimeout, both below this timeout. */
  def runBounded(spark: SparkSession, name: String, timeoutMs: Long)(
      body: => Unit): Option[String] = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() =>
      try {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        body
      } catch { case e: Throwable => failure.set(e) }
      finally spark.sparkContext.clearJobGroup())
    t.setDaemon(true)
    t.start()
    t.join(timeoutMs)
    if (t.isAlive) {
      // One cancel only reaches jobs active at this instant; an iterative
      // driver-side query (e.g. a connected-components loop) keeps
      // submitting NEW jobs under the same group afterwards. Interrupt the
      // body thread and keep re-cancelling from a reaper until it dies, so
      // a zombie can't compete with every subsequent query.
      t.interrupt()
      spark.sparkContext.cancelJobGroup(name)
      val reaper = new Thread(() => {
        var live = true
        while (live && t.isAlive) {
          try spark.sparkContext.cancelJobGroup(name)
          catch { case _: Throwable => () }
          try Thread.sleep(2000)
          catch { case _: InterruptedException => live = false }
        }
      }, s"verify-reaper-$name")
      reaper.setDaemon(true)
      reaper.start()
      Some(s"timeout after ${timeoutMs}ms")
    } else Option(failure.get()).map(_.getMessage)
  }

  /** Delete a directory tree if it exists (quietly). */
  private def rmTree(f: java.io.File): Unit =
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => p.toFile.delete())
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.create()
    new java.io.File(outDir).mkdirs()
    // stale scratch dirs from a previous timed-out/killed run must not
    // accumulate (or be mistaken for output by a directory listing)
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".tmp_"))
      .foreach(rmTree)
    // per-query hard timeout: ONE wedged query must cost one FAIL line,
    // never the whole round's correctness artifact (the driver gets
    // nothing if this main never exits).
    val timeoutMs =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_S", "300").toLong * 1000L
    // dev-loop subset: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b runs just those
    // (unset — the driver's path — runs everything)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // write to a scratch dir, promote on success: a timeout/kill
      // mid-write must leave either a complete artifact or none — never
      // _temporary debris where the driver's compare expects parquet
      val tmp = new java.io.File(outDir, s".tmp_$name")
      val dst = new java.io.File(outDir, name)
      runBounded(spark, name, timeoutMs) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(tmp.getPath)
      } match {
        case None =>
          rmTree(dst)
          if (!tmp.renameTo(dst))
            System.err.println(s"[verify] $name failed: could not promote artifact")
        case Some(msg) =>
          System.err.println(s"[verify] $name failed: $msg")
          // a timed-out write may still be appending to tmp from the zombie
          // thread; best-effort delete now, startup sweep catches the rest
          try rmTree(tmp) catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Bus-topic oracles read the fixture logs at
    // /tmp/graft_bus_<kind>_<sfName>/ (FileBusFixture.topicDir et al).
    // The QueryDef strings pin sf0.01 — the driver's correctness gate
    // always verifies there — but a verify run at ANY sf must hand the
    // oracle THAT sf's topic (each sf keeps its own topic dir), so the
    // dump rewrites the sf suffix to match sfDir. This is what lets the
    // 10x scale check hash-verify the bus family at sf0.1 instead of
    // falling back to timing-only evidence.
    val sfName = Paths.get(sfDir).getFileName.toString
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("_sf0.01/", s"_$sfName/"))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
