package graft.tools

/** Dev tool: time ONE registered query repeatedly (same session config as
  * graft.Bench) and optionally dump its formatted plan — the feedback loop
  * for "is this the plan I'd want at 100 TB", per query instead of per
  * bench run.
  *
  * Usage: runMain graft.tools.Profile <queryName[,queryName...]|all> [reps] [explain]
  * Env:   SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4)
  *
  * Several queries (or `all`, the whole registry) run one after another
  * in the same session, each for `reps` reps; a failing rep prints
  * `failed` and the run goes on (scripts/fork_count.sh sweeps the
  * registry this way). After a query's reps, a `drift` line gives the
  * least-squares slope of rep time over rep number as a fraction of
  * the median rep (perfbench's pass drift): a clearly negative drift
  * means the reps are still warming up, and their median is not yet an
  * A/B figure.
  */
object Profile {
  /** least-squares slope of `secs` (two or more) over their index,
    * over their median */
  private def drift(secs: Seq[Double]): Double = {
    val mx = (secs.size - 1) / 2.0
    val my = secs.sum / secs.size
    val slope = secs.indices.map(i => (i - mx) * (secs(i) - my)).sum /
      secs.indices.map(i => (i - mx) * (i - mx)).sum
    slope / median(secs)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val names =
      if (args(0) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(',').toSeq
    // both optionals work alone: "Profile q_x explain" must not NPE on
    // args(1).toInt — take the first arg that parses as an int
    val reps = args.drop(1).flatMap(_.toIntOption).headOption.getOrElse(3)
    val doExplain = args.contains("explain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = graft.Session.builder()
    // A/B harness: semicolon-separated k=v pairs, e.g.
    // SPARK_GRAFT_CONF_EXTRA='spark.sql.join.preferSortMergeJoin=false'
    sys.env.get("SPARK_GRAFT_CONF_EXTRA").foreach(
      _.split(';').filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Session.warmTables(spark, sfDir)
    for (name <- names) {
      if (doExplain) graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      val secs = (1 to reps).flatMap { r =>
        val t0 = System.nanoTime()
        try {
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[profile] $name rep $r: $s%.2f s")
          Some(s)
        } catch {
          case e: Exception if names.size > 1 =>
            spark.streams.active.foreach(q => scala.util.Try(q.stop()))
            println(s"[profile] $name rep $r: failed (${e.getClass.getSimpleName})")
            None
        }
      }
      if (secs.size >= 2)
        println(f"[profile] $name drift: ${drift(secs)}%+.4f/rep of the median ${median(secs)}%.2f s")
    }
    spark.stop()
  }
}
