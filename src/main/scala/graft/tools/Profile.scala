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
  * registry this way).
  */
object Profile {
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
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        try {
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          println(f"[profile] $name rep $r: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        } catch {
          case e: Exception if names.size > 1 =>
            spark.streams.active.foreach(q => scala.util.Try(q.stop()))
            println(s"[profile] $name rep $r: failed (${e.getClass.getSimpleName})")
        }
      }
    }
    spark.stop()
  }
}
