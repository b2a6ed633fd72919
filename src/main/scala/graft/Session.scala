package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the engine's mains, dev tools and tests:
  * a local master over `cpus` cores with as many shuffle partitions, the
  * [[GraftExtensions]] installed, UTC session time, AQE on, no UI, and a
  * 30 s streaming stop timeout (a hung stream's stop() throws instead of
  * waiting forever and pinning a query's conf restore).
  */
object Session {

  /** cores of the local master: `SPARK_GRAFT_CPUS`, default 4 */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(cpus: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stopTimeout", "30s")
      .config("spark.ui.enabled", "false")

  /** the session of a main: [[builder]] with `SPARK_GRAFT_CPUS` cores,
    * logging at `logLevel` */
  def create(logLevel: String = "WARN"): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** untimed warm-up: one scan per base table of the fixture at `sfDir`
    * (page cache, footers and the [[graft.sources.Tables]] schema cache);
    * a table the fixture lacks is skipped */
  def warmTables(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    try graft.sources.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => () }
  }
}
