package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All queries live in per-category modules as `QueryDef`s; this object
  * flattens them into the driver's maps. Column names match between the
  * Spark plan and the DuckDB oracle (the driver sorts columns by name
  * before hashing values).
  */
object SparkEntry {

  /** Full registry, in category order. */
  def defs: Seq[QueryDef] =
    operators.Parity.defs ++
      operators.Relational.defs ++
      operators.Aggregates.defs ++
      operators.TopK.defs ++
      operators.SqlSurface.defs ++
      operators.Windows.defs ++
      operators.EventsOps.defs ++
      functions.Scalars.defs ++
      functions.TextAnalysis.defs ++
      operators.Sampling.defs ++
      operators.Dedup.defs ++
      operators.Graph.defs ++
      operators.Quality.defs ++
      operators.Sketches.defs ++
      operators.Mining.defs ++
      operators.BloomJoin.defs ++
      operators.Similarity.defs ++
      operators.Multimodal.defs ++
      streaming.Streaming.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * WordCount — the reference's one registered app, over documents.text. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_wordcount")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Names timed by graft.Bench (headline set). */
  def benchQueries: Seq[String] = defs.filter(_.bench).map(_.name)
}
