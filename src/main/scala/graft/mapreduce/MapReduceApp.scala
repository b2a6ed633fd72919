package graft.mapreduce

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Typed MapReduce application surface — the reference's core extension
  * point re-expressed on Spark.
  *
  * Reference equivalent: an app class with `map(self, token) -> (k, v)` and
  * `reduce(self, rec1, rec2) -> rec` (`app.py:6-14`), resolved by job name
  * through `app_route_info` (`app_route.py:4-6`, looked up at
  * `datanode.py:590-591` and `datanode.py:214-215`).
  *
  * Execution compiles to `flatMap(tokenize) -> groupByKey -> Aggregator`,
  * which gives Hadoop's combiner (partial aggregation before the shuffle —
  * the reference's `_lr` local-reduce files, `datanode.py:449-496`) for
  * free: Spark's typed Aggregator runs in partial mode map-side and final
  * mode reduce-side. The fold MUST be associative+commutative, same as the
  * reference's pairwise `functools.reduce` contract (`utilities.py:182-184`).
  */
trait MapReduceApp[K, V] extends Serializable {
  def map(token: String): (K, V)
  def reduce(a: V, b: V): V

  /** Whitespace tokenization, mirroring `datanode.py:598-603` (line read +
    * `str.split()`): empty tokens never occur because split() on whitespace
    * runs drop empties; we filter to match. */
  def tokenize(line: String): Iterator[String] =
    line.split("\\s+").iterator.filter(_.nonEmpty)

  def run(lines: Dataset[String])(implicit kEnc: Encoder[K], vEnc: Encoder[V],
      kvEnc: Encoder[(K, V)]): Dataset[(K, V)] = {
    val self = this
    // groupByKey + reduceGroups compiles to Spark's ReduceAggregator —
    // partial (map-side combine) + final aggregation, exactly the
    // combiner/final-reduce split the reference hand-builds.
    lines.flatMap(l => tokenize(l).map(map))
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, self.reduce(a._2, b._2)))
      .map { case (k, kv) => (k, kv._2) }
  }
}

/** WordCount — the reference's only registered app (`app_route.py:4-6`,
  * `app.py:6-14`): map `word -> (word, 1)`, reduce `(a, b) -> a + b`. */
object WordCountApp extends MapReduceApp[String, Long] {
  def map(token: String): (String, Long) = (token, 1L)
  def reduce(a: Long, b: Long): Long = a + b
}

/** Sort — replaces the reference's MergeSort app (`app.py:17-43`, dead code
  * with a tail-copy bug at `app.py:38-42`). Spark's range-partitioned total
  * sort (`orderBy`) IS the distributed merge sort, so the app reduces to an
  * identity map; `SortApp.sorted` exposes the total order. */
object SortApp extends MapReduceApp[String, Long] {
  def map(token: String): (String, Long) = (token, 1L)
  def reduce(a: Long, b: Long): Long = a + b
  def sorted(lines: Dataset[String]): Dataset[String] = {
    import lines.sparkSession.implicits._
    lines.flatMap(tokenize).orderBy(col("value").asc)
  }
}

/** Job registry, mirroring `app_route_info` (`app_route.py:4-6`). */
object AppRegistry {
  val apps: Map[String, MapReduceApp[String, Long]] = Map(
    "wordcount" -> WordCountApp,
    "mergesort" -> SortApp)

  /** Reference job entry: text dir in, (key, value) dataset out — the whole
    * namenode/datanode FSM (`namenode.py:362-487`) collapses to one lazy
    * plan + one action. */
  def runJob(spark: SparkSession, jobName: String, inputDir: String): Dataset[(String, Long)] = {
    import spark.implicits._
    apps(jobName).run(spark.read.textFile(inputDir))
  }
}
