package graft

import graft.sources.Tables
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.UnionLoopExec
import org.apache.spark.sql.graftbridge.DriverFixpointExec

/** The driver-side fixpoint (graftbridge/RecursiveCte.scala) against
  * Spark's own `UnionLoopExec`: the reference is the same SQL planned
  * with `spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation`
  * at 0, which sends every loop to Spark's operator. */
class RecursiveCteSpec extends SparkSpec {

  private val capKey = "spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation"

  private def sql(text: String): DataFrame = {
    Tables.table(spark, sf, "nation").createOrReplaceTempView("rc_nation")
    spark.sql(text)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def planned(df: DataFrame) = df.queryExecution.sparkPlan.collect {
    case _: DriverFixpointExec => "graft"
    case _: UnionLoopExec => "spark"
  }

  /** rows of `df` under Spark's exec and under graft's, each run
    * asserted to be planned by the exec it names; returns graft's rows
    * once they equal Spark's */
  private def sameRows(df: => DataFrame): Seq[String] = {
    def run(exec: String) = { val d = df; assert(planned(d) == Seq(exec)); rows(d) }
    val spk = withConf(capKey -> "0")(run("spark"))
    val graft = run("graft")
    assert(graft == spk)
    graft
  }

  private def errorClass(df: => DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.getOrElse(fail("no error class", e))
  }

  private val counter =
    "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 30) SELECT n FROM t"

  test("q_sql_recursive: same rows as Spark's UnionLoopExec") {
    assert(sameRows(q("q_sql_recursive")).size == 25)
  }

  test("25-level nation chain: same rows") {
    val out = sameRows(sql(
      """WITH RECURSIVE ed AS (
        |  SELECT a.n_nationkey AS i, b.n_nationkey AS j
        |  FROM rc_nation a JOIN rc_nation b ON b.n_nationkey = a.n_nationkey + 1),
        |walk(id, lbl) AS (
        |  SELECT n_nationkey, n_nationkey FROM rc_nation
        |  UNION ALL
        |  SELECT e.j, w.lbl FROM walk w JOIN ed e ON e.i = w.id)
        |SELECT id, min(lbl), count(*) FROM walk GROUP BY id
        |""".stripMargin))
    // node k is reached from each of the k + 1 nodes at or below it
    assert(out.contains("[24,0,25]"), out)
  }

  test("SELECT 1 counter: same rows") {
    assert(sameRows(sql(counter)) == (1 to 30).map(n => s"[$n]").sorted)
  }

  test("a recursion that reads a scalar subquery: same rows") {
    val out = sameRows(sql(
      """WITH RECURSIVE t(n) AS (
        |  SELECT min(n_nationkey) FROM rc_nation
        |  UNION ALL
        |  SELECT n + 1 FROM t WHERE n < (SELECT max(n_nationkey) FROM rc_nation))
        |SELECT n FROM t""".stripMargin))
    assert(out.size == 25)
  }

  test("an empty anchor: same, empty, rows") {
    assert(sameRows(sql(
      """WITH RECURSIVE t(n) AS (
        |  SELECT n_nationkey FROM rc_nation WHERE n_nationkey < 0
        |  UNION ALL
        |  SELECT n + 1 FROM t WHERE n < 5)
        |SELECT n FROM t""".stripMargin)).isEmpty)
  }

  test("a level past the cap hands the loop to Spark: same rows") {
    // level k holds 2^k rows: level 7 (128 rows) outgrows the default
    // cap of 100, after six levels the driver already ran
    val text =
      """WITH RECURSIVE t(k, x) AS (
        |  SELECT 0, n_nationkey FROM rc_nation WHERE n_nationkey = 0
        |  UNION ALL
        |  SELECT k + 1, x * 2 + v FROM t
        |  CROSS JOIN (SELECT n_nationkey AS v FROM rc_nation WHERE n_nationkey < 2)
        |  WHERE k < 8)
        |SELECT k, count(*), min(x), max(x) FROM t GROUP BY k""".stripMargin
    val out = sameRows(sql(text))
    assert(out.contains("[7,128,0,127]") && out.contains("[8,256,0,255]"), out)
    // the handoff reruns the whole loop under Spark's exec, after the
    // levels the driver ran itself
    val spk = withConf(capKey -> "0")(jobsDuring(sql(text).collect()))
    assert(jobsDuring(sql(text).collect()) > spk)
  }

  test("MAX RECURSION LEVEL exceeded: Spark's error class") {
    val text =
      """WITH RECURSIVE t(n) MAX RECURSION LEVEL 10 AS (
        |  SELECT n_nationkey FROM rc_nation WHERE n_nationkey = 0
        |  UNION ALL
        |  SELECT n + 1 FROM t)
        |SELECT n FROM t""".stripMargin
    val spk = withConf(capKey -> "0")(errorClass(sql(text)))
    assert(spk == "RECURSION_LEVEL_LIMIT_EXCEEDED")
    assert(errorClass(sql(text)) == spk)
  }

  test("spark.sql.cteRecursionRowLimit exceeded: Spark's error class") {
    withConf("spark.sql.cteRecursionRowLimit" -> "20") {
      val spk = withConf(capKey -> "0")(errorClass(sql(counter)))
      assert(spk == "RECURSION_ROW_LIMIT_EXCEEDED")
      assert(errorClass(sql(counter)) == spk)
    }
  }
}
