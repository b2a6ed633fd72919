package graft

import graft.operators.Layout
import graft.sources.{Snapshots, Tables}
import org.apache.spark.sql.functions.col

/** The layout family leaves the session as it found it: no temp view
  * outlives a query, a rerun changes no conf, and deletion vectors are
  * turned on per table, not per session. */
class LayoutSpec extends SparkSpec {

  private val DvConf = "spark.graft.snapshot.dvEnabled"

  test("a layout query leaves no temp view, and its rerun leaves the conf as it found it") {
    val problems = Layout.defs.flatMap { d =>
      // the first run may make the engine's once-per-session settings
      // (the legacy parquet flag, the graft catalog); the conf is
      // compared around the second
      def viewsLeft(): Set[String] = {
        val before = tempViews
        q(d.name).collect()
        tempViews -- before
      }
      val first = viewsLeft()
      val conf = spark.conf.getAll
      val second = viewsLeft()
      val after = spark.conf.getAll
      val confDiff = (after.toSet diff conf.toSet) ++ (conf.toSet diff after.toSet)
      (if ((first ++ second).isEmpty) Nil
       else Seq(s"${d.name} left views ${(first ++ second).mkString(", ")}")) ++
        (if (confDiff.isEmpty) Nil else Seq(s"${d.name} changed the conf: $confDiff"))
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("the deletion-vector queries keep a caller's dvEnabled setting") {
    withConf(DvConf -> "true") {
      Seq("q_layout_dv", "q_layout_merge_expr", "q_layout_merge_bysource")
        .foreach { n =>
          q(n).collect()
          assert(spark.conf.getOption(DvConf).contains("true"), n)
        }
    }
  }

  test("q_layout_dv masks rows through its table's own DV property") {
    assert(spark.conf.getOption(DvConf).isEmpty)
    // at sf0.001 the needles hit too large a share of each file to mask
    val sf01 = new java.io.File(new java.io.File(sf).getParent, "sf0.01").toString
    SparkEntry.queries("q_layout_dv")(spark, sf01).collect()
    val dir = Tables.scratchDir(spark, sf01, "snap_dv")
    assert(Snapshots.tableProperties(spark, dir)
      .get(Snapshots.PropDvEnabled).contains("true"))
    // the needle delete and update took the mask path: rows are masked,
    // not rewritten
    val masked = Snapshots.history(spark, dir).orderBy(col("version").desc)
      .select("n_masked").head().getAs[Number](0).longValue
    assert(masked > 0, "q_layout_dv rewrote files instead of masking rows")
  }
}
