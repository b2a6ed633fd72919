package org.apache.spark.sql.graftbridge

import scala.annotation.tailrec

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, InterpretedMutableProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, OneRowRelation, Project, UnionLoop, UnionLoopRef}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy, UnionLoopExec}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small recursive CTE (`WITH RECURSIVE`) as a fixpoint run from
  * the driver, one Spark job per recursion level.
  *
  * Spark's own `UnionLoopExec` materialises every level with
  * `repartition().count()` and, when the level has at most
  * `spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation` rows
  * (`cap`), collects it again into a `LocalRelation`: under AQE that is
  * three jobs per level. [[DriverFixpointExec]] runs each level as one
  * result job that keeps at most `cap + 1` rows per partition, and
  * substitutes the rows into the next level the way Spark does. It
  * covers only loops Spark would itself turn into local relations:
  * a loop with a `LIMIT`, an accumulated reference, a nondeterministic
  * step, or `cap <= 0` is left to Spark's planner here, and a level over
  * `cap` rows or a level- or row-limit breach hands the whole loop to
  * `UnionLoopExec` at run time, so those results and error classes are
  * Spark's own. Installed by [[graft.GraftExtensions]].
  */
object RecursiveCteStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UnionLoop if u.limit.isEmpty && u.recursion.deterministic &&
        SQLConf.get.getConf(SQLConf.CTE_RECURSION_ANCHOR_ROWS_LIMIT_TO_CONVERT_TO_LOCAL_RELATION) > 0 &&
        u.recursion.collectWithSubqueries { case r: UnionLoopRef if r.accumulated => r }.isEmpty =>
      DriverFixpointExec(u.id, u.anchor, u.recursion, u.output, u.maxDepth) :: Nil
    case _ => Nil
  }
}

/** The union of a recursive CTE's levels, computed on the driver and
  * served as UnsafeRows from one local partition (see
  * [[RecursiveCteStrategy]]). */
case class DriverFixpointExec(
    loopId: Long,
    @transient anchor: LogicalPlan,
    @transient recursion: LogicalPlan,
    override val output: Seq[Attribute],
    maxDepth: Option[Int]) extends LeafExecNode {

  override def innerChildren: Seq[LogicalPlan] = Seq(anchor, recursion)

  protected override def doExecute(): RDD[InternalRow] = fixpoint() match {
    case Some(rows) =>
      val toUnsafe = UnsafeProjection.create(schema)
      sparkContext.parallelize(rows.map(toUnsafe(_).copy()), 1)
    case None =>
      session.withActive(UnionLoopExec(loopId, anchor, recursion, output, None, maxDepth))
        .execute()
  }

  /** every level's rows, anchor first; None where Spark's exec must run */
  private def fixpoint(): Option[Seq[InternalRow]] = {
    val cap = conf.getConf(SQLConf.CTE_RECURSION_ANCHOR_ROWS_LIMIT_TO_CONVERT_TO_LOCAL_RELATION)
    val levelLimit = maxDepth.getOrElse(conf.getConf(SQLConf.CTE_RECURSION_LEVEL_LIMIT))
    val rowLimit = conf.getConf(SQLConf.CTE_RECURSION_ROW_LIMIT)
    // Spark's limits: level n (the anchor is level 1) may not be
    // non-empty past `levelLimit`; the levels so far may not reach
    // `rowLimit` rows in total
    @tailrec def loop(level: Option[Seq[InternalRow]], n: Int,
        done: Vector[InternalRow]): Option[Seq[InternalRow]] = level match {
      case Some(rows) if rows.nonEmpty =>
        val all = done ++ rows
        if ((levelLimit != -1 && n > levelLimit) || (rowLimit != -1 && all.size >= rowLimit)) None
        else loop(run(recursion.transformWithSubqueries {
          case r: UnionLoopRef if r.loopId == loopId => LocalRelation(r.output, rows)
        }, cap), n + 1, all)
      case Some(_) => Some(done)
      case None => None
    }
    loop(run(anchor, cap), 1, Vector.empty)
  }

  /** one level's rows, or None past `cap`. Spark's two job-free cases
    * first: a plan the optimizer already folded into a LocalRelation,
    * and a projection of one row evaluated on the driver. */
  private def run(plan: LogicalPlan, cap: Int): Option[Seq[InternalRow]] = {
    val qe = Dataset.ofRows(session, plan).queryExecution
    qe.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case Project(list, _: OneRowRelation)
          if !list.exists(ConvertToLocalRelation.hasUnevaluableExpr) =>
        val row = new InterpretedMutableProjection(list, Nil)
        row.initialize(0)
        Some(Seq(row(InternalRow.empty).copy()))
      case _ =>
        val rows = sparkContext.runJob(qe.toRdd,
          (it: Iterator[InternalRow]) => it.take(cap + 1).map(_.copy()).toArray).flatten
        if (rows.length > cap) None else Some(rows.toSeq)
    }
  }
}
