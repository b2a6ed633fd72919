package graft

import graft.operators.AsOfJoin

/** As-of join semantics on literal frames: latest right row with
  * ts <= left.ts per key; equal-ts right rows visible; null when none. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  test("asOf picks latest prior right row, sees equal ts, nulls when none") {
    val left = Seq(
      (1L, ts(100), 10L), // after r1(50), r2(90) -> 92
      (1L, ts(95), 11L),  // after r1(50), r2(90) -> 92
      (1L, ts(50), 12L),  // equal ts to r1 -> 91
      (1L, ts(10), 13L),  // before everything -> null
      (2L, ts(100), 20L)  // other key, no right rows -> null
    ).toDF("key", "ts", "left_id")
    val right = Seq(
      (1L, ts(50), 91L),
      (1L, ts(90), 92L)
    ).toDF("key", "ts", "right_id")

    val got = AsOfJoin.asOf(left, right)
      .select("left_id", "asof_id").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(
      10L -> Some(92L), 11L -> Some(92L), 12L -> Some(91L),
      13L -> None, 20L -> None))
  }

  test("ties on ts at same side resolve to the largest right_id") {
    val left = Seq((1L, ts(100), 1L)).toDF("key", "ts", "left_id")
    val right = Seq((1L, ts(100), 7L), (1L, ts(100), 9L)).toDF("key", "ts", "right_id")
    val got = AsOfJoin.asOf(left, right).select("asof_id").as[Long].head()
    assert(got == 9L)
  }

  test("asOfForward picks earliest at-or-after right row; nearest picks the closer side") {
    val left = Seq(
      (1L, ts(100), 10L), // fwd: r3(120) -> 93; back: r2(90); nearest: 90 closer -> 92
      (1L, ts(119), 11L), // fwd: 93 (diff 1); back: 92 (diff 29) -> nearest 93
      (1L, ts(130), 12L), // fwd: none -> null; nearest falls back to 93
      (1L, ts(90), 13L),  // equal ts visible both directions -> 92; nearest ties backward -> 92
      (2L, ts(5), 20L)    // no right rows at all -> null
    ).toDF("key", "ts", "left_id")
    val right = Seq(
      (1L, ts(50), 91L), (1L, ts(90), 92L), (1L, ts(120), 93L)
    ).toDF("key", "ts", "right_id")

    val fwd = AsOfJoin.asOfForward(left, right)
      .select("left_id", "asof_id").as[(Long, Option[Long])].collect().toMap
    assert(fwd == Map(10L -> Some(93L), 11L -> Some(93L), 12L -> None,
      13L -> Some(92L), 20L -> None))

    val near = AsOfJoin.asOfNearest(left, right)
      .select("left_id", "asof_id").as[(Long, Option[Long])].collect().toMap
    assert(near == Map(10L -> Some(92L), 11L -> Some(93L), 12L -> Some(93L),
      13L -> Some(92L), 20L -> None))
  }

  test("nearest as-of plans ONE exchange (second window reuses the key partitioning)") {
    val left = Seq((1L, ts(100), 10L)).toDF("key", "ts", "left_id")
    val right = Seq((1L, ts(50), 91L)).toDF("key", "ts", "right_id")
    val df = AsOfJoin.asOfNearest(left, right)
    df.collect()
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def shuffles(sp: org.apache.spark.sql.execution.SparkPlan): Int =
      (sp match { case _: ShuffleExchangeLike => 1; case _ => 0 }) +
        sp.children.map(shuffles).sum + (sp match {
          case q: QueryStageExec => shuffles(q.plan)
          case _ => 0
        })
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(shuffles(plan) == 1, "both windows must share one exchange:\n" + plan)
  }
}
