package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** event row flowing into the stateful sessionizer (ts in epoch micros) */
final case class SessEv(user_id: Long, event_id: Long, ts_us: Long)

/** per-user session accumulator carried across micro-batches */
final case class SessState(startUs: Long, lastUs: Long, n: Long, idx: Long)

/** a closed session emitted downstream */
final case class ClosedSession(user_id: Long, session_id: Long,
    n_events: Long, session_start_us: Long)

/** keyed-feed row flowing into the streaming EWMA */
final case class EwmaEv(user_id: Long, event_id: Long, value: Double)

/** per-user EWMA accumulator carried across micro-batches */
final case class EwmaState(acc: Double, n: Long)

/** per-user running EWMA emitted each touched trigger */
final case class EwmaOut(user_id: Long, n_events: Long, ewma_value: Double)

/** Stateful Structured Streaming: sessionization with
  * `flatMapGroupsWithState`, the engine's custom-state surface
  * (SURVEY.md §2.2 — entirely absent from the batch-only reference).
  *
  * State per user survives across micro-batches: a session closes when the
  * gap to the next event exceeds `gapUs`, and only closed sessions are
  * emitted (append mode) — the trailing open session stays in state, as it
  * must in an unbounded stream. Events are sorted within each batch; the
  * contract (standard for event-time state machines) is batch-monotonic
  * input, which the file source's ordered replay provides here and a
  * watermark + event-time trigger would provide in production.
  */
object StatefulSessionize {

  def closedSessions(s: SparkSession, eventsDir: String, gapUs: Long): DataFrame = {
    import s.implicits._
    val schema = s.read.parquet(eventsDir).schema

    def step(uid: Long, evs: Iterator[SessEv],
        state: GroupState[SessState]): Iterator[ClosedSession] = {
      val sorted = evs.toVector.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.orNull
      val out = Vector.newBuilder[ClosedSession]
      sorted.foreach { e =>
        st match {
          case null =>
            st = SessState(e.ts_us, e.ts_us, 1L, 1L)
          case SessState(start, last, n, idx) if e.ts_us - last > gapUs =>
            out += ClosedSession(uid, idx, n, start)
            st = SessState(e.ts_us, e.ts_us, 1L, idx + 1)
          case SessState(start, _, n, idx) =>
            st = SessState(start, e.ts_us, n + 1, idx)
        }
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    Streaming.toMemory(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch
      .parquet(eventsDir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step),
      "append")
  }
}
