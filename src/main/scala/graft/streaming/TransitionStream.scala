package graft.streaming

import scala.annotation.unused

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Pin.checkpointed
import StreamRunner.{drain, eventStream}

/** Streaming first-order Markov transition mining — the live twin of the
  * batch q203: per-user adjacent event pairs under the canonical
  * (ts, event_id) order, with the LAST event per user carried as
  * `flatMapGroupsWithState` state so transitions spanning micro-batch
  * boundaries are emitted exactly once. State per user is ONE event
  * (constant size — the O(active users) bound that matters at
  * production event rates; a deployment would add a processing-time
  * TTL to expire dormant users, elided here because the bounded replay
  * ends).
  *
  * Ordering contract: events are sorted within each micro-batch; the
  * cross-batch carry is exact when ingestion is event-time-ordered
  * across batches (true for the bounded single-file replay this gate
  * runs, and for log-shipping ingestion; an out-of-order stream needs
  * a watermark-delayed buffer — the q95 sessionizer shows that shape).
  * The oracle is the batch q203 verbatim.
  */
object TransitionStream {

  case class Ev(user_id: Long, event_id: Long, us: Long, event_type: String)
  case class LastEv(us: Long, event_id: Long, event_type: String)
  case class Trans(cur: String, nxt: String)

  private[streaming] def update(@unused userId: Long, events: Iterator[Ev],
                                state: GroupState[LastEv]): Iterator[Trans] = {
    val out = scala.collection.mutable.ListBuffer.empty[Trans]
    var last = state.getOption.orNull
    for (e <- events.toSeq.sortBy(ev => (ev.us, ev.event_id))) {
      if (last != null) out += Trans(last.event_type, e.event_type)
      last = LastEv(e.us, e.event_id, e.event_type)
    }
    if (last != null) state.update(last)
    out.iterator
  }

  /** Emitted transitions aggregated to q203's exact output shape. */
  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = eventStream(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
    val trans = raw.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    // checkpointed: the transition matrix is |types|²-bounded, and
    // the memory-sink view otherwise carries the same attribute ids
    // into both sides of the tr⋈tot self-join (conflicting-reference
    // resolution failure)
    val tr = checkpointed(drain(trans, "append", "trans")()
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("cnt")))
    graft.operators.EventsPack.topTransitions(tr)
  }
}
