package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import StreamRunner.{drain, eventStream}

/** Custom stateful streaming operator: event-time sessionization with a
  * 30-minute inactivity gap, via `flatMapGroupsWithState` + event-time
  * timeout — the streaming twin of the batch lag-gap-cumsum idiom in
  * [[graft.operators.EventsPack]] `q32_sessionize`.
  *
  * State per user is one open session (constant size); the watermark bounds
  * how long it can stay open, so state size is O(active users) regardless
  * of stream length — the property that matters at 100 TB/day event rates.
  */
object SessionizeStream {

  /** `ts` (the watermarked event-time column) must survive into the typed
    * Dataset — a `.map` that drops it would strip the watermark and Spark
    * rejects event-time timeouts. */
  case class Ev(user_id: Long, event_id: Long, us: Long, ts: java.sql.Timestamp)
  case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  val gapUs: Long = 30L * 60 * 1000000

  private def update(userId: Long, events: Iterator[Ev],
                     state: GroupState[Session]): Iterator[Session] = {
    val out = scala.collection.mutable.ListBuffer.empty[Session]
    var cur = state.getOption.orNull
    if (state.hasTimedOut) {
      if (cur != null) { out += cur; state.remove() }
      return out.iterator
    }
    // order within the batch (cross-batch order is handled by the watermark)
    for (e <- events.toSeq.sortBy(ev => (ev.us, ev.event_id))) {
      if (cur == null) cur = Session(userId, e.us, e.us, 0L)
      else if (e.us - cur.end_us > gapUs) { out += cur; cur = Session(userId, e.us, e.us, 0L) }
      cur = cur.copy(end_us = math.max(cur.end_us, e.us), n_events = cur.n_events + 1)
    }
    if (cur != null) {
      state.update(cur)
      state.setTimeoutTimestamp(cur.end_us / 1000 + gapUs / 1000)
    }
    out.iterator
  }

  /** Run the sessionizer over the static events table as a stream; returns
    * the sessions closed by the watermark (the per-user tail session still
    * open at end-of-stream is withheld, as a real stream would).
    */
  def run(s: SparkSession, dir: String): Dataset[Session] = {
    import s.implicits._
    val raw = eventStream(s, dir)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("ts"))
    val sessions = raw
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
    drain(sessions, "append", "sessions")().as[Session]
  }
}
