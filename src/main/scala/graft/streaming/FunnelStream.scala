package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import StreamRunner.{drain, eventStream}

/** Custom stateful streaming operator #3 (next to [[SessionizeStream]] and
  * [[TransitionStream]]): an ordered FUNNEL state machine per user —
  * signup → view → click → purchase, each stage admitted only within
  * [t_prev, t_prev + 24 h] of the time the previous stage was reached
  * (chained-min semantics with a per-step conversion window — the window
  * is what makes the funnel a funnel; without it every active user
  * eventually drifts to stage 4).
  *
  * State per user is four optional micro-timestamps (constant size — the
  * O(active users) bound that matters at production event rates). The
  * stage chain uses an INCLUSIVE time rule (a view at the same instant as
  * the signup counts), so within one batch events apply sorted by
  * (us, stage-priority): all signups of an instant before its views, etc.
  * — making the machine's result independent of event_id order and equal
  * to the batch chained-min oracle. Cross-batch correctness rides the
  * event-time watermark ordering assumption, as in every streaming
  * aggregation here; the bounded gate feeds one file-batch.
  *
  * Emitted in Update mode (one row per user per batch — stage only
  * grows); the harness reduces the sink with max(stage) per user and
  * rolls up funnel counts.
  */
object FunnelStream {

  case class Ev(user_id: Long, event_id: Long, event_type: String,
                us: Long, ts: java.sql.Timestamp)
  case class St(t1: Long, t2: Long, t3: Long, t4: Long) // Long.MinValue = unset
  case class Reached(user_id: Long, stage: Int)

  private val NoT = Long.MaxValue // unset marker: min() folds naturally

  /** Per-step conversion window: 24 h in micros. */
  val StepUs: Long = 24L * 3600 * 1000000

  private def prio(t: String): Int = t match {
    case "signup" => 0
    case "view" => 1
    case "click" => 2
    case "purchase" => 3
    case _ => 4
  }

  private def update(userId: Long, events: Iterator[Ev],
                     state: GroupState[St]): Iterator[Reached] = {
    var st = state.getOption.getOrElse(St(NoT, NoT, NoT, NoT))
    for (e <- events.toSeq.sortBy(ev => (ev.us, prio(ev.event_type)))) {
      e.event_type match {
        case "signup" => st = st.copy(t1 = math.min(st.t1, e.us))
        case "view" if st.t1 != NoT && e.us >= st.t1 && e.us <= st.t1 + StepUs =>
          st = st.copy(t2 = math.min(st.t2, e.us))
        case "click" if st.t2 != NoT && e.us >= st.t2 && e.us <= st.t2 + StepUs =>
          st = st.copy(t3 = math.min(st.t3, e.us))
        case "purchase" if st.t3 != NoT && e.us >= st.t3 && e.us <= st.t3 + StepUs =>
          st = st.copy(t4 = math.min(st.t4, e.us))
        case _ =>
      }
    }
    state.update(st)
    val stage =
      if (st.t4 != NoT) 4 else if (st.t3 != NoT) 3
      else if (st.t2 != NoT) 2 else if (st.t1 != NoT) 1 else 0
    if (stage > 0) Iterator.single(Reached(userId, stage)) else Iterator.empty
  }

  /** Funnel counts (stage 1–4, furthest reached) over the events table
    * run as a stream. */
  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = eventStream(s, dir)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("ts"))
    val reached = raw.as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
    drain(reached, "update", "funnel")()
      .groupBy("user_id").agg(max("stage").as("stage"))
      .groupBy("stage").agg(count(lit(1)).cast("bigint").as("n_users"))
      .select(col("stage").cast("int").as("stage"), col("n_users"))
      .orderBy("stage")
  }
}
