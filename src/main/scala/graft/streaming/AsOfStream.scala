package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import StreamRunner.{drain, eventStream}

/** Streaming AS-OF ENRICHMENT — the live twin of the batch q03 native
  * as-of join (reference behavior: `/root/reference/src/mr/worker.rs`
  * has no streaming at all; this is north-star surface): each purchase
  * is emitted enriched with the user's latest signup at-or-before its
  * event time, maintained in per-key state as the event stream flows —
  * the "enrich facts with the current dimension row" operator every
  * CDC-fed serving pipeline runs.
  *
  * Design (the seventh custom-state streaming operator):
  *   - `flatMapGroupsWithState` keyed by user_id. State is the user's
  *     DISTINCT signup instants, kept sorted — bounded by the per-user
  *     signup count (a handful by domain; NOT O(events)), so the state
  *     store stays small at any stream length.
  *   - Within a batch the group folds in (event-time, event_id) order:
  *     a signup inserts into the dimension list (idempotent — replays
  *     fold to the same state); a purchase binary-searches the largest
  *     instant ≤ its own and emits EXACTLY ONCE with the match, or not
  *     at all when no prior signup exists (q03's inner semantics).
  *   - Exactness contract (the no-late-dimension contract): the emitted
  *     enrichment equals the batch as-of join whenever no signup
  *     arrives in a LATER micro-batch than a purchase it should have
  *     enriched — the guarantee a CDC-ordered dimension feed provides.
  *     Keeping the full instant list (not just the max) makes the
  *     operator insensitive to arbitrary reordering WITHIN that
  *     contract, including signups that arrive late but postdate every
  *     pending purchase. Append mode cannot retract; a violating feed
  *     needs the watermark-buffered variant instead.
  *
  * Gate: the memory-sink result is hash-compared against q03's DuckDB
  * native ASOF JOIN oracle TEXT VERBATIM (stream ≡ batch, the
  * q259/q410 discipline).
  */
object AsOfStream {

  case class Ev(user_id: Long, event_id: Long, event_type: String, us: Long)
  case class Enriched(user_id: Long, event_id: Long, purchase_us: Long,
                      signup_us: Long, latency_us: Long)
  case class Dim(signups: List[Long])

  /** Largest element ≤ `x` in ascending `xs` (state lists are tiny —
    * linear walk beats allocating a search structure). */
  private def floorOf(xs: List[Long], x: Long): Option[Long] = {
    var best = Option.empty[Long]
    var rest = xs
    while (rest.nonEmpty && rest.head <= x) { best = Some(rest.head); rest = rest.tail }
    best
  }

  private[graft] def update(user: Long, it: Iterator[Ev],
                            state: GroupState[Dim]): Iterator[Enriched] = {
    var sig = state.getOption.map(_.signups).getOrElse(Nil)
    val out = scala.collection.mutable.ListBuffer.empty[Enriched]
    // deterministic event-time fold within the batch; cross-batch
    // exactness is the no-late-dimension contract (scaladoc). At equal
    // event time the signup must fold BEFORE the purchase — the batch
    // as-of join matches signup_us <= purchase_us inclusively, so a
    // same-instant pair enriches regardless of event_id order.
    for (e <- it.toSeq.sortBy(e =>
        (e.us, if (e.event_type == "signup") 0 else 1, e.event_id))) {
      if (e.event_type == "signup") {
        if (!sig.contains(e.us)) sig = (e.us :: sig).sorted
      } else {
        floorOf(sig, e.us).foreach { su =>
          out += Enriched(user, e.event_id, e.us, su, e.us - su)
        }
      }
    }
    state.update(Dim(sig))
    out.iterator
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = eventStream(s, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[Ev]
    val enriched = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    drain(enriched, "append", "asof")()
      .select(col("user_id"), col("event_id"), col("purchase_us"),
        col("signup_us"), col("latency_us"))
      .orderBy("user_id", "event_id")
  }
}
