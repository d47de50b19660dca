package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Tables
import StreamRunner.{drain, processAvailable}

/** WATERMARK-BUFFERED streaming as-of enrichment — the production
  * variant [[AsOfStream]]'s scaladoc names: q422 emits each purchase
  * immediately and is exact only under the no-late-dimension contract
  * (no signup may arrive in a LATER micro-batch than a purchase it
  * should enrich). This operator removes that contract: purchases are
  * BUFFERED in state and emitted only once the event-time watermark has
  * passed them — at that point every signup with
  * `signup_us <= purchase_us` that the watermark still admits has
  * arrived, so the emission equals the batch as-of join for ANY
  * arrival order within the watermark delay. This is the standard
  * answer to late CDC dimension feeds (reference:
  * `/root/reference/src/mr/worker.rs` has no streaming; north-star
  * surface).
  *
  * Design (the eighth custom-state streaming operator):
  *   - `flatMapGroupsWithState` keyed by user_id with
  *     `EventTimeTimeout`. State = the user's DISTINCT sorted signup
  *     instants EVICTED down to (signups inside the watermark window +
  *     one floor anchor — the largest signup at or below the watermark,
  *     the only one a future in-contract purchase can still match) +
  *     the PENDING purchases still inside the watermark (bounded by the
  *     purchase rate × watermark delay — the classic buffered-join
  *     state bound). Both components are watermark-window-sized, so
  *     state never grows with stream length OR per-user history.
  *   - Each invocation folds new signups into the dimension list,
  *     appends new purchases to the pending buffer, then FLUSHES every
  *     pending purchase with `us <= watermark`: emit exactly once with
  *     the floor signup, or not at all when none precedes it (q03's
  *     inner semantics). Flush order (us, event_id) is deterministic.
  *   - Groups with no new data flush through event-time timeouts armed
  *     at the earliest pending purchase, so buffered rows drain as the
  *     watermark advances even on quiet keys.
  *   - Harness: the bounded-file run appends far-future SENTINEL rows
  *     (event_type 'sentinel', ignored by the fold, never emitted) in
  *     follow-up files so the watermark deterministically passes every
  *     real purchase and the buffer drains before the memory sink is
  *     read — the standard end-of-stream flush trick for gating an
  *     unbounded operator on bounded input.
  *
  * Gate: hash-compared against q03's DuckDB native ASOF JOIN oracle
  * TEXT VERBATIM — the FOURTH independent as-of implementation on that
  * one oracle (q03 custom exec, q09 bucketed lane, q422 eager stream).
  */
object AsOfBufferedStream {
  import AsOfStream.Enriched

  /** Event row CARRYING the watermark column: the analyzer requires the
    * watermark-annotated timestamp attribute to reach the stateful
    * operator's input when `EventTimeTimeout` is used, so unlike q422's
    * `Ev` the typed row keeps `ts` alongside the µs integer. */
  case class BEv(user_id: Long, event_id: Long, event_type: String,
                 us: Long, ts: java.sql.Timestamp)

  case class Pend(event_id: Long, us: Long)
  case class BufState(signups: List[Long], pending: List[Pend])

  /** Watermark delay: signups may arrive up to this much (event time)
    * after a purchase they should enrich. */
  val watermarkDelay = "30 minutes"

  private def floorOf(xs: List[Long], x: Long): Option[Long] = {
    var best = Option.empty[Long]
    var rest = xs
    while (rest.nonEmpty && rest.head <= x) { best = Some(rest.head); rest = rest.tail }
    best
  }

  private[graft] def update(user: Long, it: Iterator[BEv],
                            state: GroupState[BufState]): Iterator[Enriched] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val st = state.getOption.getOrElse(BufState(Nil, Nil))
    var sig = st.signups
    var pend = st.pending
    for (e <- it) {
      if (e.event_type == "signup") {
        if (!sig.contains(e.us)) sig = (e.us :: sig).sorted
      } else if (e.event_type == "purchase") {
        pend = Pend(e.event_id, e.us) :: pend
      } // sentinel / other types: watermark fuel only
    }
    // A purchase flushes once the watermark passes it: every signup at
    // or before its instant that the watermark still admits has arrived.
    val (flush, keep) = pend.partition(_.us <= wmUs)
    val out = flush.sortBy(p => (p.us, p.event_id)).flatMap { p =>
      floorOf(sig, p.us).map(su => Enriched(user, p.event_id, p.us, su, p.us - su))
    }
    // EVICTION (after the flush used the full list): every in-contract
    // future purchase has us > watermark, and its floor is either a
    // signup > watermark or the LARGEST signup <= watermark — signups
    // below that anchor can never be a floor again. Keeps per-user
    // state at O(signups inside the watermark window + 1 anchor)
    // instead of the full signup history (q422 keeps the history —
    // that's its insensitivity trade; the buffered variant's watermark
    // makes the bound safe).
    val anchored = sig.filter(_ <= wmUs) match {
      case Nil => sig
      case below => below.max :: sig.filter(_ > wmUs)
    }
    state.update(BufState(anchored, keep))
    if (keep.nonEmpty) {
      // arm at the earliest pending purchase (+1 ms: strictly above the
      // current watermark, which the partition above guarantees) so the
      // group drains on watermark advance even with no new data
      state.setTimeoutTimestamp(keep.map(_.us).min / 1000L + 1L)
    }
    out.iterator
  }

  /** Copies the corpus events file(s) + one far-future sentinel into a
    * per-run source dir; returns (srcDir, maker of follow-up sentinels). */
  private def stageSource(s: SparkSession, dir: String): (String, Int => Unit) = {
    val src = Artifacts_perRun(s, "asof_buffered_src")
    Files.createDirectories(Paths.get(src))
    val orig = Paths.get(dir, "events.parquet")
    if (Files.isDirectory(orig)) {
      val l = Files.list(orig)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).zipWithIndex
          .foreach { case (p, i) =>
            Files.copy(p, Paths.get(src, s"events_$i.parquet"),
              StandardCopyOption.REPLACE_EXISTING)
          }
      } finally l.close()
    } else Files.copy(orig, Paths.get(src, "events_0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val raw = Tables.eventsRawNanos(s, dir)
    val isNanos = raw.schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
    val mkSentinel: Int => Unit = { k =>
      // one max-ts row, pushed k days into the future, type 'sentinel'
      val bump =
        if (isNanos) col("ts") + lit(86400000000000L) * lit(k.toLong)
        else col("ts") + expr(s"INTERVAL $k DAYS")
      val tmp = Paths.get(src, s"_sent_build_$k")
      raw.orderBy(desc("ts")).limit(1)
        .withColumn("ts", bump)
        .withColumn("user_id", lit(-1L))
        .withColumn("event_id", lit(-1L - k))
        .withColumn("event_type", lit("sentinel"))
        .select(raw.columns.map(col): _*)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val l = Files.list(tmp)
      val part = try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      } finally l.close()
      Files.move(part, Paths.get(src, s"sentinel_$k.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    (src, mkSentinel)
  }

  private def Artifacts_perRun(s: SparkSession, name: String): String =
    graft.core.Artifacts.perRunSinkPath(s,
      s"${name}_${StreamingPack.counter.incrementAndGet()}")

  def run(s: SparkSession, dir: String): DataFrame =
    run(s, dir, rocksDb = false)

  /** `rocksDb = true` is q448's lane: the identical operator pipeline
    * executed on the RocksDB state store provider (the store production
    * deployments run — at 100 TB the default HDFS-backed in-memory
    * store spills; RocksDB keeps state on local SSD with incremental
    * checkpointing). The REQUIRE below pins, from the executed query's
    * own progress, that every stateful operator actually ran on RocksDB
    * (provider-specific custom metrics are present) — the q09
    * plan-REQUIRE discipline applied to a runtime conf. Gated on q03's
    * oracle VERBATIM like q428: stream ≡ batch must be
    * store-independent. */
  def run(s: SparkSession, dir: String, rocksDb: Boolean): DataFrame = {
    import s.implicits._
    val (src, mkSentinel) = stageSource(s, dir)
    mkSentinel(1)
    val raw = s.readStream
      .schema(Tables.eventsRawNanos(s, dir).schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(src)
    val ev = Tables.normalizeEventTs(raw)
      .withWatermark("ts", watermarkDelay)
      // sentinel kept: its row advances the watermark, the fold ignores it
      .filter(col("event_type").isin("signup", "purchase", "sentinel"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("ts"))
      .as[BEv]
    val enriched = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocksProvider =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val prevProvider = s.conf.getOption(providerKey)
    if (rocksDb) s.conf.set(providerKey, rocksProvider)
    val out = try drain(enriched, "append", "asof_buf") { q =>
      // batch 1: all data + sentinel 1 under watermark 0 — everything
      // buffers. The SECOND sentinel then runs as a data batch under
      // the advanced watermark (sentinel 1 − delay, past every real
      // purchase), firing the event-time timeouts that drain every
      // group — a deterministic end-of-stream flush, not a race with
      // the no-data-batch heuristic.
      processAvailable(q)
      mkSentinel(2)
      processAvailable(q)
      if (rocksDb) {
        // proof from the run itself, not the conf: RocksDB's provider
        // publishes its own custom metrics (rocksdbGet/Put/commit...)
        // on every stateful operator's progress; their presence means
        // the state rows really lived in RocksDB for this execution
        import scala.jdk.CollectionConverters._
        val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
        require(ops.nonEmpty, "q448: no stateful operator in progress")
        val keys = ops.flatMap(_.customMetrics.keySet().asScala)
        require(keys.exists(_.toLowerCase.startsWith("rocksdb")),
          s"q448: state did not run on RocksDB; metrics=${keys.distinct.sorted.mkString(",")}")
      }
    } finally if (rocksDb) {
      prevProvider match {
        case Some(v) => s.conf.set(providerKey, v)
        case None => s.conf.unset(providerKey)
      }
    }
    out
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("event_id"), col("purchase_us"),
        col("signup_us"), col("latency_us"))
      .orderBy("user_id", "event_id")
  }
}
