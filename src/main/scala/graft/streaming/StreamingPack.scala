package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.QueryPack
import graft.operators.CorePack.docDigest
import StreamRunner.{drain, eventStream, fileStream}

/** Structured Streaming surface. The reference is strictly batch, so this
  * is part of the engine's extended surface: the same event-time analytics
  * as [[graft.operators.EventsPack]], expressed as streaming jobs
  * (`readStream` → event-time window agg → `writeStream`).
  *
  * For the batch-shaped correctness gate each query runs its
  * stream to completion over the static parquet through
  * [[StreamRunner.drain]] (memory sink, run, stop, read back) and hands
  * back the final result table — the point being that the *streaming*
  * plan (StateStore-backed windowed agg) computes the same answer the
  * batch plan does, which is exactly what a user migrating a batch
  * pipeline to a live stream needs to hold. At scale the same code runs
  * against a file/Kafka source with watermark-bounded state.
  */
object StreamingPack extends QueryPack {

  /** Run number for memory-sink names and per-run paths: unique per JVM,
    * so repeated runs in one session never collide. */
  private[streaming] val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming twin of q278's diurnal heatmap: complete-mode aggregation
    * on derived CALENDAR keys (day-of-week × hour) rather than event-time
    * windows — state is bounded by the 168-cell grid however long the
    * stream runs, so no watermark is needed even in production. Distinct
    * users stay on the batch side (a second stateful op behind the agg
    * would need watermark plumbing; q39 shows the dedup-then-rollup
    * composition) — the twin gates events and exact decimal value.
    */
  def streamHeatmap(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
    val agg = ev
      .select((dayofweek(col("ts")) - 1).cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hod"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).cast("bigint").as("n_events"),
        sum(col("v")).as("sv"))
    drain(agg, "complete", "heatmap")()
      .select(col("dow"), col("hod"), col("n_events"),
        col("sv").cast("double").as("total_value"))
      .orderBy("dow", "hod")
  }

  /** Streaming tumbling 1-hour count per event type over the events table. */
  def streamTumbling(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
    val agg = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    drain(agg, "complete", "tumbling")()
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
      .orderBy("w_start", "event_type")
  }

  /** Streaming deduplication: state-store-backed `dropDuplicates` over
    * (user_id, day) — the streaming twin of exact dedup, yielding
    * daily-active-users. The dedup stream is run to completion into a
    * memory sink; the final DAU rollup is a batch agg over the deduped
    * sink (chaining a second stateful agg behind streaming dedup would
    * need watermark plumbing that the bounded gate doesn't exercise).
    */
  def streamDedupDau(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
      .withColumn("day", date_trunc("day", col("ts")))
      .select("user_id", "day")
      .dropDuplicates("user_id", "day")
    drain(ev, "append", "dedup")()
      .groupBy("day")
      .agg(count(lit(1)).as("dau"))
      .orderBy("day")
  }

  /** Stream-static enrichment: the live event stream broadcast-joined to
    * a batch dimension (customer) inside the micro-batch plan, then a
    * windowed per-nation rollup — the canonical "enrich a stream with a
    * dim table" shape. The join itself holds NO stream state (the static
    * side is a broadcast hash join re-planned per micro-batch, which is
    * also how dim-table updates get picked up); only the windowed agg is
    * stateful. Event values are floor(×1e6)-quantized to int64 before
    * the sum so the rollup is aggregation-order-deterministic and
    * engine-portable.
    */
  def streamStaticEnrich(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
      .select(col("ts"), col("user_id"), col("value"))
    val dim = graft.core.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val agg = ev.join(broadcast(dim), ev("user_id") === dim("c_custkey"))
      .groupBy(window(col("ts"), "1 day"), col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1e6)).cast("bigint")).as("sum_value_q"))
    drain(agg, "complete", "enrich")()
      .select(col("window.start").as("w_start"), col("c_nationkey"),
        col("n_events"), col("sum_value_q"))
      .orderBy("w_start", "c_nationkey")
  }

  /** Custom stateful operator in the gate: [[SessionizeStream]]'s
    * flatMapGroupsWithState sessionizer, restricted to sessions SAFELY
    * closed by the final watermark (end + gap + 2 s margin < max event
    * time). Inside that horizon the streamed set provably equals the
    * batch lag-gap-cumsum sessions (see SessionizeStreamSpec), so the
    * result is deterministic and batch-SQL-expressible; at the horizon
    * itself, ms-granularity watermark arithmetic makes emission of the
    * last ~2 s of sessions timing-dependent, which a hash gate can't
    * tolerate — hence the margin on BOTH sides.
    */
  def streamSessionize(s: SparkSession, d: String): DataFrame = {
    val sessions = SessionizeStream.run(s, d).toDF()
    val maxUs = graft.core.Tables.events(s, d)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    sessions
      .filter(col("end_us") + lit(SessionizeStream.gapUs + 2000000L) < lit(maxUs))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** Schema of the pre-split event-log artifact (ts already truncated to
    * native micros at artifact-build time — no legacy-nanos conf in the
    * streaming read). Only the columns the join touches: source-level
    * column pruning. */
  private val splitEventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType)))

  /** Event log re-laid-out as parquet partitioned by `event_type`, built
    * once per corpus ([[graft.core.Artifacts]]): a stream that needs one
    * event type reads ONLY that partition directory — source-level
    * pruning, instead of scanning the full log and filtering post-scan
    * per side. This is the production layout for typed event streams
    * (topic-per-type / partitioned log); round 2's q98 paid two full
    * scans of the raw log per run.
    */
  private def splitEventsPath(s: SparkSession, d: String): String =
    graft.core.Artifacts.materialize(
      s"events_by_type_v1_${graft.core.Artifacts.corpusKey(d, "events.parquet")}") { tmp =>
      graft.core.Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("event_type"), col("event_id"), col("ts"), col("user_id"))
        .write.partitionBy("event_type").parquet(tmp)
      // a corpus with ZERO events of one type writes no partition dir for
      // it; guarantee both dirs exist so the readStream side degrades to
      // an empty stream instead of failing on a missing path
      Seq("signup", "purchase").foreach { t =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(tmp, s"event_type=$t"))
      }
    }

  /** The q98/q449/q457 stream plan: the signup and purchase streams of
    * [[splitEventsPath]], each watermarked 1 h, joined as `joinType` on
    * the same user with the purchase within 7 days of the signup. */
  private def signupPurchaseJoin(s: SparkSession, d: String, joinType: String): DataFrame = {
    val root = splitEventsPath(s, d)
    def side(eventType: String, alias: String): DataFrame =
      s.readStream.schema(splitEventSchema)
        .parquet(s"$root/event_type=$eventType")
        .select(col("user_id").as(s"${alias}_user"),
                col("event_id").as(s"${alias}_id"),
                col("ts").as(s"${alias}_ts"))
        .withWatermark(s"${alias}_ts", "1 hour")
    side("signup", "s").join(side("purchase", "p"),
      expr("s_user = p_user AND p_ts >= s_ts AND p_ts <= s_ts + INTERVAL 7 DAYS"), joinType)
  }

  /** Stream-stream interval join: signups ⋈ purchases by user within 7
    * days, BOTH sides watermarked (1 h) — the watermark + time bound are
    * what let Spark evict join state, the property that keeps state
    * finite at production event rates. Append-mode interval-join matches
    * are emitted deterministically once both sides arrive, so running the
    * stream to completion equals the batch interval join exactly (also
    * asserted by StreamStreamJoinSpec).
    */
  def streamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    drain(signupPurchaseJoin(s, d, "inner"), "append", "ssjoin")()
      .select(col("s_id"), col("p_id"), col("s_user").as("user_id"))
      .orderBy("s_id", "p_id")
  }

  /** Stream-stream watermarked LEFT OUTER interval join (q449): q98's
    * inner form plus the production shape — "signups with NO purchase
    * in their 7-day window" are EMITTED (p_id = −1) once the watermark
    * closes their interval, because only then can Spark prove no match
    * will ever arrive. State eviction and null-side emission are the
    * same mechanism: the join state for a signup is dropped exactly
    * when its match window falls behind the watermark, so state stays
    * finite at production event rates and the unmatched row surfaces at
    * that instant (Spark runs no-data micro-batches to advance this
    * without new input).
    *
    * Gate discipline (the q95 watermark-closed subset): rows whose
    * window is NOT provably closed by the final watermark (max event
    * time − 1 h delay, ± ms-arithmetic margin) are timing-dependent —
    * the run ends while they sit in state — so BOTH engines restrict to
    * signups with `s_us + 7 d + 1 h + 2 s < max_us`. Inside that
    * horizon the streamed rows provably equal the batch LEFT JOIN with
    * the identical interval predicate (matched rows by the q98
    * argument; unmatched rows because every purchase that could match
    * is itself behind the watermark and thus arrived). */
  def streamOuterIntervalJoin(s: SparkSession, d: String): DataFrame = {
    drain(signupPurchaseJoin(s, d, "left_outer"), "append", "ssojoin")()
      // 7 d window + 1 h watermark delay + 2 s margin — the same
      // closed-horizon arithmetic the oracle applies; anchored to the
      // stream's ACTUAL final watermark base [[joinWatermarkBaseUs]]
      // (min of the two sides' max event times), not the global max —
      // if either joined side's max lags the global max, a global
      // anchor would admit null-side rows the stream never emitted
      .filter(unix_micros(col("s_ts")) + lit(604800000000L + 3600000000L + 2000000L)
        < lit(joinWatermarkBaseUs(s, d)))
      .select(col("s_id"), coalesce(col("p_id"), lit(-1L)).as("p_id"),
        col("s_user").as("user_id"))
      .orderBy("s_id", "p_id")
  }

  /** The q449/q457 watermark anchor: Spark's global watermark for a
    * two-stream join is min over the INPUT STREAMS of (max event time −
    * delay), so the closed-horizon gate must anchor to
    * min(max signup ts, max purchase ts) — the two event_type subsets
    * the streams actually read — never the whole table's max. */
  private def joinWatermarkBaseUs(s: SparkSession, d: String): Long = {
    // the two sides' maxes are read SEPARATELY: least() skips NULLs, so
    // an empty event_type subset would silently anchor the gate to the
    // non-empty side while the real stream's global watermark never
    // advances (and emits nothing) — instead, an empty side CLOSES the
    // horizon (Long.MinValue admits no rows), matching the stream
    val r = graft.core.Tables.events(s, d)
      .agg(
        max(when(col("event_type") === "signup", unix_micros(col("ts"))))
          .as("s_max"),
        max(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("p_max"))
      .head()
    if (r.isNullAt(0) || r.isNullAt(1)) Long.MinValue
    else math.min(r.getLong(0), r.getLong(1))
  }

  /** Stream-stream watermarked FULL OUTER interval join (q457): both
    * unmatched sides surface — signups with no purchase in their 7-day
    * window (p_id = −1, q449's left lane) AND purchases no signup
    * preceded within 7 days (s_id = −1, the orphaned-conversion audit
    * lane). A purchase row's match window is signups in
    * [p_ts − 7 d, p_ts], so its null-side row emits exactly when the
    * watermark passes p_ts itself. Gate horizon (both engines): rows
    * with a signup keep q449's signup-closed bound; signup-less rows
    * keep the purchase-closed bound (p_us + 1 h + 2 s < max_us). */
  def streamFullOuterIntervalJoin(s: SparkSession, d: String): DataFrame = {
    // per-side horizons, both anchored to the join's true watermark
    // base (min of the two sides' max event times — see
    // [[joinWatermarkBaseUs]])
    val maxUs = joinWatermarkBaseUs(s, d)
    drain(signupPurchaseJoin(s, d, "full_outer"), "append", "ssfojoin")()
      .filter(
        (col("s_id").isNotNull &&
          unix_micros(col("s_ts")) + lit(604800000000L + 3600000000L + 2000000L) < lit(maxUs)) ||
        (col("s_id").isNull &&
          unix_micros(col("p_ts")) + lit(3600000000L + 2000000L) < lit(maxUs)))
      .select(coalesce(col("s_id"), lit(-1L)).as("s_id"),
        coalesce(col("p_id"), lit(-1L)).as("p_id"),
        coalesce(col("s_user"), col("p_user")).as("user_id"))
      .orderBy("s_id", "p_id")
  }

  /** Streaming dedup with BOUNDED state (q459):
    * `dropDuplicatesWithinWatermark` — the production replacement for
    * q39's unbounded-state `dropDuplicates`: the dedup key set is
    * EVICTED once the watermark passes each row's event time + delay,
    * so state is (arrival rate × watermark window)-sized forever — the
    * only dedup shape that survives an unbounded stream with at-least-
    * once upstream delivery. Harness: the corpus is staged TWICE (two
    * file copies — exactly the duplicate delivery the operator
    * exists for); every duplicate pair arrives inside the watermark
    * window, so the contract guarantees exact collapse back to the
    * distinct corpus, and the per-type digest of the surviving rows
    * must equal the batch digest of the original events table. */
  def streamDedupWithinWatermark(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = graft.core.Artifacts.perRunSinkPath(s,
      s"dedup_wm_src_${counter.incrementAndGet()}")
    Files.createDirectories(Paths.get(src))
    val orig = Paths.get(d, "events.parquet")
    val parts: Seq[java.nio.file.Path] =
      if (Files.isDirectory(orig)) {
        val l = Files.list(orig)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        } finally l.close()
      } else Seq(orig)
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.copy(p, Paths.get(src, s"events_a_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.copy(p, Paths.get(src, s"events_b_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val raw = s.readStream
      .schema(graft.core.Tables.eventsRawNanos(s, d).schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(src)
    val dedup = graft.core.Tables.normalizeEventTs(raw)
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("ts"), col("event_type"))
      .dropDuplicatesWithinWatermark("event_id")
    drain(dedup, "append", "dwm")()
      .groupBy("event_type")
      .agg(count(lit(1)).cast("bigint").as("n"),
        min("event_id").cast("bigint").as("min_id"),
        max("event_id").cast("bigint").as("max_id"),
        sum("event_id").cast("bigint").as("sum_id"))
      .orderBy("event_type")
  }

  /** Schema for streaming the documents table (q106). */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming Count-Min: q104's sketch built by a STREAMING global
    * aggregate — the custom `graft_countmin` TypedImperativeAggregate's
    * partial matrices live in the state store across micro-batches
    * (complete mode), exactly how a live heavy-hitter monitor runs: a
    * 64 KiB constant-size state row per partition regardless of the
    * vocabulary that streamed past. Because the sketch is LINEAR, the
    * micro-batch boundaries are invisible and the final matrix equals
    * the batch q104 matrix exactly — so the probe output shares q104's
    * oracle verbatim (the streaming plan must compute the same answer
    * the batch plan does, the same contract as q33/q77/q98). */
  def streamCountMin(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextPack.{cmDepth, cmWidth, probeSketch}
    graft.functions.GraftExpressions.ensure(s)
    val docs = fileStream(s, d, "documents.parquet", docSchema)
    val tok = docs.select(
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
    val agg = tok.agg(
      graft.functions.GraftExpressions.countMin(col("w"), cmDepth, cmWidth).as("cm"))
    val sketch = drain(agg, "complete", "cms")()
    // batch probe over the streamed matrix: q104's probe code, shared
    val tokB = warmed(graft.core.Tables.documents(s, d)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w")))
    probeSketch(tokB, sketch)
  }

  /** Streaming bounded-memory top-k: q69's SpaceSaving sketch built by a
    * STREAMING grouped aggregate — each lang group's capped counter
    * buffer (capacity 64) lives in the state store across micro-batches
    * (complete mode), the live heavy-hitter-per-group monitor shape:
    * state per group is CONSTANT-size however much text streams past.
    * Unlike the linear Count-Min (q106), SpaceSaving merge is only
    * order-independent while no eviction fires; capacity 64 exceeds the
    * corpus vocabulary, so the streamed sketch provably equals the exact
    * aggregate and the query shares q69's oracle verbatim (the capped
    * regime's bounds stay spec-tested in SpaceSavingSpec). */
  def streamTopKSketch(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val docs = fileStream(s, d, "documents.parquet", docSchema)
    val tok = docs.select(col("lang"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
    val agg = tok.groupBy("lang").agg(
      graft.functions.GraftExpressions.spaceSavingTopK(col("w"), 3, 64).as("top_arr"))
    drain(agg, "complete", "sstopk")()
      .select(col("lang"), posexplode(col("top_arr")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
        expr("split_part(col, ':', 1)").as("token"),
        expr("CAST(split_part(col, ':', 2) AS BIGINT)").as("cnt"))
      .orderBy("lang", "rk")
  }

  /** Streaming near-dup: the arriving delta batch (doc_id % 10 == 7,
    * q101's split) flows as a STREAM whose micro-batches compute MinHash
    * state statelessly per row (array HOFs — no aggregation, no state
    * store), probe the static base band-index artifact with a
    * stream-static equi-join, and exact-verify against the static
    * signature store — the live ingest-dedup shape: a crawler's output
    * stream flagged against yesterday's index with zero streaming state.
    * Emitted pairs are exactly q101's delta-base pairs (delta-delta
    * pairs need stream-stream state and stay with the batch path —
    * documented, and excluded from the oracle identically). Band rows
    * carry their own verify state ([[graft.operators.DedupPack
    * .minhashBandsWithState]]) because a stream cannot re-join itself.
    */
  /** Streaming IVF DELTA ASSIGNMENT — the live-ingest twin of q423's
    * assignment stage: delta vectors arrive as a stream and each is
    * assigned to the stored base model's nearest recomputed centroid.
    * STATELESS (the q139 pattern): the model is a one-row broadcast of
    * (cell, cq, cnorm) structs — exactly the cells-sized table a
    * serving ingest holds in memory — attached by stream-static cross
    * join; the per-row argmax runs as nested HOFs (zip_with product +
    * aggregate sum = the exact int64 dot, one double division — the
    * [[graft.functions.VectorFunctions]] arithmetic verbatim), so the
    * hot path stays in codegen with zero streaming state. Tie-break
    * (equal cosine → min cell) mirrors the batch assignCells window
    * order. Oracle: the base-training replay's delta argmax (q423's
    * dasg stage) — stream ≡ batch. */
  /** The per-row nearest-centroid argmax over columns (`q`, `norm`,
    * `cents`): exact int64 dot then one double division — cosineQ's
    * arithmetic verbatim. A zero-norm vector would make every cosine
    * NaN, which never beats the -Infinity seed, emitting cell = -1
    * while the batch window (NaN sorts highest desc, ties broken asc
    * cell) picks the MIN cell; cosine is pinned to 0 when the
    * denominator is 0 so all cells tie and the min-cell tie-break
    * reproduces the batch assignment exactly (r10 ADVICE). */
  private[graft] def ivfArgmaxCol: org.apache.spark.sql.Column = {
    val cos = "(CASE WHEN norm * c.cnorm = CAST(0 AS DOUBLE) " +
      "THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(aggregate(zip_with(q, c.cq, (a, b) -> a * b), " +
      "CAST(0 AS BIGINT), (acc2, x) -> acc2 + x) AS DOUBLE) / 1e12 / (norm * c.cnorm) END)"
    expr(
      s"aggregate(cents, named_struct('cell', CAST(-1 AS INT), " +
        s"'cos', CAST('-Infinity' AS DOUBLE)), " +
        s"(acc, c) -> CASE WHEN $cos > acc.cos OR " +
        s"($cos = acc.cos AND c.cell < acc.cell) " +
        s"THEN named_struct('cell', c.cell, 'cos', $cos) ELSE acc END)")
  }

  def streamIvfAssign(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val cents = graft.operators.SimilarityPack.baseCentroidRow(s, d)
    val delta = fileStream(s, d, "embeddings.parquet",
        graft.core.Tables.embeddings(s, d).schema)
      .filter(pmod(col("vec_id"), lit(10L)) === lit(7L))
      .withColumn("q", graft.functions.VectorFunctions.quantize(col("embedding")))
      .withColumn("norm", sqrt(graft.functions.VectorFunctions.normSqQ(col("q"))))
      .select("vec_id", "q", "norm")
    val assigned = delta.crossJoin(broadcast(cents))
      .withColumn("best", ivfArgmaxCol)
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.cos").as("cosine"))
    drain(assigned, "append", "ivf_assign")().orderBy("vec_id")
  }

  /** STREAMING BM25 INDEX-STATS MAINTENANCE — the live twin of q424
    * (completing the streaming counterpart set for all three
    * incremental indexes: dedup q139, IVF q425, retrieval here): delta
    * documents arrive as a stream, per-term (df, cf) accumulate in ONE
    * streaming aggregate, and the batch side merges the final totals
    * against the stored base artifact through [[graft.operators
    * .RetrievalPack.bm25Merge]] — the SAME code q424 runs, so stream ≡
    * batch is a code identity gated by q424's oracle verbatim.
    *
    * The stateless trick: a document's tokens all live in its own row,
    * so per-doc term counts need NO stateful (doc, w) aggregate — the
    * sorted-token-array boundary scan (codegen HOFs: array_sort →
    * boundary positions → zip_with run lengths) emits each doc's
    * DISTINCT (w, cnt) pairs plus one sentinel meta pair ('' → doc
    * length) inside the micro-batch map, leaving exactly ONE streaming
    * groupBy(w) in complete mode whose state is vocabulary-bounded
    * (the q290 calendar-grid argument: bounded keys, no watermark
    * needed at any stream length). */
  def streamBm25Delta(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DedupPack
    val delta = fileStream(s, d, "documents.parquet", docSchema)
      .filter(pmod(col("doc_id"), lit(DedupPack.deltaMod)) === lit(DedupPack.deltaRem))
    // Single-pass run-length fold over the SORTED token array. The fold
    // lambdas reference ONLY their own (acc, x) arguments — never an
    // outer column — because HOF lambdas re-evaluate referenced outer
    // expressions PER ELEMENT once CollapseProject inlines them (the
    // DedupPack shingle lesson; an element_at(ws, i) formulation
    // measured 56 s at sf0.1 vs ~1 s for this fold).
    val runLenFold =
      "aggregate(ws, " +
        "named_struct('res', CAST(array() AS ARRAY<STRUCT<w: STRING, cnt: BIGINT>>), " +
        "'cur', CAST(NULL AS STRING), 'c', CAST(0 AS BIGINT)), " +
        "(acc, x) -> CASE " +
        "WHEN acc.cur IS NULL THEN named_struct('res', acc.res, 'cur', x, 'c', CAST(1 AS BIGINT)) " +
        "WHEN x = acc.cur THEN named_struct('res', acc.res, 'cur', acc.cur, 'c', acc.c + 1) " +
        "ELSE named_struct('res', array_append(acc.res, named_struct('w', acc.cur, 'cnt', acc.c)), " +
        "'cur', x, 'c', CAST(1 AS BIGINT)) END, " +
        "acc -> CASE WHEN acc.cur IS NULL THEN acc.res " +
        "ELSE array_append(acc.res, named_struct('w', acc.cur, 'cnt', acc.c)) END)"
    val pairs = delta
      // ws sits in the aggregate's INPUT slot: evaluated once per row
      // even if the projection is collapsed into the fold expression
      .withColumn("ws", array_sort(graft.functions.TextFunctions.tokens(col("text"))))
      .withColumn("prs0", expr(runLenFold))
      // per-doc sentinel ('' is impossible as a token) carrying the doc
      // length so ONE streaming aggregate yields both term + meta stats
      .withColumn("dl", expr(
        "aggregate(prs0, CAST(0 AS BIGINT), (a, s) -> a + s.cnt)"))
      .withColumn("prs", expr(
        "concat(prs0, array(named_struct('w', '', 'cnt', dl)))"))
      .select(explode(col("prs")).as("p"))
      .select(col("p.w").as("w"), col("p.cnt").as("cnt"))
    val agg = pairs.groupBy("w")
      .agg(count(lit(1)).as("dfd"), sum("cnt").as("cfd"))
    val t = drain(agg, "complete", "bm25")().localCheckpoint()
    val dTerms = t.filter(col("w") =!= "")
      .select(col("w"), col("dfd").as("df_delta"), col("cfd").as("cf_delta"))
    val dMeta = t.filter(col("w") === "")
      .select(col("dfd").as("n_delta"), col("cfd").as("sum_dl_delta"))
    graft.operators.RetrievalPack.bm25Merge(s, d, dTerms, dMeta).orderBy("term")
  }

  /** STREAMING INGEST DRIFT GATE — the live twin of the q330 KS
    * discipline: the arriving delta batch's length distribution is
    * accumulated in ONE complete-mode streaming aggregate (state =
    * one row per distinct n_chars value — value-vocabulary-bounded,
    * the q290 argument) and KS-tested against the STATIC base corpus:
    * exact integer D = max |cum_delta·n_base − cum_base·n_delta| over
    * the pooled value grid, ppm-quantized, against the α=0.05
    * large-sample critical value (q330's formulas verbatim). This is
    * the drift monitor a production ingest runs ON the stream — flag
    * the crawl batch whose distribution broke before it pollutes the
    * corpus. Oracle: both sides recomputed directly from `documents`
    * with a per-doc is_delta flag — stream ≡ batch. */
  /** Micro-batch STREAMING read of the custom DataSource V2 connector
    * ([[graft.sources.GraftRangeMicroBatchStream]]) — the streaming half
    * of the q432/q436/q437 connector matrix. The generator admits
    * `batchRows` ids per trigger through its offset log, so the 200k-row
    * table arrives as 7 replayable micro-batches, each re-split into
    * `slices` input partitions; a complete-mode aggregate folds them in
    * the state store. REQUIREs pin that the data actually arrived over
    * MULTIPLE batches (≥ 2 progress events with rows) and that no row
    * was lost or duplicated across offset ranges (Σ numInputRows ==
    * 200000 exactly); the oracle recomputes the group-by from
    * generate_series, so a batch-boundary slip also hash-fails.
    */
  def streamDsv2Source(s: SparkSession): DataFrame = {
    val src = s.readStream.format("graft-range")
      .option("n", "200000").option("slices", "8")
      .option("batchRows", "30000")
      .load()
    val agg = src.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("sq").as("sum_sq"),
        min("id").as("min_id"), max("id").as("max_id"))
    drain(agg, "complete", "dsv2") { q =>
      StreamRunner.processAvailable(q)
      val progressRows = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      require(progressRows.length >= 2,
        s"graft-range stream collapsed to one micro-batch: $progressRows")
      require(progressRows.sum == 200000L,
        s"offset ranges lost/duplicated rows: ${progressRows.sum} != 200000")
    }
      .select(col("bucket").cast("int").as("bucket"),
        col("n").cast("bigint").as("n"),
        col("sum_sq").cast("bigint").as("sum_sq"),
        col("min_id").cast("bigint").as("min_id"),
        col("max_id").cast("bigint").as("max_id"))
      .orderBy("bucket")
  }

  /** Cross-session streaming restart (q465): the checkpoint-resume
    * contract driven END TO END across a SparkSession boundary. Phase 1
    * drains the first 120k ids of the graft-range stream under
    * `Trigger.AvailableNow` (a multi-batch run-to-completion: the
    * source's SupportsTriggerAvailableNow snapshots the available end,
    * admission stays batchRows per batch) into a parquet file sink +
    * checkpoint, then the query object is gone. Phase 2 constructs a
    * BRAND-NEW query in a NEW SparkSession (fresh session state — only
    * the checkpoint dir is shared), now with 200k ids available: the
    * offset log must hand back the committed 120k watermark, the source
    * re-seeds from it ([[GraftRangeOffset]] restart monotonicity), and
    * the drain processes EXACTLY the 80k new ids. Exactly-once
    * accounting reads the sink THROUGH its _spark_metadata commit log
    * (uncommitted files invisible — the file-sink transactionality a
    * restart relies on); REQUIREs pin phase-1 row count, phase-2 input
    * rows == the delta, and multi-batch drains in both phases. The
    * oracle recomputes the per-bucket digest of the reassembled 200k
    * generator (q438's oracle verbatim). */
  def streamRestartResume(s: SparkSession): DataFrame = {
    val root = graft.core.Artifacts.perRunSinkPath(s,
      s"stream_restart_${counter.incrementAndGet()}")
    val ckpt = s"$root/ckpt"
    val out = s"$root/out"
    def drain(sess: SparkSession, n: Long): Seq[Long] = {
      val src = sess.readStream.format("graft-range")
        .option("n", n.toString).option("slices", "8")
        .option("batchRows", "30000")
        .load()
      val q = src.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      } finally q.stop()
    }
    val p1 = drain(s, 120000L)
    require(p1.length >= 2 && p1.sum == 120000L,
      s"q465 phase 1: expected a multi-batch 120k drain, got $p1")
    val mid = s.read.parquet(out).count()
    require(mid == 120000L,
      s"q465 phase 1: sink commit log shows $mid rows, want 120000")
    // phase 2: new session, same checkpoint — resume, don't replay
    val s2 = s.newSession()
    val p2 = drain(s2, 200000L)
    require(p2.length >= 2 && p2.sum == 80000L,
      s"q465 phase 2: expected a multi-batch 80k resume " +
        s"(NOT a replay from 0), got $p2")
    val back = s.read.parquet(out)
    back.groupBy("bucket")
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum("sq").cast("bigint").as("sum_sq"),
        min("id").cast("bigint").as("min_id"),
        max("id").cast("bigint").as("max_id"))
      .select(col("bucket").cast("int").as("bucket"), col("n"),
        col("sum_sq"), col("min_id"), col("max_id"))
      .orderBy("bucket")
  }

  /** Exactly-once streaming MERGE sink across a restart (q469, r13
    * VERDICT #2): composes q465 (checkpoint resume across sessions) and
    * q466 (SQL MERGE INTO through DSv2 row-level operations) into the
    * production shape — a foreachBatch sink that MERGEs each micro-
    * batch's per-bucket digest into a graft-mem table, keyed by
    * (batch_id, bucket). That key choice is THE exactly-once idiom:
    * Structured Streaming guarantees foreachBatch a stable batch_id
    * for a replayed batch, so a batch re-delivered after a crash
    * between sink commit and offset commit re-MERGEs the identical
    * rows onto the identical keys (UPDATE to equal values, INSERT of
    * nothing) — idempotent, no loss, no double-count. The gate drives
    * the failure mode EXPLICITLY instead of trusting the argument:
    * phase 1 drains 120k ids (4 batches) under Trigger.AvailableNow;
    * then the LAST batch's MERGE is re-executed by hand with the same
    * batch_id and data (the crash-replay); REQUIREs pin from the
    * store's own journal that the replay commit was a pure no-op
    * rewrite (table row count unchanged, inserted == deleted); phase 2
    * resumes in a BRAND-NEW SparkSession from the shared checkpoint
    * (80k new ids, 3 batches, NOT a replay from 0). The returned frame
    * folds the (batch_id, bucket) ledger back to per-bucket totals
    * plus the batch count per bucket; the oracle recomputes everything
    * from generate_series with the literal 7-batch count — a lost
    * batch, a doubled batch, or a replay that mutated state all
    * hash-fail. */
  /** Streaming CDC tail (q475): the graft-mem snapshot change feed as a
    * STREAMING source — the Delta streaming-source shape that turns a
    * mutable 100 TB table into an unbounded input. Offsets are COMMIT
    * VERSIONS and admission is one version per micro-batch
    * ([[graft.sources.GraftMemCdcMicroBatchStream]]), so batches align
    * with the table's commit history deterministically — trigger timing
    * can never merge two commits into one delivered change set. The
    * gate drives the same three commits as q474 (append → keyed upsert
    * → metadata DELETE), tails the feed from version 1 under
    * Trigger.AvailableNow into a foreachBatch sink that journals each
    * batch with its id, and REQUIREs per-batch movement equal to the
    * commit journal's own deleted/inserted counts (batch 0 ≡ the
    * upsert, batch 1 ≡ the delete). The oracle recomputes each batch's
    * change set as snapshot-state EXCEPTs from documents. */
  def streamCdcTail(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftmem",
      classOf[graft.sources.GraftMemCatalog].getName)
    val n = counter.incrementAndGet()
    val tbl = s"cdctail_src_${n}_${System.identityHashCode(s)}"
    val outTbl = s"cdctail_out_${n}_${System.identityHashCode(s)}"
    val docs = graft.core.Tables.documents(s, dir)
    docDigest(docs).write.format("graft-mem").option("table", tbl).mode("append").save()
    import s.implicits._
    docDigest(docs.filter(col("lang") === "en").withColumn("text", upper(col("text"))))
      .unionByName(Seq(("zz", "synthetic", 1L, 42L, 7L))
        .toDF("lang", "source", "n_docs", "sum_chars", "text_cksum"))
      .writeTo(s"graftmem.$tbl").overwrite(col("lang").isin("en", "zz"))
    s.sql(s"DELETE FROM graftmem.$tbl WHERE lang = 'de'")
    val feed = s.readStream.format("graft-mem").option("table", tbl)
      .option("changesFrom", "1").load()
    val q = feed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.format("graft-mem").option("table", outTbl).mode("append").save()
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        graft.core.Artifacts.perRunSinkPath(s, s"cdc_tail_ckpt_$n"))
      .start()
    q.awaitTermination()
    val commits = graft.sources.GraftMemStore.commitsOf(tbl)
    require(commits.map(_.kind) == List("append", "overwrite", "delete"),
      s"q475: expected append+overwrite+delete commits, got $commits")
    val out = s.read.format("graft-mem").option("table", outTbl).load()
      .localCheckpoint()
    val perBatch = out.groupBy("batch_id", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    require(perBatch.keys.map(_._1).toSet == Set(0L, 1L),
      s"q475: expected exactly batches 0 and 1 (one per commit), got ${perBatch.keys}")
    val (ow, del) = (commits(1), commits(2))
    require(perBatch.getOrElse((0L, "delete"), 0L) == ow.deleted &&
        perBatch.getOrElse((0L, "insert"), 0L) == ow.inserted,
      s"q475: batch 0 feed $perBatch != upsert journal movement $ow")
    require(perBatch.getOrElse((1L, "delete"), 0L) == del.deleted &&
        perBatch.getOrElse((1L, "insert"), 0L) == 0L,
      s"q475: batch 1 feed $perBatch != delete journal movement $del")
    out.select(col("batch_id").cast("int").as("batch_id"), col("_change_type"),
        col("lang"), col("source"), col("n_docs"), col("sum_chars"),
        col("text_cksum"))
      .orderBy("batch_id", "_change_type", "lang", "source")
  }

  /** Incremental materialized-view maintenance (q478): the flagship
    * COMPOSITION of the table-format stack — a downstream per-lang
    * aggregate MV kept in sync with a mutable upstream table by
    * (1) BOOTSTRAPPING from a pinned snapshot (`VERSION AS OF 1`, the
    * initial-load half of Delta's "snapshot + readChangeFeed" idiom),
    * then (2) tailing the streaming CDC feed from that same version
    * and (3) applying each commit's change set as SIGNED DELTAS via
    * SQL MERGE INTO (insert = +, delete = −; a key whose doc count
    * reaches zero is DELETED from the MV, not left as a zero row).
    * At 100 TB this is how a derived table follows a source without
    * recompute: the MV processes |delta| rows per commit, never the
    * corpus. REQUIREs: the MV's journal shows exactly the bootstrap
    * append + one MERGE commit per tailed version, and the final MV is
    * row-identical to a from-scratch recompute over the upstream's
    * CURRENT state (both-ways EXCEPT empty). The oracle recomputes the
    * per-lang rollup of the final upstream state from documents. */
  def streamIncrementalMv(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftmem",
      classOf[graft.sources.GraftMemCatalog].getName)
    val n = counter.incrementAndGet()
    val tbl = s"mv_src_${n}_${System.identityHashCode(s)}"
    val mv = s"mv_agg_${n}_${System.identityHashCode(s)}"
    val docs = graft.core.Tables.documents(s, dir)
    // upstream commit 1, then the MV bootstrap from EXACTLY version 1
    docDigest(docs).write.format("graft-mem").option("table", tbl).mode("append").save()
    s.sql(s"SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs, " +
        s"CAST(sum(sum_chars) AS BIGINT) AS sum_chars, " +
        s"CAST(sum(text_cksum) AS BIGINT) AS cksum " +
        s"FROM graftmem.$tbl VERSION AS OF 1 GROUP BY lang")
      .write.format("graft-mem").option("table", mv).mode("append").save()
    // upstream commits 2 (keyed upsert) and 3 (metadata delete)
    import s.implicits._
    docDigest(docs.filter(col("lang") === "en").withColumn("text", upper(col("text"))))
      .unionByName(Seq(("zz", "synthetic", 1L, 42L, 7L))
        .toDF("lang", "source", "n_docs", "sum_chars", "text_cksum"))
      .writeTo(s"graftmem.$tbl").overwrite(col("lang").isin("en", "zz"))
    s.sql(s"DELETE FROM graftmem.$tbl WHERE lang = 'de'")
    // tail the CDC feed from the bootstrap version; each batch MERGEs
    // its signed per-lang deltas into the MV
    val feed = s.readStream.format("graft-mem").option("table", tbl)
      .option("changesFrom", "1").load()
    val q = feed.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val view = s"mv_delta_${n}_$batchId"
        // the batch frame lives in the stream's CLONED session — the
        // temp view registers there, so the MERGE must run there too
        batch.createOrReplaceTempView(view)
        batch.sparkSession.sql(
          s"""MERGE INTO graftmem.$mv t
             |USING (
             |  SELECT lang,
             |         CAST(sum(CASE WHEN _change_type = 'insert' THEN n_docs ELSE -n_docs END) AS BIGINT) AS d_docs,
             |         CAST(sum(CASE WHEN _change_type = 'insert' THEN sum_chars ELSE -sum_chars END) AS BIGINT) AS d_chars,
             |         CAST(sum(CASE WHEN _change_type = 'insert' THEN text_cksum ELSE -text_cksum END) AS BIGINT) AS d_cksum
             |  FROM $view GROUP BY lang
             |) d ON t.lang = d.lang
             |WHEN MATCHED AND t.n_docs + d.d_docs <= 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET
             |  n_docs = t.n_docs + d.d_docs,
             |  sum_chars = t.sum_chars + d.d_chars,
             |  cksum = t.cksum + d.d_cksum
             |WHEN NOT MATCHED THEN
             |  INSERT (lang, n_docs, sum_chars, cksum)
             |  VALUES (d.lang, d.d_docs, d.d_chars, d.d_cksum)""".stripMargin)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        graft.core.Artifacts.perRunSinkPath(s, s"mv_ckpt_$n"))
      .start()
    q.awaitTermination()
    // journal proof: bootstrap append + ONE MERGE commit per version
    val mvCommits = graft.sources.GraftMemStore.commitsOf(mv)
    require(mvCommits.map(c => (c.kind, c.filters)) ==
        List(("append", ""), ("overwrite", "replace_merge"), ("overwrite", "replace_merge")),
      s"q478: expected bootstrap append + 2 MERGE commits on the MV, got $mvCommits")
    // the incremental MV must equal a from-scratch recompute over the
    // upstream's CURRENT state
    val mvNow = s.read.format("graft-mem").option("table", mv).load()
      .localCheckpoint()
    val recompute = s.sql(s"SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs, " +
      s"CAST(sum(sum_chars) AS BIGINT) AS sum_chars, " +
      s"CAST(sum(text_cksum) AS BIGINT) AS cksum " +
      s"FROM graftmem.$tbl GROUP BY lang").localCheckpoint()
    require(mvNow.exceptAll(recompute).isEmpty && recompute.exceptAll(mvNow).isEmpty,
      "q478: the incrementally maintained MV diverged from the recompute")
    mvNow.orderBy("lang")
  }

  def streamMergeExactlyOnce(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val runId = counter.incrementAndGet()
    val root = graft.core.Artifacts.perRunSinkPath(s, s"stream_merge_$runId")
    val ckpt = s"$root/ckpt"
    val tbl = s"smerge_${runId}_${System.identityHashCode(s)}"
    graft.sources.GraftMemStore.create(tbl, StructType(Seq(
      StructField("batch_id", LongType, nullable = false),
      StructField("bucket", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("sum_sq", LongType, nullable = false),
      StructField("min_id", LongType, nullable = false),
      StructField("max_id", LongType, nullable = false))))
    def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
      val sess = batch.sparkSession
      sess.conf.set("spark.sql.catalog.graftmem",
        classOf[graft.sources.GraftMemCatalog].getName)
      val digest = batch.groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n"),
          sum("sq").cast("long").as("sum_sq"),
          min("id").cast("long").as("min_id"),
          max("id").cast("long").as("max_id"))
        .select(lit(batchId).as("batch_id"), col("bucket").cast("int").as("bucket"),
          col("n"), col("sum_sq"), col("min_id"), col("max_id"))
      val src = s"graft_q469_src_${tbl}_$batchId"
      digest.createOrReplaceTempView(src)
      try sess.sql(
        s"""MERGE INTO graftmem.$tbl t USING $src s
           |ON t.batch_id = s.batch_id AND t.bucket = s.bucket
           |WHEN MATCHED THEN UPDATE SET
           |  n = s.n, sum_sq = s.sum_sq, min_id = s.min_id, max_id = s.max_id
           |WHEN NOT MATCHED THEN INSERT
           |  (batch_id, bucket, n, sum_sq, min_id, max_id)
           |  VALUES (s.batch_id, s.bucket, s.n, s.sum_sq, s.min_id, s.max_id)"""
          .stripMargin)
      finally sess.catalog.dropTempView(src)
    }
    def drain(sess: SparkSession, n: Long): Seq[Long] = {
      val src = sess.readStream.format("graft-range")
        .option("n", n.toString).option("slices", "8")
        .option("batchRows", "30000")
        .load()
      val q = src.writeStream
        .foreachBatch(mergeBatch _)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      } finally q.stop()
    }
    val p1 = drain(s, 120000L)
    require(p1.length >= 2 && p1.sum == 120000L,
      s"q469 phase 1: expected a multi-batch 120k drain, got $p1")
    val ledger1 = graft.sources.GraftMemStore.rowsOf(tbl).length
    require(ledger1 == p1.length * 16,
      s"q469 phase 1: ledger has $ledger1 rows, want ${p1.length * 16}")
    // THE CRASH-REPLAY: re-deliver the last batch (same batch_id, same
    // rows — ids [90000, 120000) as batch 3) straight into the sink
    // function, exactly what recovery does when the sink committed but
    // the offset log did not
    val lastBatch = s.read.format("graft-range")
      .option("n", "120000").option("slices", "8").load()
      .filter(col("id") >= 90000L)
    mergeBatch(lastBatch, p1.length - 1L)
    val afterReplay = graft.sources.GraftMemStore.rowsOf(tbl).length
    require(afterReplay == ledger1,
      s"q469: replayed batch GREW the ledger ($ledger1 -> $afterReplay) — " +
        "the MERGE is not idempotent")
    val replayCommit = graft.sources.GraftMemStore.commitsOf(tbl).last
    require(replayCommit.filters == "replace_merge" &&
        replayCommit.inserted == replayCommit.deleted,
      s"q469: replay commit is not a no-op rewrite: $replayCommit")
    // phase 2: brand-new session, same checkpoint — resume, don't replay
    val p2 = drain(s.newSession(), 200000L)
    require(p2.length >= 2 && p2.sum == 80000L,
      s"q469 phase 2: expected a multi-batch 80k resume " +
        s"(NOT a replay from 0), got $p2")
    val back = s.read.format("graft-mem").option("table", tbl).load()
    back.groupBy("bucket")
      .agg(sum("n").cast("bigint").as("n"),
        sum("sum_sq").cast("bigint").as("sum_sq"),
        min("min_id").cast("bigint").as("min_id"),
        max("max_id").cast("bigint").as("max_id"),
        count(lit(1)).cast("bigint").as("n_batches"))
      .select(col("bucket").cast("int").as("bucket"), col("n"),
        col("sum_sq"), col("min_id"), col("max_id"), col("n_batches"))
      .orderBy("bucket")
  }

  def streamKsDrift(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DedupPack
    val deltaCounts = fileStream(s, d, "documents.parquet", docSchema)
      .filter(pmod(col("doc_id"), lit(DedupPack.deltaMod)) === lit(DedupPack.deltaRem))
      .groupBy("n_chars").agg(count(lit(1)).as("cd"))
    val dCnt = drain(deltaCounts, "complete", "ksdrift")().localCheckpoint()
    val bCnt = graft.core.Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(DedupPack.deltaMod)) =!= lit(DedupPack.deltaRem))
      .groupBy("n_chars").agg(count(lit(1)).as("cb"))
    // pooled value grid; cumulative counts ride ONE window over the
    // (bounded) distinct-length vocabulary — the q330 frame shape
    val grid = bCnt.join(dCnt, Seq("n_chars"), "full_outer")
      .na.fill(0L, Seq("cb", "cd"))
    val wc = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum("cb").cast("bigint").as("n_base"),
      sum("cd").cast("bigint").as("n_delta"))
    grid
      .withColumn("cum_b", sum("cb").over(wc))
      .withColumn("cum_d", sum("cd").over(wc))
      .crossJoin(broadcast(tot))
      .select(col("n_base"), col("n_delta"),
        abs(col("cum_d") * col("n_base") - col("cum_b") * col("n_delta")).as("dabs"))
      .groupBy("n_base", "n_delta")
      .agg(max("dabs").as("dmax"))
      .select(col("n_base"), col("n_delta"),
        expr("(dmax * 1000000) div (n_base * n_delta)").cast("bigint").as("d_ppm"),
        floor(lit(1358000.0) *
          sqrt((col("n_base") + col("n_delta")).cast("double") /
            (col("n_base") * col("n_delta")).cast("double")))
          .cast("bigint").as("crit_ppm"))
      .withColumn("reject", col("d_ppm") > col("crit_ppm"))
      .orderBy("n_base")
  }

  def streamNearDup(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DedupPack
    graft.functions.GraftExpressions.ensure(s)
    val baseBands = DedupPack.baseBandIndex(s, d)
      .select(col("doc_id").as("base_id"), col("b0").as("base_b0"),
        col("band_id"), col("band_val"))
    val baseSigs = DedupPack.baseSigStore(s, d)
      .select(col("doc_id").as("base_id"), col("sigs").as("sig_b"),
        col("tid").as("tid_b"), col("n_toks").as("n_b"))
    val delta = fileStream(s, d, "documents.parquet", docSchema)
      .filter(pmod(col("doc_id"), lit(DedupPack.deltaMod)) === lit(DedupPack.deltaRem))
    val probe = DedupPack.minhashBandsWithState(DedupPack.minhashDocs(delta))
    val scored = probe
      .join(baseBands,
        probe("band_id") === baseBands("band_id") &&
        probe("band_val") === baseBands("band_val") &&
        (probe("band_id") === 0 || col("b0") =!= col("base_b0")))
      .join(baseSigs, "base_id")
      .withColumn("est_matches",
        graft.functions.GraftExpressions.longArrayEqCount(col("sigs"), col("sig_b")))
      .filter(col("est_matches") >= 12)
      .withColumn("n_common",
        graft.functions.GraftExpressions.sortedLongIntersectCount(col("tid"), col("tid_b")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_toks") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= 0.9)
      .select(least(col("doc_id"), col("base_id")).as("doc_i"),
        greatest(col("doc_id"), col("base_id")).as("doc_j"),
        col("est_matches"), col("n_common"), col("jaccard"))
    drain(scored, "append", "neardup")().orderBy("doc_i", "doc_j")
  }

  /** Built-in `session_window` gap-based sessionization — the native
    * StateStore session operator (dynamic-gap windows that MERGE as
    * events arrive), complementing q95's hand-rolled
    * flatMapGroupsWithState sessionizer. Gap semantics pinned by the
    * oracle: events merge iff the next start is strictly inside the
    * previous [ts, ts+30min) window, so an exactly-30-minute gap starts
    * a new session; session end = last event + gap. */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
    val agg = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).cast("bigint").as("n_events"))
    drain(agg, "complete", "session_window")()
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"))
      .orderBy("user_id", "s_start")
  }

  /** Streaming grouped quantiles through the native mergeable sketch
    * ([[graft.functions.QuantileSketchAgg]]): per-source token-length
    * percentiles maintained INCREMENTALLY — each micro-batch's partial
    * sketches merge into the state store's running sketch, state is
    * capacity-bounded per group forever. The q165 discipline: in the
    * sketch's exact regime (capacity >= distinct lengths, true at every
    * test SF) merge is exact and order-independent, so the stream equals
    * batch q201 EXACTLY and shares its oracle; the capped regime's
    * bounds are QuantileSketchSpec's job.
    */
  def streamQuantiles(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val docs = fileStream(s, d, "documents.parquet", docSchema)
    val agg = docs
      .select(col("source"),
        org.apache.spark.sql.functions.size(
          graft.functions.TextFunctions.tokens(col("text"))).cast("bigint").as("n"))
      .groupBy("source")
      .agg(graft.functions.GraftExpressions.quantileSketch(col("n"), 8192).as("qs"))
    drain(agg, "complete", "quant")()
      .select(col("source"),
        element_at(col("qs"), 1).cast("bigint").as("q250"),
        element_at(col("qs"), 2).cast("bigint").as("q500"),
        element_at(col("qs"), 3).cast("bigint").as("q750"),
        element_at(col("qs"), 4).cast("bigint").as("q950"),
        element_at(col("qs"), 5).cast("bigint").as("q990"))
      .orderBy("source")
  }

  /** Streaming additive set checksum: q226's corpus-versioning hash
    * maintained by a STREAMING grouped aggregate — per-source
    * (n_docs, Σ h(doc)) accumulates in the state store across
    * micro-batches (complete mode), the live "has anything changed"
    * fingerprint an ingest pipeline exposes. Addition is linear, so
    * micro-batch boundaries are invisible and the streamed sums equal
    * the batch sums exactly — the oracle is q226's per-source slice
    * (same hashes, same DECIMAL accumulation, same 2^60 fold; the
    * ROLLUP total row and the even/odd homomorphism proof stay on the
    * batch side). State per source: one count + one DECIMAL — constant
    * however much text streams past (q106's contract). */
  def streamChecksum(s: SparkSession, d: String): DataFrame = {
    val docs = fileStream(s, d, "documents.parquet", docSchema)
    val agg = docs
      .select(col("source"),
        graft.functions.TextFunctions.hex64(md5(col("text"))).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("cast(h as decimal(38,0))")).as("s_all"))
    drain(agg, "complete", "checksum")()
      .select(col("source"), col("n_docs").cast("bigint").as("n_docs"),
        expr("cast(s_all % 1152921504606846976 as bigint)").as("checksum"))
      .orderBy("source")
  }

  /** Streaming HLL: per-event-type distinct-user registers maintained
    * by a STREAMING grouped aggregate — the 2 KiB register rows live in
    * the state store across micro-batches (complete mode), the live
    * cardinality monitor shape. Register max-merge is LINEAR, so
    * micro-batch boundaries are invisible and the streamed registers
    * equal the batch computation bit-for-bit — the oracle replays the
    * md5/rho register chain directly (q149/q153's construction).
    * Constant-size state per group however many users stream past —
    * the q106 Count-Min contract for cardinality instead of
    * frequency. */
  def streamHll(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExpressions.ensure(s)
    val raw = eventStream(s, d)
    val agg = raw
      .select(col("event_type").as("grp"), col("user_id").cast("string").as("key"))
      .groupBy("grp")
      .agg(graft.functions.GraftExpressions.hll(col("key"), 8).as("regs"))
    drain(agg, "complete", "hll")()
      .select(col("grp"), posexplode(col("regs")).as(Seq("idx", "reg")))
      .select(col("grp"), col("idx").cast("bigint").as("idx"), col("reg"))
      .orderBy("grp", "idx")
  }

  /** Streaming twin of q251's paragraph-Bloom dedup: the delta arrives
    * as a parquet STREAM while the base corpus's paragraph Bloom filter
    * and exact id set are STATIC batch frames — the shape of a
    * continuous ingest probing yesterday's persisted dedup state. Each
    * micro-batch probes the broadcast filter per paragraph (map stage);
    * filter passers are exact-verified by the stream-static equi-join
    * and non-passers rejoin with hit 0, so the per-doc aggregate
    * (complete mode) must equal batch q251 EXACTLY — the shared oracle
    * is that gate. */
  def streamParaBloom(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DedupPack
    graft.functions.GraftExpressions.ensure(s)
    import graft.functions.GraftExpressions.{bloom, bloomMightContain}
    val basePids = DedupPack.baseParagraphIds(s, d)
    val bf = basePids.agg(bloom(col("pid"), 1 << 20, 7).as("bf"))
    val delta = fileStream(s, d, "documents.parquet", docSchema)
      .filter(pmod(col("doc_id"), lit(DedupPack.deltaMod)) === lit(DedupPack.deltaRem))
    val probed = DedupPack.paragraphIds(delta)
      .crossJoin(broadcast(bf))
      .withColumn("maybe", bloomMightContain(col("bf"), col("pid"), 7))
      .drop("bf")
    val verified = probed.filter(col("maybe"))
      .join(basePids.withColumn("hit", lit(1L)), Seq("pid"), "left_outer")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("hit"))
      .unionByName(probed.filter(!col("maybe"))
        .select(col("doc_id"), lit(0L).as("hit")))
    val agg = verified.groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_paras"),
        sum(col("hit")).cast("bigint").as("n_dup"))
    drain(agg, "complete", "parabloom")()
      .select(col("doc_id"), col("n_paras"), col("n_dup"),
        expr("n_dup * 1000000 div n_paras").cast("bigint").as("dup_frac_ppm"))
      .withColumn("keep", col("dup_frac_ppm") <= 300000)
      .orderBy("doc_id")
  }

  /** Streaming twin of q199's CUSUM changepoint: the (type, hour) count
    * aggregate — the only corpus-scale work — runs INCREMENTALLY in the
    * stream (complete-mode StateStore agg, state bounded by types ×
    * hours); the n·cumsum − k·total scan and the argmax are the
    * bounded finishing pass over the final state (the q290 heatmap
    * pattern: heavy lifting in-flight, calendar-bounded batch tail).
    * Live deployment would emit the running changepoint per trigger;
    * the gate drains the static corpus and must reproduce the batch
    * q199 answer bit-for-bit on the shared oracle. */
  def streamCusum(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
    val agg = ev
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .groupBy("event_type", "hr")
      .agg(count(lit(1)).as("c"))
    // the memory-sink MemoryPlan can't self-join (conflicting attribute
    // refs on the tot/cumsum branches); pin the drained state — bounded
    // by types × hours — as an RDD-backed frame first
    val hourly = drain(agg, "complete", "cusum")().localCheckpoint()
    val tot = hourly.groupBy("event_type")
      .agg(sum("c").as("total"), count(lit(1)).as("n_hours"))
    val wc = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wi = Window.partitionBy("event_type").orderBy("hr")
    hourly.join(tot, "event_type")
      .withColumn("cumc", sum("c").over(wc))
      .withColumn("k", row_number().over(wi).cast("bigint"))
      .withColumn("s_k", col("n_hours") * col("cumc") - col("k") * col("total"))
      .filter(col("k") < col("n_hours"))
      .groupBy("event_type")
      .agg(max(struct(abs(col("s_k")).as("a"), (-col("hr")).as("nh"))).as("m"),
        max(col("n_hours")).as("n_hours"), max(col("total")).as("total"))
      .select(col("event_type"),
        (-col("m.nh")).cast("bigint").as("change_hr"),
        col("m.a").cast("bigint").as("cusum_abs"),
        col("n_hours").cast("bigint").as("n_hours"),
        col("total").cast("bigint").as("total"))
      .orderBy("event_type")
  }

  /** q386: STREAMING SPRT — q384's sequential sample-ratio monitor with
    * the per-day (n, k) counts accumulated in the StateStore across
    * micro-batches (complete-mode grouped aggregate; counts are linear,
    * so stream ≡ batch exactly) and the Wald LLR/boundary pass run as
    * the bounded finishing step over the drained day-vocabulary frame
    * (the q332 shape). Shares q384's oracle VERBATIM — the gate IS the
    * stream-equals-batch proof. */
  def streamSprt(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
    val agg = ev
      .select(expr("cast(floor(cast(unix_micros(ts) as double) / 86400000000.0) as bigint)").as("day"),
        expr("CASE WHEN CAST(conv(substring(md5(concat('sprt:', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END").as("in_b"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum("in_b").as("k"))
    // bounded finishing pass over the drained day-vocabulary frame
    val daily = drain(agg, "complete", "sprt")().localCheckpoint()
    val wc = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = daily
      .withColumn("nn", sum("n").over(wc).cast("bigint"))
      .withColumn("kk", sum("k").over(wc).cast("bigint"))
      .withColumn("llr_micro", expr(
        "cast(floor(1000000.0 * (cast(kk as double) * 0.09531017980432486 " +
          "+ cast(nn - kk as double) * (-0.10536051565782631))) as bigint)"))
      .withColumn("decision",
        when(col("llr_micro") >= 2944438L, "accept_h1")
          .when(col("llr_micro") <= -2944439L, "accept_h0")
          .otherwise("continue"))
    val fd = dec.agg(coalesce(
      min(when(col("decision") =!= "continue", col("day"))), lit(-1L))
      .cast("bigint").as("first_decision_day"))
    dec.crossJoin(broadcast(fd))
      .select(col("day").cast("bigint").as("day"), col("nn").as("n_cum"),
        col("kk").as("k_cum"), col("llr_micro"), col("decision"),
        col("first_decision_day"))
      .orderBy("day")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q422_stream_asof" -> ((s, d) => AsOfStream.run(s, d)),
    "q428_stream_asof_buffered" -> ((s, d) => AsOfBufferedStream.run(s, d)),
    "q448_stream_asof_rocksdb" -> ((s, d) => AsOfBufferedStream.run(s, d, rocksDb = true)),
    "q449_stream_outer_interval_join" -> ((s, d) => streamOuterIntervalJoin(s, d)),
    "q457_stream_full_outer_interval_join" -> ((s, d) => streamFullOuterIntervalJoin(s, d)),
    "q459_stream_dedup_within_watermark" -> ((s, d) => streamDedupWithinWatermark(s, d)),
    "q431_stream_bm25_delta" -> ((s, d) => streamBm25Delta(s, d)),
    "q438_stream_dsv2_source" -> ((s, _) => streamDsv2Source(s)),
    "q465_stream_restart_resume" -> ((s, _) => streamRestartResume(s)),
    "q469_stream_merge_exactly_once" -> ((s, _) => streamMergeExactlyOnce(s)),
    "q475_stream_cdc_tail" -> ((s, d) => streamCdcTail(s, d)),
    "q478_stream_incremental_mv" -> ((s, d) => streamIncrementalMv(s, d)),
    "q435_stream_ks_drift" -> ((s, d) => streamKsDrift(s, d)),
    "q425_stream_ivf_assign" -> ((s, d) => streamIvfAssign(s, d)),
    "q410_stream_skyline" -> ((s, d) => SkylineStream.run(s, d)),
    "q386_stream_sprt" -> ((s, d) => streamSprt(s, d)),
    "q332_stream_cusum" -> ((s, d) => streamCusum(s, d)),
    "q303_stream_funnel" -> ((s, d) => FunnelStream.run(s, d)),
    "q290_stream_heatmap" -> ((s, d) => streamHeatmap(s, d)),
    "q259_stream_para_bloom" -> ((s, d) => streamParaBloom(s, d)),
    "q238_stream_hll" -> ((s, d) => streamHll(s, d)),
    "q229_stream_checksum" -> ((s, d) => streamChecksum(s, d)),
    "q213_stream_markov" -> ((s, d) => TransitionStream.run(s, d)),
    "q204_stream_quantiles" -> ((s, d) => streamQuantiles(s, d)),
    "q195_stream_session_window" -> ((s, d) => streamSessionWindow(s, d)),
    "q139_stream_neardup" -> ((s, d) => streamNearDup(s, d)),
    "q106_stream_countmin" -> ((s, d) => streamCountMin(s, d)),
    "q165_stream_topk_sketch" -> ((s, d) => streamTopKSketch(s, d)),
    "q33_stream_tumbling" -> ((s, d) => streamTumbling(s, d)),
    "q39_stream_dedup_dau" -> ((s, d) => streamDedupDau(s, d)),
    "q77_stream_enrich" -> ((s, d) => streamStaticEnrich(s, d)),
    "q95_stream_sessionize" -> ((s, d) => streamSessionize(s, d)),
    "q98_stream_interval_join" -> ((s, d) => streamIntervalJoin(s, d))
  )

  override def oracle: Map[String, String] = Map(

    // stream ≡ batch: q03's DuckDB native ASOF JOIN oracle VERBATIM —
    // the per-user state-store dimension lists must reproduce the batch
    // as-of join exactly (third independent as-of implementation on
    // this one oracle, after q03's custom exec and q09's bucketed lane)
    "q422_stream_asof" -> graft.operators.EventsPack.asofOracleSql,

    // stream ≡ batch: q03's oracle VERBATIM again — the watermark-
    // buffered variant must land on the identical enrichment while
    // tolerating late dimension rows q422's contract forbids (fourth
    // independent as-of implementation on this one oracle)
    "q428_stream_asof_buffered" -> graft.operators.EventsPack.asofOracleSql,

    // q428's pipeline executed on the RocksDB state store provider,
    // q03's oracle VERBATIM a fifth time: stream ≡ batch must be
    // STORE-independent (the run itself REQUIREs RocksDB's custom
    // metrics on the stateful operator's progress)
    "q448_stream_asof_rocksdb" -> graft.operators.EventsPack.asofOracleSql,

    // batch LEFT JOIN + interval predicate, restricted to the same
    // watermark-closed signup horizon the stream gate applies; NULL
    // match → −1 on both engines. The horizon anchors to the join's
    // TRUE final watermark base — min(max signup ts, max purchase ts),
    // the two streams the join reads — never the whole table's max
    "q449_stream_outer_interval_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (SELECT user_id, event_id AS s_id, ts AS sts FROM ev WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS p_id, ts AS pts FROM ev WHERE event_type = 'purchase'),
        |mx AS (SELECT least(max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END),
        |                    max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS max_us
        |       FROM ev)
        |SELECT s.s_id, COALESCE(p.p_id, -1) AS p_id, s.user_id AS user_id
        |FROM s LEFT JOIN p
        |  ON s.user_id = p.user_id AND p.pts >= s.sts AND p.pts <= s.sts + INTERVAL 7 DAY, mx
        |WHERE epoch_us(s.sts) + 604800000000 + 3600000000 + 2000000 < mx.max_us
        |ORDER BY s_id, p_id""".stripMargin,

    // the doubled stream must collapse exactly back to the distinct
    // corpus: per-type digest of the original events table
    "q459_stream_dedup_within_watermark" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(event_id) AS BIGINT) AS min_id,
        |       CAST(max(event_id) AS BIGINT) AS max_id,
        |       CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // batch FULL OUTER + interval predicate, with the per-side closed
    // horizons the stream gate applies (signup-closed for rows carrying
    // a signup, purchase-closed for the signup-less lane), both
    // anchored to min(max signup ts, max purchase ts) — the join's true
    // final watermark base (q449's anchor note)
    "q457_stream_full_outer_interval_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (SELECT user_id, event_id AS s_id, ts AS sts FROM ev WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS p_id, ts AS pts FROM ev WHERE event_type = 'purchase'),
        |mx AS (SELECT least(max(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END),
        |                    max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS max_us
        |       FROM ev)
        |SELECT COALESCE(s.s_id, -1) AS s_id, COALESCE(p.p_id, -1) AS p_id,
        |       COALESCE(s.user_id, p.user_id) AS user_id
        |FROM s FULL OUTER JOIN p
        |  ON s.user_id = p.user_id AND p.pts >= s.sts AND p.pts <= s.sts + INTERVAL 7 DAY, mx
        |WHERE (s.s_id IS NOT NULL AND epoch_us(s.sts) + 604800000000 + 3600000000 + 2000000 < mx.max_us)
        |   OR (s.s_id IS NULL AND epoch_us(p.pts) + 3600000000 + 2000000 < mx.max_us)
        |ORDER BY s_id, p_id""".stripMargin,

    // stream ≡ batch: q424's full-recompute oracle VERBATIM — the
    // streamed per-term totals merged through the shared bm25Merge
    // must land on the batch incremental answer exactly
    "q431_stream_bm25_delta" ->
      graft.operators.RetrievalPack.oracle("q424_bm25_delta"),

    // the two-session restart must reassemble the full generator
    // exactly — q438's oracle verbatim: stream ≡ batch must also be
    // RESTART-independent
    "q465_stream_restart_resume" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq,
        |       CAST(MIN(g.i) AS BIGINT) AS min_id,
        |       CAST(MAX(g.i) AS BIGINT) AS max_id
        |FROM UNNEST(generate_series(0, 199999)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // the restart-spanning MERGE ledger must fold back to exactly the
    // full generator, with exactly 7 batches (4 + 3, the replayed
    // batch absorbed idempotently) touching every bucket — a lost
    // batch, a doubled batch, or a replay that mutated state all land
    // here
    "q469_stream_merge_exactly_once" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq,
        |       CAST(MIN(g.i) AS BIGINT) AS min_id,
        |       CAST(MAX(g.i) AS BIGINT) AS max_id,
        |       CAST(7 AS BIGINT) AS n_batches
        |FROM UNNEST(generate_series(0, 199999)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // the streamed change feed must equal the per-commit change sets:
    // batch 0 = the upsert's delete-old-en/insert-new-en/insert-zz,
    // batch 1 = the DELETE's de removals — recomputed as snapshot-state
    // EXCEPTs from documents (q474's oracle keyed by batch instead of
    // version range). A merged batch, lost commit, or misaligned
    // offset lands on the batch_id it corrupted
    "q475_stream_cdc_tail" ->
      s"""WITH ${graft.operators.CorePack.snapshotStatesCtes},
        |s3 AS (SELECT * FROM s2 WHERE lang <> 'de'),
        |ch12 AS (
        |  SELECT 'delete' AS _change_type, * FROM (SELECT * FROM s1 EXCEPT SELECT * FROM s2) a
        |  UNION ALL
        |  SELECT 'insert' AS _change_type, * FROM (SELECT * FROM s2 EXCEPT SELECT * FROM s1) b),
        |ch23 AS (
        |  SELECT 'delete' AS _change_type, * FROM (SELECT * FROM s2 EXCEPT SELECT * FROM s3) a
        |  UNION ALL
        |  SELECT 'insert' AS _change_type, * FROM (SELECT * FROM s3 EXCEPT SELECT * FROM s2) b)
        |SELECT CAST(batch_id AS INT) AS batch_id, _change_type, lang, source,
        |       n_docs, sum_chars, text_cksum
        |FROM (
        |  SELECT 0 AS batch_id, * FROM ch12
        |  UNION ALL SELECT 1 AS batch_id, * FROM ch23
        |) t ORDER BY batch_id, _change_type, lang, source""".stripMargin,

    // the final MV recomputed from documents: the per-lang rollup of
    // the upstream's final state (en upserted, zz inserted, de deleted)
    // — a missed delta, double-applied batch, or zero-row residue (de
    // must be ABSENT, not zero) lands on the lang it corrupted
    "q478_stream_incremental_mv" ->
      s"""WITH ${graft.operators.CorePack.snapshotStatesCtes}
        |SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |       CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(text_cksum) AS BIGINT) AS cksum
        |FROM s2 WHERE lang <> 'de'
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // the 7 micro-batches must reassemble the full generator exactly —
    // the group-by recomputed row-by-row from generate_series
    "q438_stream_dsv2_source" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq,
        |       CAST(MIN(g.i) AS BIGINT) AS min_id,
        |       CAST(MAX(g.i) AS BIGINT) AS max_id
        |FROM UNNEST(generate_series(0, 199999)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // stream ≡ batch: both sides recomputed from documents with the
    // per-doc is_delta flag — q330's exact-integer KS formulation over
    // the pooled length grid, base vs the streamed delta
    "q435_stream_ks_drift" ->
      """WITH cnt AS (
        |  SELECT doc_id % 10 = 7 AS is_delta, n_chars,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT n_chars FROM cnt),
        |sides AS (
        |  SELECT g.n_chars, COALESCE(b.c, 0) AS cb, COALESCE(dd.c, 0) AS cd
        |  FROM grid g
        |  LEFT JOIN cnt b ON NOT b.is_delta AND b.n_chars = g.n_chars
        |  LEFT JOIN cnt dd ON dd.is_delta AND dd.n_chars = g.n_chars),
        |tot AS (SELECT CAST(SUM(cb) AS BIGINT) AS n_base,
        |               CAST(SUM(cd) AS BIGINT) AS n_delta FROM sides),
        |cum AS (
        |  SELECT n_chars,
        |         CAST(SUM(cb) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b,
        |         CAST(SUM(cd) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_d
        |  FROM sides),
        |dm AS (SELECT CAST(MAX(ABS(cum_d * t.n_base - cum_b * t.n_delta)) AS BIGINT) AS dmax
        |       FROM cum, tot t)
        |SELECT t.n_base, t.n_delta,
        |       CAST(dmax * 1000000 // (t.n_base * t.n_delta) AS BIGINT) AS d_ppm,
        |       CAST(floor(1358000.0 * sqrt(CAST(t.n_base + t.n_delta AS DOUBLE)
        |            / CAST(t.n_base * t.n_delta AS DOUBLE))) AS BIGINT) AS crit_ppm,
        |       dmax * 1000000 // (t.n_base * t.n_delta) >
        |         CAST(floor(1358000.0 * sqrt(CAST(t.n_base + t.n_delta AS DOUBLE)
        |              / CAST(t.n_base * t.n_delta AS DOUBLE))) AS BIGINT) AS reject
        |FROM dm, tot t
        |ORDER BY n_base""".stripMargin,

    // stream ≡ batch: the q423 base-training replay truncated at the
    // delta argmax — the stateless streaming HOF assignment must land
    // on the batch cell (and exact cosine) per delta vector
    "q425_stream_ivf_assign" ->
      graft.operators.SimilarityPack.streamIvfAssignOracle,

    // stream ≡ batch: q399's oracle verbatim — the per-band state-store
    // frontiers plus the exclusiveMax merge must land on the batch
    // skyline exactly
    "q410_stream_skyline" ->
      graft.operators.RelationalPack4.oracle("q399_skyline"),

    // stream ≡ batch: q384's oracle verbatim — linear per-day counts in
    // the StateStore plus the bounded Wald tail must land on the batch
    // SPRT answer exactly
    "q386_stream_sprt" -> graft.operators.AnalyticsPack.sprtSql(
      "epoch_us(CAST(ts AS TIMESTAMP))",
      "CAST('0x' || substring(md5('sprt:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"),

    // stream ≡ batch: q199's oracle verbatim — the streamed StateStore
    // aggregate plus bounded tail must land on the batch CUSUM answer
    "q332_stream_cusum" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS n_hours FROM hourly GROUP BY 1),
        |cum AS (SELECT h.event_type, h.hr, t.n_hours, t.total,
        |               sum(h.c) OVER (PARTITION BY h.event_type ORDER BY h.hr
        |                              ROWS UNBOUNDED PRECEDING) AS cumc,
        |               row_number() OVER (PARTITION BY h.event_type ORDER BY h.hr) AS k
        |        FROM hourly h JOIN tot t USING (event_type)),
        |sk AS (SELECT event_type, hr, n_hours, total,
        |              n_hours * cumc - k * total AS s_k
        |       FROM cum WHERE k < n_hours),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                                    ORDER BY abs(s_k) DESC, hr) AS rn
        |       FROM sk)
        |SELECT event_type, CAST(hr AS BIGINT) AS change_hr,
        |       CAST(abs(s_k) AS BIGINT) AS cusum_abs, n_hours, total
        |FROM rk WHERE rn = 1
        |ORDER BY event_type""".stripMargin,

    // stream ≡ batch: the chained-min funnel definition (inclusive time
    // rule, 24 h per-step conversion window) — each stage's time is the
    // min matching event within [t_prev, t_prev + 24 h]
    "q303_stream_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t FROM ev WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.us) AS t FROM ev e JOIN t1 ON t1.user_id = e.user_id
        |       WHERE e.event_type = 'view' AND e.us >= t1.t AND e.us <= t1.t + 86400000000 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.us) AS t FROM ev e JOIN t2 ON t2.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.us >= t2.t AND e.us <= t2.t + 86400000000 GROUP BY 1),
        |t4 AS (SELECT e.user_id, min(e.us) AS t FROM ev e JOIN t3 ON t3.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.us >= t3.t AND e.us <= t3.t + 86400000000 GROUP BY 1),
        |st AS (
        |  SELECT t1.user_id,
        |         CASE WHEN t4.t IS NOT NULL THEN 4 WHEN t3.t IS NOT NULL THEN 3
        |              WHEN t2.t IS NOT NULL THEN 2 ELSE 1 END AS stage
        |  FROM t1 LEFT JOIN t2 ON t2.user_id = t1.user_id
        |          LEFT JOIN t3 ON t3.user_id = t1.user_id
        |          LEFT JOIN t4 ON t4.user_id = t1.user_id)
        |SELECT CAST(stage AS INT) AS stage, CAST(count(*) AS BIGINT) AS n_users
        |FROM st GROUP BY stage
        |ORDER BY stage""".stripMargin,

    // stream ≡ batch on the bounded calendar grid: q278's oracle minus
    // the distinct-user column (see streamHeatmap scaladoc)
    "q290_stream_heatmap" ->
      """SELECT CAST(dayofweek(ts) AS INT) AS dow,
        |       CAST(hour(ts) AS INT) AS hod,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY dow, hod""".stripMargin,

    // stream ≡ batch: q251's oracle verbatim (the stream-static probe
    // over the finite delta stream must reproduce the batch pass)
    "q259_stream_para_bloom" -> graft.operators.DedupPack.paraBloomOracleSql,

    // linear register max-merge: stream ≡ batch; the q149/q153 md5/rho
    // register replay, per event type
    "q238_stream_hll" ->
      """WITH vals AS (
        |  SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS key FROM events),
        |hashed AS (
        |  SELECT DISTINCT grp, CAST('0x' || substring(md5(key), 1, 15) AS BIGINT) AS h
        |  FROM vals),
        |rhos AS (
        |  SELECT grp, h % 256 AS idx,
        |         CASE WHEN (h >> 8) = 0 THEN 53
        |              ELSE 53 - length(bin(h >> 8)) END AS rho
        |  FROM hashed),
        |grps AS (SELECT DISTINCT grp FROM vals),
        |idxs AS (SELECT unnest(generate_series(0, 255)) AS idx)
        |SELECT g.grp, CAST(i.idx AS BIGINT) AS idx,
        |       CAST(COALESCE(MAX(r.rho), 0) AS BIGINT) AS reg
        |FROM grps g CROSS JOIN idxs i
        |LEFT JOIN rhos r ON r.grp = g.grp AND r.idx = i.idx
        |GROUP BY g.grp, i.idx
        |ORDER BY g.grp, i.idx""".stripMargin,

    // linear sums: stream ≡ batch; q226's per-source slice (no ROLLUP
    // row, no even/odd split — those stay on the batch side)
    "q229_stream_checksum" ->
      """WITH docs AS (
        |  SELECT source,
        |         CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |              % 1152921504606846976 AS BIGINT) AS checksum
        |FROM docs GROUP BY source
        |ORDER BY source""".stripMargin,

    // batch islands sessionization with the same strict-gap rule: a new
    // session starts when the inter-event gap is >= 30 min
    "q195_stream_session_window" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |o AS (
        |  SELECT user_id, us,
        |         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |                OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM ev),
        |g AS (
        |  SELECT user_id, us,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT CAST(make_timestamp(min(us)) AS TIMESTAMP) AS s_start,
        |       CAST(make_timestamp(max(us) + 1800000000) AS TIMESTAMP) AS s_end,
        |       user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM g
        |GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,

    // q101's candidate construction restricted to delta-base pairs (the
    // streaming path's exact coverage); thresholds identical
    "q139_stream_neardup" -> {
      import graft.operators.DedupPack.{minhashCtes, minhashScoredCte, deltaMod, deltaRem}
      s"""WITH $minhashCtes
         |cand AS (SELECT least(a.doc_id, b.doc_id) AS doc_i,
         |                greatest(a.doc_id, b.doc_id) AS doc_j
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.band_val = b.band_val
         |          AND a.doc_id % $deltaMod = $deltaRem
         |          AND b.doc_id % $deltaMod <> $deltaRem
         |          AND (a.band_id = 0 OR a.b0 <> b.b0)),
         |$minhashScoredCte
         |SELECT doc_i, doc_j, est_matches, n_common, jaccard
         |FROM scored
         |WHERE est_matches >= 12 AND jaccard >= 0.9
         |ORDER BY doc_i, doc_j""".stripMargin
    },

    // the streamed sketch must equal the batch sketch (linear merge), so
    // the oracle is q104's verbatim
    "q106_stream_countmin" ->
      graft.operators.TextPack.oracle("q104_countmin_freq"),

    // exact-regime streamed sketch == exact top-k == q69's oracle
    "q165_stream_topk_sketch" ->
      graft.operators.TextPack.oracle("q69_top_tokens_sketch"),

    // exact-regime sketch: stream ≡ batch, the q201 oracle verbatim
    "q204_stream_quantiles" ->
      graft.operators.TextPack.oracle("q201_quantile_sketch"),

    // cross-batch last-event state carry ≡ the batch lead() pairs under
    // ordered replay: the q203 oracle verbatim
    "q213_stream_markov" ->
      graft.operators.EventsPack.oracle("q203_markov_transitions"),

    "q33_stream_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin,

    "q77_stream_enrich" ->
      """SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS w_start,
        |  c.c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(e.value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_q
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1, 2
        |ORDER BY w_start, c_nationkey""".stripMargin,

    "q39_stream_dedup_dau" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |FROM events
        |GROUP BY 1
        |ORDER BY day""".stripMargin,

    // batch sessionization (q32's CTEs) restricted to the same
    // safely-closed horizon the streaming side applies: gap (1 800 000 000
    // us) + 2 s margin
    "q95_stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts, us,
        |         SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, min(us) AS start_us, max(us) AS end_us,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM sessions GROUP BY user_id, session_seq),
        |mx AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us FROM events)
        |SELECT user_id, start_us, end_us, n_events
        |FROM agg, mx
        |WHERE end_us + 1802000000 < max_us
        |ORDER BY user_id, start_us""".stripMargin,

    "q98_stream_interval_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (SELECT user_id, event_id AS s_id, ts AS sts FROM ev WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS p_id, ts AS pts FROM ev WHERE event_type = 'purchase')
        |SELECT s.s_id, p.p_id, s.user_id AS user_id
        |FROM s JOIN p
        |  ON s.user_id = p.user_id AND p.pts >= s.sts AND p.pts <= s.sts + INTERVAL 7 DAY
        |ORDER BY s_id, p_id""".stripMargin
  )
}
