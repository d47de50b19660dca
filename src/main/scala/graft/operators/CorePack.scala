package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.functions.TextFunctions.hex64

/** Reference-parity queries: word count both as the declarative DataFrame
  * pipeline and through the generic MapReduce facade (two independent
  * implementations, one oracle — they must agree).
  */
object CorePack extends QueryPack {

  private val wcOracle =
    """SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
      |FROM (SELECT unnest(string_split_regex(regexp_replace(text, '[^\w\s]', '', 'g'), '\s+')) AS w
      |      FROM documents)
      |WHERE w <> ''
      |GROUP BY w
      |ORDER BY word""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q00_wordcount" -> ((s, dir) => WordCount.documentsWordCount(s, dir)),

    // Same computation driven through the generic MapReduce facade
    // (flatMap → shuffle → mapGroups), i.e. the reference's programming
    // model verbatim. Result cast to the same schema as q00.
    "q01_mapreduce_wc" -> { (s, dir) =>
      import s.implicits._
      val lines = Tables.documents(s, dir).select("text").as[String]
      MapReduceJob.run(s, lines,
        MapReduceJob.wordCountMap,
        MapReduceJob.wordCountReduce,
        numPartitions = s.sessionState.conf.numShufflePartitions)
        .toDF("word", "cnt_s")
        .select(col("word"), col("cnt_s").cast("bigint").as("cnt"))
        .orderBy("word")
    },

    // The non-ASCII lane of the gate, closing QueryPack's documented
    // ASCII-corpus assumption with a driver-visible query: the SAME
    // production tokenizer (the native kernel behind
    // `TextFunctions.tokens`: O3 `(?U)[^\w\s]` strip + O4 whitespace
    // split in one pass, the reference-fidelity path) runs over a
    // deterministically accented copy of the corpus — `translate` maps
    // a/e/o/u to à/é/ö/ü (letters that must SURVIVE the punctuation
    // strip, reference src/app/wc.rs:7-8 Unicode `\w`) and ' to ’
    // (multibyte punctuation that must be DELETED, the gut corpus's
    // ~7,000 curly apostrophes). The oracle
    // can't use RE2's ASCII `\w`; it mirrors with explicit Unicode
    // classes `[^\p{L}\p{N}_\s]` — equivalent to Java's `(?U)\w` on any
    // corpus free of combining marks and exotic numerics (true here by
    // construction: the injected alphabet is 4 precomposed BMP letters).
    // Result ordering is engine-portable because UTF-16 code-unit order
    // (Spark) equals UTF-8 byte order (DuckDB) for BMP code points.
    "q100_unicode_wordcount" -> { (s, dir) =>
      val accented = Tables.documents(s, dir)
        .select(translate(col("text"), "aeou'", "àéöü’").as("t2"))
      WordCount.over(accented, "t2")
    },

    // O11 text sink, registered as its own gated operator: the wordcount
    // result is written as per-partition tab-separated text part-files
    // (the reference's mr-out-* shape, reference src/bin/mrworker.rs) and
    // re-scanned; the re-parsed rows ARE the query result, so the gate
    // proves the sink round-trip is lossless. Previously test-only
    // (SourcesSpec); the write is per-partition parallel — the same
    // fan-out a 1000-executor job uses.
    "q02_text_sink_roundtrip" -> { (s, dir) =>
      // per-run sink path (shutdown-hook-cleaned, concurrent-run-safe —
      // see [[graft.core.Artifacts.perRunSinkPath]])
      val out = graft.core.Artifacts.perRunSinkPath(s,
        s"text_sink_${graft.core.Artifacts.corpusKey(dir, "documents.parquet")}")
      WordCount.documentsWordCount(s, dir)
        .select(concat_ws("\t", col("word"), col("cnt")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .select(split(col("value"), "\t").as("kv"))
        .select(col("kv").getItem(0).as("word"),
                col("kv").getItem(1).cast("bigint").as("cnt"))
        .orderBy("word")
    },

    // ---- SCHEMA-EVOLUTION READ (mergeSchema): two deterministic
    // parquet batches with DIFFERENT schemas — v1 carries
    // (o_orderkey, price_cents) for even orderkeys, v2 carries
    // (o_orderkey, o_orderpriority) for odd — land in one dataset dir,
    // and a mergeSchema scan reads the union schema with absent
    // columns as NULL: the append-only ingest reality of a long-lived
    // 100 TB dataset whose producers add fields over time. The gated
    // aggregate proves the union row count, per-column presence, and
    // the surviving values against the ORIGINAL table. Fixed per-corpus
    // path, overwritten per run (the q02 sink discipline). ----
    "q240_schema_merge" -> { (s, dir) =>
      // per-run sink path — two runs sharing one fixed path could
      // interleave one run's two-batch overwrite with the other's
      // mergeSchema scan ([[graft.core.Artifacts.perRunSinkPath]])
      val out = graft.core.Artifacts.perRunSinkPath(s,
        s"schema_merge_${graft.core.Artifacts.corpusKey(dir, "orders.parquet")}")
      val orders = Tables.orders(s, dir)
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"),
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("price_cents"))
        .write.mode("overwrite").parquet(s"$out/batch=v1")
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$out/batch=v2")
      s.read.option("mergeSchema", "true").parquet(out)
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(when(col("price_cents").isNotNull, 1L).otherwise(0L))
            .cast("bigint").as("n_with_price"),
          sum(when(col("o_orderpriority").isNotNull, 1L).otherwise(0L))
            .cast("bigint").as("n_with_priority"),
          coalesce(sum(col("price_cents")), lit(0L))
            .cast("bigint").as("sum_price_cents"))
    },

    // ---- CSV sink+source round-trip: the documents table written as
    // quoted CSV (header, default quoting — the free-text column is the
    // stress case) and read back under an explicit schema; the gated
    // aggregate carries a per-language md5-derived text CHECKSUM, so any
    // quoting/escape corruption in either direction hash-fails against
    // the oracle computed on the ORIGINAL parquet. The checksum term is
    // mod 1e9+7 before summing — 60-bit ids summed raw would overflow
    // int64 under ANSI. ----
    // The synthetic corpus is delimiter-free, so the lane injects them
    // (q100's pattern): a/e become quote/comma BEFORE the write, and the
    // oracle digests the same translated text — the quoting machinery is
    // actually exercised. (Embedded newlines are excluded by design:
    // multiLine CSV parsing makes files unsplittable, the one CSV shape
    // a 100 TB scan should refuse.)
    "q135_csv_roundtrip" -> { (s, dir) =>
      val path = graft.core.Artifacts.materialize(
        s"docs_csv_v2_${graft.core.Artifacts.corpusKey(dir, "documents.parquet")}") { tmp =>
        Tables.documents(s, dir)
          .withColumn("text", translate(col("text"), "ae", "\","))
          .write.option("header", "true").mode("overwrite").csv(tmp)
      }
      val back = s.read.option("header", "true")
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .csv(path)
      roundTripDigest(back)
    },

    // ---- JSON-lines sink+source round-trip: the same fidelity gate
    // through the jsonl layout every LLM corpus interchange uses. Here
    // the injected stress is quote/backslash (the JSON escape pair). ----
    "q136_jsonl_roundtrip" -> { (s, dir) =>
      val path = graft.core.Artifacts.materialize(
        s"docs_jsonl_v2_${graft.core.Artifacts.corpusKey(dir, "documents.parquet")}") { tmp =>
        Tables.documents(s, dir)
          .withColumn("text", translate(col("text"), "ae", "\"\\"))
          .write.mode("overwrite").json(tmp)
      }
      val back = s.read
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .json(path)
      roundTripDigest(back)
    },

    // ---- ORC sink+source round-trip: the columnar alternative format
    // (no delimiter stress — ORC is binary; the gate covers the format
    // path itself: writer, reader, schema, compression). ----
    "q140_orc_roundtrip" -> { (s, dir) =>
      val path = graft.core.Artifacts.materialize(
        s"docs_orc_v1_${graft.core.Artifacts.corpusKey(dir, "documents.parquet")}") { tmp =>
        Tables.documents(s, dir).write.mode("overwrite").orc(tmp)
      }
      roundTripDigest(s.read.orc(path))
    },

    // ---- FILE-METADATA SOURCE AUDIT: the `_metadata` hidden struct
    // and `input_file_name()` — the one SURVEY §1.2 Spark source
    // surface with no registry gate until now (r9 VERDICT demand #4).
    // Per table, group rows by the REAL `_metadata.file_name` the scan
    // attaches and count them; `path_consistent` bool_and-asserts that
    // `input_file_name()`'s path ends with that name on EVERY row (two
    // independent metadata surfaces must agree). The oracle can't
    // reach filenames through its view registry, so it states the
    // expected single-file layout (`<table>.parquet`) as literals with
    // the view's own count — if Spark's metadata column returned
    // anything else the name or count hash-fails. This per-file
    // group-count is exactly the lineage audit a 100 TB ingest runs
    // (per-file row counts vs a manifest); at a multi-file root the
    // same plan fans out to one row per file with no change. ----
    "q421_file_audit" -> { (s, dir) =>
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      tables.map { n =>
        // events ships TIMESTAMP(NANOS) in some corpus generations — its
        // loader owns the legacy-conf toggle (no session mutation here)
        (if (n == "events") Tables.eventsRawNanos(s, dir)
         else Tables.table(s, dir, n))
          .select(col("_metadata.file_name").as("file_name"),
            input_file_name().as("path"))
          .groupBy("file_name")
          .agg(count(lit(1)).as("n_rows"),
            bool_and(expr("endswith(path, file_name)")).as("path_consistent"))
          .select(lit(n).as("table_name"), col("file_name"),
            col("n_rows").cast("bigint").as("n_rows"), col("path_consistent"))
      }.reduce(_ unionByName _).orderBy("table_name", "file_name")
    },

    // ---- DATASOURCE V2 CONNECTOR (r10 VERDICT follow-on #6): read the
    // custom `graft-range` TableProvider ([[graft.sources
    // .GraftRangeSource]]) by its registered short name and aggregate
    // over its generated rows. Two plan REQUIREs pin the V2 contract
    // before anything executes: the physical plan must scan through a
    // `BatchScanExec` (the V2 read path — not a fallback), and the
    // scan's readSchema must be PRUNED to exactly the two referenced
    // columns (the connector's SupportsPushDownRequiredColumns doing
    // its job — a connector that reads all columns for a 2-column
    // aggregate is wrong at any scale). The oracle replays the
    // generator as generate_series. ----
    "q432_dsv2_range" -> { (s, _) =>
      val df = s.read.format("graft-range")
        .option("n", "100000").option("slices", "8").load()
        .select(col("bucket"), col("sq"))
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.nonEmpty,
        s"graft-range read lost the V2 BatchScan node:\n${df.queryExecution.executedPlan}")
      require(scans.head.scan.readSchema().fieldNames.toSet == Set("bucket", "sq"),
        s"graft-range scan not column-pruned: ${scans.head.scan.readSchema()}")
      df.groupBy("bucket")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum("sq").cast("bigint").as("sum_sq"))
        .select(col("bucket").cast("int").as("bucket"), col("n"), col("sum_sq"))
        .orderBy("bucket")
    },

    // ---- DATASOURCE V2 FILTER PUSHDOWN: range predicates on `id`
    // reach the `graft-range` connector as V2 pushed filters
    // ([[graft.sources.GraftRangeScanBuilder]]'s
    // SupportsPushDownFilters) and NARROW THE GENERATED INTERVAL —
    // out of n = 10⁶ candidate rows the readers materialize exactly
    // the 100 in [900000, 900100), the connector-side skip that is
    // row-group/partition pruning in a real source. Plan REQUIREs pin
    // the narrowed interval on the Scan instance itself (lo/hi), not
    // just the plan text, before anything executes; the oracle replays
    // the surviving interval as generate_series. Spark still applies
    // the residual filter post-scan (V2 pushdown is advisory), so a
    // connector bound slip would also hash-fail on values. ----
    "q436_dsv2_pushdown" -> { (s, _) =>
      val df = s.read.format("graft-range")
        .option("n", "1000000").option("slices", "8").load()
        .filter(col("id") >= 900000L && col("id") < 900100L)
        .select(col("id"), col("sq"), col("bucket"))
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.nonEmpty,
        s"graft-range read lost the V2 BatchScan node:\n${df.queryExecution.executedPlan}")
      val scan = scans.head.scan.asInstanceOf[graft.sources.GraftRangeScan]
      require(scan.lo == 900000L && scan.hi == 900100L,
        s"id range did not reach the connector: generates [${scan.lo}, ${scan.hi})")
      df.groupBy("bucket")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum("sq").cast("bigint").as("sum_sq"),
          min("id").cast("bigint").as("min_id"),
          max("id").cast("bigint").as("max_id"))
        .select(col("bucket").cast("int").as("bucket"), col("n"),
          col("sum_sq"), col("min_id"), col("max_id"))
        .orderBy("bucket")
    },

    // ---- DATASOURCE V2 AGGREGATE PUSHDOWN: the whole GROUP BY is
    // answered by the connector ([[graft.sources.GraftRangeScanBuilder]]'s
    // SupportsPushDownAggregates) — the scan emits per-partition
    // PRE-AGGREGATED rows (bucket, count, min, max, Σid²) computed in
    // closed form, so out of n = 10⁶ candidate rows NOTHING row-shaped
    // crosses the scan boundary: Spark's final agg merges slices × 16
    // partials (partial pushdown, the real-source shape where readers
    // answer from row-group statistics). The REQUIRE pins the pushed
    // scan INSTANCE (grouping + the four accepted functions) on the
    // optimized plan's V2 relation; the oracle recomputes the group-by
    // from generate_series, so a partial-merge slip also hash-fails. ----
    "q437_dsv2_agg_pushdown" -> { (s, _) =>
      val df = s.read.format("graft-range")
        .option("n", "1000000").option("slices", "8").load()
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("id").as("min_id"),
          max("id").as("max_id"), sum("sq").as("sum_sq"))
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
      require(scans.nonEmpty,
        s"graft-range read lost the V2 scan relation:\n${df.queryExecution.optimizedPlan}")
      val scan = scans.head match {
        case a: graft.sources.GraftRangeAggScan => a
        case other => sys.error(s"aggregation was NOT pushed to the connector: $other")
      }
      require(scan.grouped && scan.funcs == Seq("count", "min_id", "max_id", "sum_sq"),
        s"pushed aggregation shape mismatch: grouped=${scan.grouped} funcs=${scan.funcs}")
      df.select(col("bucket").cast("int").as("bucket"),
          col("n").cast("bigint").as("n"),
          col("min_id").cast("bigint").as("min_id"),
          col("max_id").cast("bigint").as("max_id"),
          col("sum_sq").cast("bigint").as("sum_sq"))
        .orderBy("bucket")
    },

    // ---- OBSERVED METRICS (Dataset.observe + CollectMetrics): the
    // pipeline-observability surface — row counts / control totals ride
    // the SAME pass as the main computation (here a per-flag group-by),
    // no second scan, which is how a 100 TB job self-audits without
    // doubling its read. The gate drives the main aggregate, then
    // reads the observation off the executed plan and RETURNS it; the
    // oracle recomputes the totals directly, so a metrics slip (lost
    // rows, wrong accumulator merge) hash-fails. The one driver-side
    // row here is the observation itself — bounded by construction. ----
    "q446_observe_metrics" -> { (s, dir) =>
      val observed = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,2)").as("p"))
        .observe(s"graft_q446_${obsCounter.incrementAndGet()}",
          count(lit(1)).as("n_rows"), sum(col("p")).as("sum_price"),
          min(col("l_returnflag")).as("min_flag"),
          max(col("l_returnflag")).as("max_flag"))
      val main = observed.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      main.collect() // drive the pass; the metrics ride it
      val m = main.queryExecution.observedMetrics.values.headOption
        .getOrElse(sys.error("q446: CollectMetrics produced no observation"))
      import s.implicits._
      Seq((m.getAs[Long]("n_rows"),
        m.getAs[java.math.BigDecimal]("sum_price").movePointRight(2).longValueExact(),
        m.getAs[String]("min_flag"), m.getAs[String]("max_flag")))
        .toDF("n_rows", "sum_price_cents", "min_flag", "max_flag")
    },

    // ---- DYNAMIC PARTITION OVERWRITE: the warehouse mutation
    // semantics every partitioned corpus store depends on — rewriting
    // ONE language partition must leave every other partition intact
    // (static overwrite mode would drop them all). Full write
    // partitioned by lang, then a dynamic-mode overwrite of just the
    // rewritten `en` rows (per-WRITE option, no session-conf mutation
    // — the q421 lesson), then the q140-style per-language digest of
    // the read-back: the oracle applies the same rewrite as a CASE, so
    // a clobbered or stale partition hash-fails. Build-once artifact
    // (the store mutation sequence is deterministic). ----
    "q447_dynamic_overwrite" -> { (s, dir) =>
      val path = graft.core.Artifacts.materialize(
        s"docs_dynow_v1_${graft.core.Artifacts.corpusKey(dir, "documents.parquet")}") { tmp =>
        val docs = Tables.documents(s, dir)
        docs.write.partitionBy("lang").mode("overwrite").parquet(tmp)
        docs.filter(col("lang") === "en")
          .withColumn("text", upper(col("text")))
          .write.partitionBy("lang").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(tmp)
      }
      roundTripDigest(s.read.parquet(path))
    },

    // ---- DATASOURCE V2 SINK ROUNDTRIP: the q432 connector's WRITE
    // half ([[graft.sources.GraftMemSink]]) — the per-language corpus
    // digest is written THROUGH the V2 write contract (partition-
    // parallel DataWriters, rows surfacing only at BatchWrite.commit)
    // into the `graft-mem` store, read back through its V2 Batch scan
    // (REQUIREd as a BatchScanExec, the q432 discipline), and gated
    // against the digest of the ORIGINAL table — any row lost or
    // duplicated between writer commit messages and the committed
    // store hash-fails (the q02/q140 sink-roundtrip discipline on the
    // fifth extension surface). ----
    "q434_dsv2_sink_roundtrip" -> { (s, dir) =>
      val tbl = s"digest_${dsv2SinkCounter.incrementAndGet()}_${System.identityHashCode(s)}"
      roundTripDigest(Tables.documents(s, dir))
        .write.format("graft-mem").option("table", tbl).mode("append").save()
      val back = s.read.format("graft-mem").option("table", tbl).load()
      val scans = back.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.nonEmpty,
        s"graft-mem read-back lost the V2 BatchScan node:\n${back.queryExecution.executedPlan}")
      back.orderBy("lang")
    },

    // ---- DSv2 KEYED UPSERT (MERGE-style, r11 VERDICT follow-on #6):
    // the write-side mutation surface q447 (dynamic overwrite) and q137
    // (changelog compaction) leave open — UPDATE existing keys + INSERT
    // new keys + leave every other key untouched, in ONE atomic commit.
    // Route: the [[graft.sources.GraftMemCatalog]] TableCatalog (the
    // sixth extension surface) makes the store addressable by
    // identifier, so `writeTo(t).overwrite(condition)` plans
    // `OverwriteByExpression`; the condition reaches the connector as
    // V2 delete filters ([[graft.sources.GraftMemTable]]'s
    // SupportsOverwrite = truncate-by-filter), and commit() applies
    // delete+insert atomically. Upsert = overwrite WHERE key ∈ (keys of
    // the new batch): here the per-(lang, source) corpus digest table,
    // with 'en' digests recomputed over uppercased text (the UPDATE)
    // and a synthetic ('zz', 'synthetic') row (the INSERT). REQUIREs
    // pin, from the store's own commit JOURNAL: exactly one overwrite
    // commit, carrying the In(lang, ...) delete filter, deleting
    // exactly the old 'en' rows and inserting exactly the delta — so
    // insert+update+untouched-in-one-commit is proven from history, not
    // assumed. The oracle recomputes the post-upsert state directly
    // from documents (CASE + UNION), so a clobbered or stale key
    // hash-fails. ----
    "q450_dsv2_upsert" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graftmem",
        classOf[graft.sources.GraftMemCatalog].getName)
      val tbl = s"upsert_${dsv2SinkCounter.incrementAndGet()}_${System.identityHashCode(s)}"
      docDigest(Tables.documents(s, dir))
        .write.format("graft-mem").option("table", tbl).mode("append").save()
      val nEnBefore = graft.sources.GraftMemStore.rowsOf(tbl).count { r =>
        r.getUTF8String(0).toString == "en"
      }
      import s.implicits._
      val delta = docDigest(Tables.documents(s, dir).filter(col("lang") === "en")
          .withColumn("text", upper(col("text"))))
        .unionByName(Seq(("zz", "synthetic", 1L, 42L, 7L))
          .toDF("lang", "source", "n_docs", "sum_chars", "text_cksum"))
      val nDelta = delta.count()
      delta.writeTo(s"graftmem.$tbl").overwrite(col("lang").isin("en", "zz"))
      val commits = graft.sources.GraftMemStore.commitsOf(tbl)
      require(commits.map(_.kind) == List("append", "overwrite"),
        s"q450: expected one append + ONE overwrite commit, got $commits")
      val ow = commits.last
      require(ow.filters.contains("In(lang"),
        s"q450: delete condition did not reach the connector as a filter: '${ow.filters}'")
      require(ow.deleted == nEnBefore && ow.inserted == nDelta,
        s"q450: upsert moved deleted=${ow.deleted} (want $nEnBefore) " +
          s"inserted=${ow.inserted} (want $nDelta)")
      s.read.format("graft-mem").option("table", tbl).load()
        .orderBy("lang", "source")
    },

    // ---- DSv2 RUNTIME FILTERING (dynamic pruning): the EXECUTION-time
    // skip that static pushdown (q436) can't give — the scan feeds a
    // join against a tiny selectively-filtered dimension, and Spark's
    // dynamic-pruning rule delivers the build side's distinct join keys
    // to the connector's SupportsRuntimeFiltering AT RUNTIME, so the
    // readers generate ONLY the 64 surviving ids out of n = 10⁶ (this
    // is dynamic partition pruning for V2 sources — the mechanism an
    // Iceberg scan uses to drop files at execution). AQE is off for
    // this one query (set/restored) so the planned scan INSTANCE is
    // reachable and the REQUIRE can pin, post-execution, that the
    // runtime set arrived and was exactly the 64 dim keys; the oracle
    // replays the join as a literal id list, so a key dropped inside
    // the pushed set (the only way advisory filtering could corrupt)
    // hash-fails. ----
    "q454_dsv2_runtime_filter" -> { (s, _) =>
      val aqeKey = "spark.sql.adaptive.enabled"
      val prevAqe = s.conf.get(aqeKey)
      s.conf.set(aqeKey, "false")
      try {
        // the dim side must KEEP a selective Filter node for the
        // dynamic-pruning rule to see (a local Seq would be
        // constant-folded into a bare LocalRelation by
        // ConvertToLocalRelation, erasing the predicate) — so it is a
        // Range source with the selection as a real filter
        val dim = s.range(0, 128).filter(col("id") < 64)
          .select((col("id") * lit(13441L) + lit(77L)).as("did"))
        val fact = s.read.format("graft-range")
          .option("n", "1000000").option("slices", "8").load()
        val agg = fact.join(dim, col("id") === col("did"))
          .groupBy("bucket")
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum("sq").cast("bigint").as("sum_sq"),
            min("id").cast("bigint").as("min_id"),
            max("id").cast("bigint").as("max_id"))
          .select(col("bucket").cast("int").as("bucket"), col("n"),
            col("sum_sq"), col("min_id"), col("max_id"))
          .orderBy("bucket")
        val rows = agg.collect() // drive execution so the runtime filter fires
        val scans = agg.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
        require(scans.nonEmpty,
          s"q454: lost the V2 BatchScan node:\n${agg.queryExecution.executedPlan}")
        val sc = scans.head.scan.asInstanceOf[graft.sources.GraftRangeScan]
        require(sc.runtimeSet.exists(_.length == CorePack.q454DimIds.size),
          s"q454: runtime filter did not reach the connector " +
            s"(got ${sc.runtimeSet.map(_.length)}, want ${CorePack.q454DimIds.size})")
        // the REQUIREs needed the executed plan, so the result is already
        // collected (16 bucket rows, bounded by construction) — hand the
        // harness a local relation instead of re-executing the join
        s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
      } finally s.conf.set(aqeKey, prevAqe)
    },

    // ---- DSv2 STORAGE-PARTITIONED JOIN (SPJ, SPARK-37377): the
    // connector-world analogue of the q09/q131 exchange-free bucketed
    // joins — both graft-range scans read in `clusterByBucket` mode,
    // reporting KeyGroupedPartitioning(identity(bucket), 16) with one
    // HasPartitionKey partition per bucket, and with
    // spark.sql.sources.v2.bucketing.enabled the per-bucket aggregate
    // AND the bucket equi-join between the two sides plan with ZERO
    // shuffle exchanges: this is how Iceberg/Delta bucket-partitioned
    // tables join at 100 TB without shuffling either side. AQE and
    // broadcast are off for the query (set/restored) so the static
    // plan is REQUIRE-able; REQUIREs pin (a) both scans are the
    // clustered scan instance, (b) a shuffled join node exists, and
    // (c) NO ShuffleExchange anywhere under it — aggregate and join
    // both rode the storage partitioning. The oracle recomputes both
    // per-bucket digests from generate_series and joins them, so a
    // bucket-partition slip (id in the wrong keyed partition) also
    // hash-fails. Output is collected inside the conf scope (16 rows,
    // bounded) and returned as a local relation — the q454 discipline. ----
    "q460_dsv2_spj" -> { (s, _) =>
      val keys = Seq("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        def side(n: Long, p: String) = s.read.format("graft-range")
          .option("n", n.toString).option("slices", "8")
          .option("clusterByBucket", "true").load()
          .groupBy("bucket")
          .agg(count(lit(1)).cast("bigint").as(s"${p}_n"),
            sum("sq").cast("bigint").as(s"${p}_sum_sq"))
        val j = side(100000L, "a").join(side(40000L, "b"), "bucket")
          .select(col("bucket").cast("int").as("bucket"),
            col("a_n"), col("a_sum_sq"), col("b_n"), col("b_sum_sq"))
          .orderBy("bucket")
        val plan = j.queryExecution.executedPlan
        val scans = plan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        }
        require(scans.length == 2 &&
            scans.forall(_.isInstanceOf[graft.sources.GraftRangeClusteredScan]),
          s"q460: expected two clustered V2 scans, got $scans")
        val join = plan.collectFirst {
          case n: org.apache.spark.sql.execution.joins.SortMergeJoinExec => n
          case n: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => n
        }.getOrElse(sys.error(s"q460: no shuffled join node in plan:\n$plan"))
        val exchanges = join.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        require(exchanges.isEmpty,
          s"q460: storage-partitioned join did not engage — " +
            s"${exchanges.length} exchange(s) under the join:\n$plan")
        if (graft.core.QueryPack.planDumpMode) j // queryExecution already built
        else {
          val rows = j.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
        }
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    },

    // ---- DSv2 COMPOSED SCAN CAPABILITIES (r13 VERDICT #1): a real
    // lakehouse connector (Iceberg/Delta) serves storage-partitioned
    // joins AND runtime filters on the SAME table scan — q460/q454
    // each prove one in isolation; this gate proves the composition on
    // one scan INSTANCE, with the SPJ join itself firing the runtime
    // filter. Two clustered graft-range scans (10⁶ ids each,
    // KeyGroupedPartitioning over bucket) join on (bucket, id) — join
    // keys ⊇ partition keys, the standard lakehouse PK-join shape — so
    // the join plans exchange-free on the storage partitioning. Side B
    // carries a selective RESIDUAL filter (`sq < 4096`, deliberately
    // not id-pushable, surviving as a Filter node → 64 rows), and with
    // reuseBroadcastOnly=false Spark's dynamic-pruning rule plans its
    // own subquery over side B's distinct ids and delivers them to
    // side A's SupportsRuntimeFiltering AT RUNTIME: side A generates
    // ONLY the 64 surviving ids out of 10⁶, while all 16 bucket
    // partitions stay planned (the KeyGrouped runtime-filter contract:
    // identical partition-value set, so the storage partitioning
    // survives the narrowing) — an Iceberg scan dropping files at
    // execution time INSIDE an exchange-free bucket join. The
    // per-bucket aggregate above the join rides the same partitioning.
    // REQUIREs pin (a) both clustered scan instances, (b) a shuffled
    // join with ZERO ShuffleExchange under it, (c) no hash-partition
    // exchange ANYWHERE (the only allowed shuffle is the output sort's
    // range partitioning — join and aggregate both rode the storage
    // partitioning), and (d) post-execution, exactly one scan received
    // exactly the 64 runtime ids. AQE and broadcast off (set/restored)
    // so the static plan is REQUIRE-able and the join cannot degrade
    // to broadcast. Oracle replays the surviving ids 0..63 (sq < 4096
    // ⇔ id < 64) from generate_series. Output collected inside the
    // conf scope (16 rows) — the q454 discipline. ----
    "q468_dsv2_composed_scan" -> { (s, _) =>
      val keys = Seq("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
        // join keys (bucket, id) ⊋ partition keys (bucket): the
        // co-partition check must accept the subset match — the same
        // conf Iceberg documents for its storage-partitioned joins
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
      val prev = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        def clusteredScan(n: Long) = s.read.format("graft-range")
          .option("n", n.toString).option("slices", "8")
          .option("clusterByBucket", "true").load()
        val a = clusteredScan(1000000L).alias("a")
        // sq is NOT an accepted pushdown column, so the selective
        // predicate survives as the Filter node dynamic pruning needs;
        // the smaller side keeps the pruning-benefit estimate positive
        // (filtering-plan cost ≪ half the pruned scan's reported size)
        val b = clusteredScan(65536L).filter(col("sq") < 4096L).alias("b")
        val j = a.join(b,
            col("a.bucket") === col("b.bucket") && col("a.id") === col("b.id"))
          .groupBy(col("a.bucket"))
          .agg(count(lit(1)).as("n"), sum(col("a.sq")).as("sum_sq"),
            min(col("a.id")).as("min_id"), max(col("b.id")).as("max_id"))
          .select(col("bucket").cast("int").as("bucket"),
            col("n").cast("bigint").as("n"),
            col("sum_sq").cast("bigint").as("sum_sq"),
            col("min_id").cast("bigint").as("min_id"),
            col("max_id").cast("bigint").as("max_id"))
          .orderBy("bucket")
        val plan = j.queryExecution.executedPlan
        val clustered = plan.collect {
          case x: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            x.scan
        }.collect { case c: graft.sources.GraftRangeClusteredScan => c }
        require(clustered.length == 2,
          s"q468: expected two clustered V2 scans, got plan:\n$plan")
        val join = plan.collectFirst {
          case n: org.apache.spark.sql.execution.joins.SortMergeJoinExec => n
          case n: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => n
        }.getOrElse(sys.error(s"q468: no shuffled join node in plan:\n$plan"))
        val underJoin = join.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        val hashExchanges = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
        }
        require(underJoin.isEmpty && hashExchanges.isEmpty,
          s"q468: storage-partitioned join did not engage — " +
            s"${underJoin.length} exchange(s) under the join, " +
            s"${hashExchanges.length} non-sort exchange(s) in plan:\n$plan")
        if (graft.core.QueryPack.planDumpMode) j
        else {
          val rows = j.collect() // drive execution so the runtime filter fires
          val filtered = clustered.flatMap(_.runtimeSet.map(_.length))
          require(filtered == Seq(64),
            s"q468: runtime filter did not reach exactly one clustered " +
              s"scan with the 64 surviving ids (got $filtered)")
          s.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
        }
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    },

    // ---- DSv2 CLUSTERED AGGREGATE PUSHDOWN (q468's third
    // capability, gated separately because the compositions pin
    // different plan shapes): with `clusterAgg=true` the SAME
    // clustered scan builder that reports KeyGroupedPartitioning also
    // accepts a pushed range FILTER (narrowing the generated interval)
    // and a pushed GROUP BY bucket AGGREGATE — one closed-form partial
    // row per bucket partition, nothing row-shaped crossing the scan
    // boundary out of 10⁶ candidate ids. REQUIREs pin all three static
    // capabilities on ONE scan instance: the clustered agg scan class
    // (agg pushed + partitioning reported), the filter-narrowed bounds
    // (lo/hi), and the pushed function list. Honest engine limitation,
    // documented: Spark's pushed-agg rewrite renames the group column
    // (`bucket AS group_col_0`), and KeyGroupedPartitioning is not an
    // Expression so the rename Project cannot alias-project it — the
    // final merge therefore shuffles the ≤16×16 partial rows (bounded
    // by buckets × partitions, NOT by n; at 100 TB the scan boundary
    // has already done all the work). Oracle replays the narrowed
    // interval's group-by from generate_series, so a closed-form
    // partial slip or a lost bucket hash-fails. ----
    "q471_dsv2_clustered_agg_pushdown" -> { (s, _) =>
      val df = s.read.format("graft-range")
        .option("n", "1000000").option("slices", "8")
        .option("clusterByBucket", "true").option("clusterAgg", "true")
        .load()
        .filter(col("id") >= 200000L && col("id") < 840000L)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("sq").as("sum_sq"))
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
      require(scans.nonEmpty,
        s"q471: lost the V2 scan relation:\n${df.queryExecution.optimizedPlan}")
      val scan = scans.head match {
        case a: graft.sources.GraftRangeClusteredAggScan => a
        case other => sys.error(
          s"q471: aggregation was NOT pushed to the clustered scan: $other")
      }
      require(scan.lo == 200000L && scan.hi == 840000L,
        s"q471: pushed filter did not narrow the clustered agg scan: " +
          s"generates [${scan.lo}, ${scan.hi})")
      require(scan.funcs == Seq("count", "sum_sq"),
        s"q471: pushed clustered aggregation shape mismatch: ${scan.funcs}")
      df.select(col("bucket").cast("int").as("bucket"),
          col("n").cast("bigint").as("n"),
          col("sum_sq").cast("bigint").as("sum_sq"))
        .orderBy("bucket")
    },

    // ---- DSv2 LIMIT PUSHDOWN: `LIMIT k` reaches the connector
    // (SupportsPushDownLimit) and TRUNCATES the generated interval —
    // out of n = 10⁶ candidate ids, the readers materialize exactly
    // the 1000 in [500000, 501000): the pushed range filter narrows
    // first, then the pushed limit keeps that interval's first k (the
    // composition a real source does by stopping after k rows of a
    // pruned scan). The push is PARTIAL — Spark keeps its own Limit on
    // top — so correctness never depends on the connector's count; the
    // REQUIRE pins the narrowed bounds and the pushed-limit value on
    // the scan INSTANCE, and the oracle replays the surviving interval
    // as generate_series. Deterministic despite LIMIT's any-k contract:
    // the scan generates ONLY the k surviving ids, so Spark's limit
    // keeps them all. ----
    "q461_dsv2_limit_pushdown" -> { (s, _) =>
      val df = s.read.format("graft-range")
        .option("n", "1000000").option("slices", "8").load()
        .filter(col("id") >= 500000L)
        .limit(1000)
      // REQUIRE on the limit-level frame: the aggregate on top adds
      // exchanges, and AQE (on for Verify/Bench) wraps such plans in
      // AdaptiveSparkPlanExec where the scan isn't collect()-reachable
      // pre-execution — the pushdown composition (filter → limit) is
      // fully decided at this level
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.nonEmpty,
        s"q461: lost the V2 BatchScan node:\n${df.queryExecution.executedPlan}")
      val sc = scans.head.scan.asInstanceOf[graft.sources.GraftRangeScan]
      require(sc.pushedLimit.contains(1000) && sc.lo == 500000L && sc.hi == 501000L,
        s"q461: limit did not reach the connector: pushed=${sc.pushedLimit} " +
          s"generates [${sc.lo}, ${sc.hi})")
      df.groupBy("bucket")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum("sq").cast("bigint").as("sum_sq"),
          min("id").cast("bigint").as("min_id"),
          max("id").cast("bigint").as("max_id"))
        .select(col("bucket").cast("int").as("bucket"), col("n"),
          col("sum_sq"), col("min_id"), col("max_id"))
        .orderBy("bucket")
    },

    // ---- DSv2 ORDERING REPORT (SupportsReportOrdering): the scan
    // declares its per-partition emission order (`id ASC` — true of
    // every partition shape it plans), and EnsureRequirements ELIDES
    // the LOCAL Sort a consumer would otherwise pay: a
    // sortWithinPartitions consumer plans with ZERO SortExec nodes
    // (REQUIREd by a traversal that DESCENDS INTO AQE query stages — a
    // naive plan.collect stops at stage boundaries and would pass
    // vacuously; an in-gate NEGATIVE CONTROL on the unreported `sq`
    // column must still find its Sort, proving the traversal sees
    // sorts at all). NOT claimed, deliberately: a global orderBy keeps
    // its range exchange + sort (post-shuffle order is gone), and even
    // a single-partition ordered window re-sorts because the inserted
    // SinglePartition exchange erases source order — both pinned
    // honestly in ReportOrderingSpec. What the report buys at 100 TB
    // is local-sort elision where partitioning already aligns:
    // within-partition consumers and the sorted side of an exchange-
    // free join ride the storage order for free. The
    // report is only advertised while `id` survives pruning, and the
    // q462 top-N scan stays truthful (it narrows, still emits asc).
    // Oracle: the scan-order lag-delta digest replayed in closed
    // form — an out-of-order emission corrupts the delta columns. ----
    "q477_dsv2_report_ordering" -> { (s, _) =>
      def sortsIn(df: DataFrame): Int = {
        var c = 0
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              walk(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              walk(q.plan)
            case _: org.apache.spark.sql.execution.SortExec => c += 1
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
        }
        walk(df.queryExecution.executedPlan)
        c
      }
      // consumer 1: per-partition sort over the 8-slice scan — elided
      val multi = s.read.format("graft-range")
        .option("n", "100000").option("slices", "8").load()
        .sortWithinPartitions("id")
      multi.count()
      require(sortsIn(multi) == 0,
        s"q477: sortWithinPartitions(id) still plans a Sort despite the " +
          s"ordering report:\n${multi.queryExecution.executedPlan.toString.take(1200)}")
      // negative control: the same consumer on the UNREPORTED column
      // must keep its Sort — proves the traversal is not vacuous
      val ctrl = s.read.format("graft-range")
        .option("n", "100000").option("slices", "8").load()
        .sortWithinPartitions("sq")
      ctrl.count()
      require(sortsIn(ctrl) >= 1,
        "q477: the negative control lost its Sort — traversal is blind")
      // the output CONSUMES the order through an ordered lag window
      // (engine-sorted — see the honesty note above): per-bucket
      // digests of each row's lag-delta; combined with the spec's
      // per-partition ascending check this pins that the REPORTED
      // order is the TRUE emission order
      val w = Window.orderBy("id")
      val lagged = s.read.format("graft-range")
        .option("n", "100000").option("slices", "1").load()
        .withColumn("delta", col("id") - lag("id", 1, -1L).over(w))
      lagged
        .groupBy("bucket")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum("delta").cast("bigint").as("sum_delta"),
          min("delta").cast("bigint").as("min_delta"),
          max("delta").cast("bigint").as("max_delta"))
        .select(col("bucket").cast("int").as("bucket"), col("n"),
          col("sum_delta"), col("min_delta"), col("max_delta"))
        .orderBy("bucket")
    },

    // ---- DSv2 TOP-N PUSHDOWN: `ORDER BY id DESC LIMIT 100` reaches
    // the connector (SupportsPushDownTopN) as a sort spec + limit, and
    // because the top-k of a contiguous id interval is itself
    // contiguous, the scan narrows in closed form to the LAST 100 ids
    // of n = 10⁶ — the "read only the tail row group" skip a
    // statistics-backed source does for a top-N. Partial push: Spark
    // still sorts the 100 survivors (TakeOrderedAndProject), so the
    // output order is engine-guaranteed; REQUIREs pin the pushed spec
    // (desc on id) and the narrowed bounds on the scan instance; the
    // oracle replays the tail interval in descending order. ----
    "q462_dsv2_topn_pushdown" -> { (s, _) =>
      val df = s.read.format("graft-range")
        .option("n", "1000000").option("slices", "8").load()
        .orderBy(col("id").desc)
        .limit(100)
        .select(col("id"), col("sq"), col("bucket").cast("int").as("bucket"))
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.nonEmpty,
        s"q462: lost the V2 BatchScan node:\n${df.queryExecution.executedPlan}")
      val sc = scans.head.scan.asInstanceOf[graft.sources.GraftRangeScan]
      require(sc.pushedLimit.contains(100) && sc.pushedTopNDesc.contains(true) &&
          sc.lo == 999900L && sc.hi == 1000000L,
        s"q462: top-N did not reach the connector: pushed=${sc.pushedLimit}/" +
          s"${sc.pushedTopNDesc} generates [${sc.lo}, ${sc.hi})")
      df
    },

    // ---- DSv2 METADATA COLUMNS: q421's file-audit discipline on the
    // connector surface — the graft-range Table implements
    // SupportsMetadataColumns, exposing `_slice` (the input-partition
    // ordinal that served each row: the V2 analogue of
    // `_metadata.file_name`). Hidden until referenced by name, then
    // delivered through the SAME pruned-schema path as data columns,
    // with the readers reporting their partition descriptor's ordinal —
    // provenance, not recomputation. The REQUIRE pins the pruned scan
    // schema (id + _slice only); the oracle replays the deterministic
    // slice layout (100000 ids / 8 slices = 12500 contiguous ids each)
    // from generate_series, so a row served by the wrong split
    // hash-fails. ----
    "q463_dsv2_metadata_columns" -> { (s, _) =>
      val df = s.read.format("graft-range")
        .option("n", "100000").option("slices", "8").load()
        .select(col("_slice"), col("id"), col("sq"))
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.nonEmpty,
        s"q463: lost the V2 BatchScan node:\n${df.queryExecution.executedPlan}")
      require(scans.head.scan.readSchema().fieldNames.toSet ==
          Set("id", "sq", "_slice"),
        s"q463: metadata column not in the pruned scan schema: " +
          s"${scans.head.scan.readSchema()}")
      df.groupBy("_slice")
        .agg(count(lit(1)).cast("bigint").as("n"),
          min("id").cast("bigint").as("min_id"),
          max("id").cast("bigint").as("max_id"),
          sum("sq").cast("bigint").as("sum_sq"))
        .select(col("_slice").cast("int").as("slice"), col("n"),
          col("min_id"), col("max_id"), col("sum_sq"))
        .orderBy("slice")
    },

    // ---- SQL MERGE INTO (DSv2 row-level operations): the lakehouse
    // write verb q450 emulated through writeTo().overwrite(), now as
    // REAL SQL MERGE — the graft-mem Table implements
    // SupportsRowLevelOperations, so Spark's group-based rewrite reads
    // the table, computes carried + UPDATEd + INSERTed rows in one
    // plan, and writes the survivor set back through the operation's
    // write as ONE atomic whole-table replace (the copy-on-write shape
    // Delta/Iceberg use at file-group granularity). Same lane as q450
    // (en digests uppercased = UPDATE, ('zz','synthetic') = INSERT,
    // everything else carried) so the two routes' results are directly
    // comparable; REQUIREs read the store's commit journal — exactly
    // one replace_merge commit that removed the full pre-image and
    // wrote pre+delta − nothing partial, nothing doubled. Oracle =
    // q450's post-upsert recomputation (MERGE ≡ keyed upsert here). ----
    "q466_dsv2_merge_into" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graftmem",
        classOf[graft.sources.GraftMemCatalog].getName)
      val tbl = s"merge_${dsv2SinkCounter.incrementAndGet()}_${System.identityHashCode(s)}"
      docDigest(Tables.documents(s, dir))
        .write.format("graft-mem").option("table", tbl).mode("append").save()
      val nBefore = graft.sources.GraftMemStore.rowsOf(tbl).length
      import s.implicits._
      val delta = docDigest(Tables.documents(s, dir).filter(col("lang") === "en")
          .withColumn("text", upper(col("text"))))
        .unionByName(Seq(("zz", "synthetic", 1L, 42L, 7L))
          .toDF("lang", "source", "n_docs", "sum_chars", "text_cksum"))
      val src = s"graft_q466_src_$tbl"
      delta.createOrReplaceTempView(src)
      val nEn = delta.filter(col("lang") === "en").count()
      s.sql(
        s"""MERGE INTO graftmem.$tbl t USING $src s
           |ON t.lang = s.lang AND t.source = s.source
           |WHEN MATCHED THEN UPDATE SET
           |  n_docs = s.n_docs, sum_chars = s.sum_chars, text_cksum = s.text_cksum
           |WHEN NOT MATCHED THEN INSERT
           |  (lang, source, n_docs, sum_chars, text_cksum)
           |  VALUES (s.lang, s.source, s.n_docs, s.sum_chars, s.text_cksum)""".stripMargin)
      val commits = graft.sources.GraftMemStore.commitsOf(tbl)
      require(commits.map(_.kind) == List("append", "overwrite") &&
          commits.last.filters == "replace_merge",
        s"q466: expected one append + ONE replace_merge commit, got $commits")
      require(commits.last.deleted == nBefore &&
          commits.last.inserted == nBefore + 1,
        s"q466: replace moved deleted=${commits.last.deleted} (want $nBefore) " +
          s"inserted=${commits.last.inserted} (want ${nBefore + 1}); en rows $nEn")
      s.catalog.dropTempView(src)
      s.read.format("graft-mem").option("table", tbl).load()
        .orderBy("lang", "source")
    },

    // ---- DSv2 METADATA DELETE: the remaining write-side verb after
    // append (q434), dynamic overwrite (q447), and keyed upsert (q450)
    // — `DELETE FROM <catalog table> WHERE <pred>` planned as V2
    // DeleteFromTable and executed by the connector's SupportsDelete
    // (canDeleteWhere refuses filter shapes the row predicate can't
    // evaluate exactly, so Spark fails loudly instead of the connector
    // silently widening a delete). REQUIREs read the commit journal:
    // exactly one delete commit carrying the pushed EqualTo filter and
    // removing exactly the matching rows; the oracle recomputes the
    // surviving digests with the same predicate negated. ----
    "q456_dsv2_delete" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graftmem",
        classOf[graft.sources.GraftMemCatalog].getName)
      val tbl = s"del_${dsv2SinkCounter.incrementAndGet()}_${System.identityHashCode(s)}"
      val base = Tables.documents(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("sum_chars"))
      base.write.format("graft-mem").option("table", tbl).mode("append").save()
      val nDe = graft.sources.GraftMemStore.rowsOf(tbl).count { r =>
        r.getUTF8String(0).toString == "de"
      }
      s.sql(s"DELETE FROM graftmem.$tbl WHERE lang = 'de'")
      val commits = graft.sources.GraftMemStore.commitsOf(tbl)
      require(commits.map(_.kind) == List("append", "delete"),
        s"q456: expected one append + ONE delete commit, got $commits")
      require(commits.last.filters.contains("EqualTo(lang,de)") &&
          commits.last.deleted == nDe && commits.last.inserted == 0,
        s"q456: delete journal mismatch (want deleted=$nDe): ${commits.last}")
      s.read.format("graft-mem").option("table", tbl).load()
        .orderBy("lang", "source")
    },

    // ---- DSv2 TIME TRAVEL + snapshot retention: the store journals a
    // SNAPSHOT per commit (version = commit sequence number — no
    // wall-clock, preserving determinism), the catalog implements the
    // versioned loadTable, and real SQL `VERSION AS OF n` reads a
    // read-only pin of snapshot n — the Iceberg/Delta surface that
    // makes a 100 TB table auditable (reproduce yesterday's training
    // set) and safely mutable (writers never block readers; a reader
    // pinned at v keeps its exact state while commits advance). The
    // gate drives three commits (append → keyed upsert → metadata
    // DELETE), reads versions 1/2/current — three DIFFERENT states from
    // ONE table name — then runs Iceberg-style expire_snapshots(keep 2)
    // and REQUIREs: version 1 now refuses to read (loudly, at scan),
    // version 2 still reads byte-identically, and a write aimed at a
    // pinned snapshot refuses. The oracle recomputes all three states
    // from documents, so a snapshot that leaked a later commit's rows
    // (or lost its own) hash-fails on the asof tag it corrupted. ----
    "q472_dsv2_time_travel" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graftmem",
        classOf[graft.sources.GraftMemCatalog].getName)
      val tbl = s"tt_${dsv2SinkCounter.incrementAndGet()}_${System.identityHashCode(s)}"
      // commit 1: baseline per-(lang, source) digests
      docDigest(Tables.documents(s, dir))
        .write.format("graft-mem").option("table", tbl).mode("append").save()
      // commit 2: keyed upsert — 'en' digests recomputed over
      // upper-cased text (the UPDATE), one ('zz','synthetic') INSERT
      import s.implicits._
      docDigest(Tables.documents(s, dir).filter(col("lang") === "en")
          .withColumn("text", upper(col("text"))))
        .unionByName(Seq(("zz", "synthetic", 1L, 42L, 7L))
          .toDF("lang", "source", "n_docs", "sum_chars", "text_cksum"))
        .writeTo(s"graftmem.$tbl").overwrite(col("lang").isin("en", "zz"))
      // commit 3: metadata delete of the 'de' rows
      s.sql(s"DELETE FROM graftmem.$tbl WHERE lang = 'de'")
      val commits = graft.sources.GraftMemStore.commitsOf(tbl)
      require(commits.map(_.kind) == List("append", "overwrite", "delete"),
        s"q472: expected append+overwrite+delete commits, got $commits")
      require(graft.sources.GraftMemStore.currentVersion(tbl) == 3,
        s"q472: expected version 3 after three commits")
      // time-travel reads; materialize BEFORE expiry (a pinned scan
      // resolves its snapshot at execution, exactly when it should)
      def asOf(v: Int): DataFrame =
        s.sql(s"SELECT lang, source, n_docs, sum_chars, text_cksum " +
          s"FROM graftmem.$tbl VERSION AS OF $v")
      val v1 = asOf(1).localCheckpoint()
      val v2 = asOf(2).localCheckpoint()
      val cur = s.read.format("graft-mem").option("table", tbl).load()
        .localCheckpoint()
      // retention: keep the newest 2 snapshots (versions 2 and 3) —
      // versions 0 (empty) and 1 expire
      // (the implicit create-on-first-append records no version-0
      // snapshot, so the history here is exactly versions 1, 2, 3)
      val dropped = graft.sources.GraftMemStore.expireSnapshots(tbl, keepLast = 2)
      require(dropped == 1 &&
          graft.sources.GraftMemStore.retainedVersions(tbl) == Seq(2, 3),
        s"q472: expire dropped $dropped, " +
          s"kept ${graft.sources.GraftMemStore.retainedVersions(tbl)}")
      val expiredReadFails =
        try { asOf(1).collect(); false }
        catch {
          case e: Throwable =>
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
              .exists(c => Option(c.getMessage).exists(_.contains("no snapshot")))
        }
      require(expiredReadFails,
        "q472: reading an EXPIRED snapshot must fail loudly, not fall back")
      require(asOf(2).count() == v2.count(),
        "q472: retained snapshot must survive expiry byte-identically")
      val snapshotWriteRefused =
        try {
          new graft.sources.GraftMemTable(tbl,
            graft.sources.GraftMemStore.schemaOf(tbl), Some(2))
            .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
              org.apache.spark.sql.sources.EqualTo("lang", "fr")))
          false
        } catch { case _: UnsupportedOperationException => true }
      require(snapshotWriteRefused,
        "q472: a write aimed at a pinned snapshot must refuse")
      // "as_of", not "asof": ASOF is a DuckDB reserved word (ASOF JOIN)
      // and the oracle must use the same unquoted column name
      v1.withColumn("as_of", lit(1))
        .unionByName(v2.withColumn("as_of", lit(2)))
        .unionByName(cur.withColumn("as_of", lit(3)))
        .select(col("as_of"), col("lang"), col("source"),
          col("n_docs"), col("sum_chars"), col("text_cksum"))
        .orderBy("as_of", "lang", "source")
    },

    // ---- DSv2 CDC READS (incremental consumption): the change set
    // BETWEEN two retained snapshots as a connector read — Delta's
    // readChangeFeed / Iceberg's incremental scan, the primitive that
    // turns a 100 TB table's consumers incremental (process the delta
    // since the last run, never re-scan the table; expiry bounds how
    // far behind a consumer may fall, exactly the CDC-retention
    // contract). The diff is a MULTISET value diff, so the keyed
    // upsert surfaces as delete-of-old + insert-of-new — what a
    // downstream sink must APPLY to stay consistent. REQUIREs
    // cross-check the diff against the commit journal's own
    // deleted/inserted counts (every journaled movement must appear in
    // the feed — a CDC reader that misses rows is worse than none),
    // and pin that an empty range diffs empty. Oracle: each range's
    // change set recomputed as snapshot-state EXCEPTs from documents.
    // ----
    "q474_dsv2_changes" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graftmem",
        classOf[graft.sources.GraftMemCatalog].getName)
      val tbl = s"cdc_${dsv2SinkCounter.incrementAndGet()}_${System.identityHashCode(s)}"
      docDigest(Tables.documents(s, dir))
        .write.format("graft-mem").option("table", tbl).mode("append").save()
      import s.implicits._
      docDigest(Tables.documents(s, dir).filter(col("lang") === "en")
          .withColumn("text", upper(col("text"))))
        .unionByName(Seq(("zz", "synthetic", 1L, 42L, 7L))
          .toDF("lang", "source", "n_docs", "sum_chars", "text_cksum"))
        .writeTo(s"graftmem.$tbl").overwrite(col("lang").isin("en", "zz"))
      s.sql(s"DELETE FROM graftmem.$tbl WHERE lang = 'de'")
      val commits = graft.sources.GraftMemStore.commitsOf(tbl)
      require(commits.map(_.kind) == List("append", "overwrite", "delete"),
        s"q474: expected append+overwrite+delete commits, got $commits")
      def changes(from: Int, to: Int): DataFrame =
        s.read.format("graft-mem").option("table", tbl)
          .option("changesFrom", from.toString)
          .option("changesTo", to.toString).load()
      val ch12 = changes(1, 2).localCheckpoint()
      val ch23 = changes(2, 3).localCheckpoint()
      // journal cross-check: every row the upsert commit moved must
      // appear in the feed with the matching change type (the 'en'
      // digests all change value under the upper-cased re-digest, so
      // the value diff equals the journaled movement exactly)
      val ow = commits(1)
      require(ch12.filter(col("_change_type") === "delete").count() == ow.deleted &&
          ch12.filter(col("_change_type") === "insert").count() == ow.inserted,
        s"q474: 1→2 feed (${ch12.count()} rows) != journal movement $ow")
      val del = commits(2)
      require(ch23.filter(col("_change_type") === "delete").count() == del.deleted &&
          ch23.filter(col("_change_type") === "insert").count() == 0,
        s"q474: 2→3 feed (${ch23.count()} rows) != journal movement $del")
      require(changes(2, 2).count() == 0,
        "q474: an empty version range must produce an empty change feed")
      ch12.withColumn("from_v", lit(1)).withColumn("to_v", lit(2))
        .unionByName(ch23.withColumn("from_v", lit(2)).withColumn("to_v", lit(3)))
        .select(col("from_v"), col("to_v"), col("_change_type"), col("lang"),
          col("source"), col("n_docs"), col("sum_chars"), col("text_cksum"))
        .orderBy("from_v", "_change_type", "lang", "source")
    },

    // ---- DSv2 SCHEMA EVOLUTION (ADD COLUMN): the ALTER TABLE surface a
    // long-lived 100 TB table cannot live without — new columns arrive
    // WITHOUT rewriting a byte of existing data. Semantics pinned here
    // are Iceberg's: the added column must be nullable (old rows read
    // NULL at scan time — read-time padding, not a backfill), the
    // evolution is a journaled commit that MOVES NO ROWS (the CDC feed
    // across it is REQUIREd empty — consumers see schema changes as
    // metadata, not data), pre-evolution snapshots time-travel-read
    // under the CURRENT schema with NULL for the new column, and
    // post-evolution writes populate it. RENAME/DROP/type-change
    // refuse (altering without migrating data corrupts reads). Oracle:
    // both states recomputed from documents with an explicit NULL
    // quality for pre-evolution rows. ----
    "q476_dsv2_schema_evolution" -> { (s, dir) =>
      s.conf.set("spark.sql.catalog.graftmem",
        classOf[graft.sources.GraftMemCatalog].getName)
      val tbl = s"evo_${dsv2SinkCounter.incrementAndGet()}_${System.identityHashCode(s)}"
      val docs = Tables.documents(s, dir)
      // commit 1: per-(lang, source) digests at the ORIGINAL schema
      docs.groupBy("lang", "source")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("sum_chars"))
        .write.format("graft-mem").option("table", tbl).mode("append").save()
      // commit 2: schema evolution via real SQL
      s.sql(s"ALTER TABLE graftmem.$tbl ADD COLUMN quality BIGINT")
      // commit 3: per-lang rollups POPULATING the new column
      docs.groupBy("lang")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("sum_chars"))
        .select(col("lang"), lit("_rollup").as("source"), col("n_docs"),
          col("sum_chars"), expr("sum_chars div n_docs").cast("bigint").as("quality"))
        .write.format("graft-mem").option("table", tbl).mode("append").save()
      val commits = graft.sources.GraftMemStore.commitsOf(tbl)
      require(commits.map(_.kind) == List("append", "add_column", "append"),
        s"q476: expected append+add_column+append commits, got $commits")
      require(commits(1).filters == "quality:bigint" &&
          commits(1).deleted == 0 && commits(1).inserted == 0,
        s"q476: evolution commit must move no rows, got ${commits(1)}")
      // the CDC feed across the evolution commit is EMPTY
      require(s.read.format("graft-mem").option("table", tbl)
          .option("changesFrom", "1").option("changesTo", "2").load().count() == 0,
        "q476: schema evolution must not appear in the change feed")
      // RENAME refuses rather than silently corrupting reads
      val renameRefused =
        try { s.sql(s"ALTER TABLE graftmem.$tbl RENAME COLUMN quality TO q2"); false }
        catch { case e: Exception =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(8)
            .exists(c => Option(c.getMessage)
              .exists(_.contains("unsupported table change")))
        }
      require(renameRefused, "q476: RENAME COLUMN must refuse")
      // pre-evolution snapshot, read under the evolved schema
      val v1 = s.sql(s"SELECT lang, source, n_docs, sum_chars, quality " +
        s"FROM graftmem.$tbl VERSION AS OF 1").localCheckpoint()
      require(v1.filter(col("quality").isNotNull).count() == 0,
        "q476: the added column must read NULL in pre-evolution snapshots")
      val cur = s.read.format("graft-mem").option("table", tbl).load()
      v1.withColumn("as_of", lit(1))
        .unionByName(cur.withColumn("as_of", lit(3)))
        .select(col("as_of"), col("lang"), col("source"),
          col("n_docs"), col("sum_chars"), col("quality"))
        .orderBy("as_of", "lang", "source")
    }
  )

  private val dsv2SinkCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q454's deterministic 64-key dimension (13441·i + 77, no mod
    * wraparound below 10⁶ so the keys are distinct by construction);
    * inlined as literals into the oracle. */
  private[operators] val q454DimIds: Seq[Long] =
    (0 until 64).map(i => i.toLong * 13441L + 77L)

  /** Per-language row/byte/text-checksum digest of a documents frame —
    * the compare side of the q135/q136 round-trips. */
  private def roundTripDigest(docs: DataFrame): DataFrame =
    docs.groupBy("lang")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
           sum("n_chars").cast("bigint").as("sum_chars"),
           sum(hex64(md5(col("text"))) % lit(1000000007L)).cast("bigint").as("text_cksum"))
      .orderBy("lang")

  /** Per-(lang, source) row/byte/text-checksum digest of a documents
    * frame: the rows the graft-mem table-format queries (q450, q466,
    * q472, q474, q475, q478) commit, mutate and read back. */
  private[graft] def docDigest(docs: DataFrame): DataFrame =
    docs.groupBy("lang", "source")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum("n_chars").cast("bigint").as("sum_chars"),
        sum(hex64(md5(col("text"))) % lit(1000000007L)).cast("bigint").as("text_cksum"))

  override def oracle: Map[String, String] = Map(
    "q00_wordcount" -> wcOracle,
    "q01_mapreduce_wc" -> wcOracle,

    // the merged read's observable facts recomputed from the ORIGINAL
    // table: any mergeSchema row loss / misfill hash-fails here
    "q240_schema_merge" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_price,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_priority,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 0
        |                     THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |                     ELSE 0 END) AS BIGINT) AS sum_price_cents
        |FROM orders""".stripMargin,
    "q100_unicode_wordcount" ->
      """SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split_regex(
        |               regexp_replace(translate(text, 'aeou''', 'àéöü’'),
        |                              '[^\p{L}\p{N}_\s]', '', 'g'),
        |               '\s+')) AS w
        |      FROM documents)
        |WHERE w <> ''
        |GROUP BY w
        |ORDER BY word""".stripMargin,
    // the round-trip must reproduce the wordcount exactly
    "q02_text_sink_roundtrip" -> wcOracle,

    // both oracles compute the digest on the ORIGINAL parquet (with the
    // same injected delimiters) — any corruption through the CSV/JSONL
    // layouts hash-fails here
    "q135_csv_roundtrip" -> roundTripDigestSql("translate(text, 'ae', '\",')"),
    "q136_jsonl_roundtrip" -> roundTripDigestSql("translate(text, 'ae', '\"\\')"),
    "q140_orc_roundtrip" -> roundTripDigestSql("text"),

    // the harness registers plain views, so filenames aren't reachable
    // in oracle SQL — the expected single-file layout enters as
    // literals; Spark's REAL metadata columns must reproduce them
    "q421_file_audit" ->
      Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
        .map(n => s"SELECT '$n' AS table_name, '$n.parquet' AS file_name, " +
          s"CAST(count(*) AS BIGINT) AS n_rows, TRUE AS path_consistent FROM $n")
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) t ORDER BY table_name, file_name"),

    // the generator's contract replayed: id = 0..n-1, sq = id², bucket
    // = id mod 16 — any slice-boundary slip (dropped/duplicated id at a
    // partition edge) shifts a bucket's count/sum and hash-fails
    "q432_dsv2_range" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq
        |FROM UNNEST(generate_series(0, 99999)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // digest of the ORIGINAL documents table — the V2 write+read
    // roundtrip must reproduce it exactly (the q140 compare, V2 store)
    "q434_dsv2_sink_roundtrip" -> roundTripDigestSql("text"),

    // the observation's control totals recomputed directly
    "q446_observe_metrics" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_cents,
        |       MIN(l_returnflag) AS min_flag,
        |       MAX(l_returnflag) AS max_flag
        |FROM lineitem""".stripMargin,

    // the partition-store state after the dynamic overwrite: en rows
    // uppercased, every other partition untouched
    "q447_dynamic_overwrite" ->
      roundTripDigestSql("CASE WHEN lang = 'en' THEN upper(text) ELSE text END"),

    // the pushed group-by, recomputed row-by-row from generate_series —
    // the connector's closed-form partials must merge to the brute answer
    "q437_dsv2_agg_pushdown" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(MIN(g.i) AS BIGINT) AS min_id,
        |       CAST(MAX(g.i) AS BIGINT) AS max_id,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq
        |FROM UNNEST(generate_series(0, 999999)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // the post-upsert table state recomputed directly from documents:
    // en digests over uppercased text (the UPDATE), the synthetic zz
    // row (the INSERT), every other (lang, source) digest verbatim (the
    // untouched set)
    "q450_dsv2_upsert" -> upsertStateOracle,

    // MERGE ≡ the q450 keyed upsert on this lane: the post-merge table
    // state recomputed directly from documents (UPDATE as a CASE,
    // INSERT as a UNION row) — a dropped carry-over row, a double
    // update, or a partial replace all hash-fail
    "q466_dsv2_merge_into" -> upsertStateOracle,

    // both states recomputed from documents: pre-evolution rows carry
    // an explicit NULL quality (read-time padding), the rollup rows
    // carry the populated column — a backfilled or misaligned value
    // lands on the (as_of, lang, source) row it corrupted
    "q476_dsv2_schema_evolution" ->
      """WITH b AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY lang, source),
        |r AS (
        |  SELECT lang, '_rollup' AS source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |         CAST(SUM(n_chars) // count(*) AS BIGINT) AS quality
        |  FROM documents GROUP BY lang)
        |SELECT CAST(as_of AS INT) AS as_of, lang, source, n_docs, sum_chars, quality
        |FROM (
        |  SELECT 1 AS as_of, lang, source, n_docs, sum_chars,
        |         CAST(NULL AS BIGINT) AS quality FROM b
        |  UNION ALL
        |  SELECT 3 AS as_of, lang, source, n_docs, sum_chars,
        |         CAST(NULL AS BIGINT) AS quality FROM b
        |  UNION ALL
        |  SELECT 3 AS as_of, lang, source, n_docs, sum_chars, quality FROM r
        |) t ORDER BY as_of, lang, source""".stripMargin,

    // the three snapshot states recomputed independently from
    // documents: v1 = raw digests, v2 = v1 with the 'en' upsert + the
    // synthetic insert, v3 (current) = v2 minus the deleted 'de' rows —
    // any cross-snapshot leakage lands on the asof tag it corrupted
    "q472_dsv2_time_travel" ->
      s"""WITH $snapshotStatesCtes
        |SELECT CAST(as_of AS INT) AS as_of, lang, source, n_docs, sum_chars, text_cksum
        |FROM (
        |  SELECT 1 AS as_of, * FROM s1
        |  UNION ALL SELECT 2 AS as_of, * FROM s2
        |  UNION ALL SELECT 3 AS as_of, * FROM s2 WHERE lang <> 'de'
        |) t ORDER BY as_of, lang, source""".stripMargin,

    // each version range's change set recomputed as snapshot-state set
    // differences ((lang, source) keys are unique per state, so EXCEPT
    // is the multiset diff): 1→2 = the upsert's delete-old-en +
    // insert-new-en + insert-zz, 2→3 = the DELETE's de removals — a
    // missed change, phantom change, or wrong change-type hash-fails
    "q474_dsv2_changes" ->
      s"""WITH $snapshotStatesCtes,
        |s3 AS (SELECT * FROM s2 WHERE lang <> 'de'),
        |ch12 AS (
        |  SELECT 'delete' AS _change_type, * FROM (SELECT * FROM s1 EXCEPT SELECT * FROM s2) a
        |  UNION ALL
        |  SELECT 'insert' AS _change_type, * FROM (SELECT * FROM s2 EXCEPT SELECT * FROM s1) b),
        |ch23 AS (
        |  SELECT 'delete' AS _change_type, * FROM (SELECT * FROM s2 EXCEPT SELECT * FROM s3) a
        |  UNION ALL
        |  SELECT 'insert' AS _change_type, * FROM (SELECT * FROM s3 EXCEPT SELECT * FROM s2) b)
        |SELECT CAST(from_v AS INT) AS from_v, CAST(to_v AS INT) AS to_v,
        |       _change_type, lang, source, n_docs, sum_chars, text_cksum
        |FROM (
        |  SELECT 1 AS from_v, 2 AS to_v, * FROM ch12
        |  UNION ALL SELECT 2 AS from_v, 3 AS to_v, * FROM ch23
        |) t ORDER BY from_v, _change_type, lang, source""".stripMargin,

    // the runtime-filtered join replayed over the literal key list
    // (keys cast to BIGINT up front: the UNNESTed literals land as
    // INT32 and id² overflows otherwise)
    "q454_dsv2_runtime_filter" ->
      s"""WITH k AS (SELECT CAST(g.i AS BIGINT) AS i
        |           FROM UNNEST(${q454DimIds.mkString("[", ",", "]")}) AS g(i))
        |SELECT CAST(i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(i * i) AS BIGINT) AS sum_sq,
        |       CAST(MIN(i) AS BIGINT) AS min_id,
        |       CAST(MAX(i) AS BIGINT) AS max_id
        |FROM k
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // the surviving (lang, source) digests after the metadata delete
    "q456_dsv2_delete" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang <> 'de'
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // the interval that survives the pushed range predicates, replayed
    "q436_dsv2_pushdown" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq,
        |       CAST(MIN(g.i) AS BIGINT) AS min_id,
        |       CAST(MAX(g.i) AS BIGINT) AS max_id
        |FROM UNNEST(generate_series(900000, 900099)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // the deterministic slice layout replayed: 8 contiguous 12500-id
    // splits — the _slice metadata column must reproduce it exactly
    "q463_dsv2_metadata_columns" ->
      """SELECT CAST(g.i // 12500 AS INT) AS slice,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(MIN(g.i) AS BIGINT) AS min_id,
        |       CAST(MAX(g.i) AS BIGINT) AS max_id,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq
        |FROM UNNEST(generate_series(0, 99999)) AS g(i)
        |GROUP BY 1
        |ORDER BY slice""".stripMargin,

    // the limit-surviving interval replayed: first 1000 ids of the
    // pushed-filter range
    "q461_dsv2_limit_pushdown" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq,
        |       CAST(MIN(g.i) AS BIGINT) AS min_id,
        |       CAST(MAX(g.i) AS BIGINT) AS max_id
        |FROM UNNEST(generate_series(500000, 500999)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // the scan-order lag-delta digest replayed over generate_series:
    // every delta is 1 iff the rows really arrived in id order
    "q477_dsv2_report_ordering" ->
      """WITH r AS (
        |  SELECT g.i % 16 AS bucket,
        |         g.i - lag(g.i, 1, -1) OVER (ORDER BY g.i) AS delta
        |  FROM UNNEST(generate_series(0, 99999)) AS g(i))
        |SELECT CAST(bucket AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(delta) AS BIGINT) AS sum_delta,
        |       CAST(MIN(delta) AS BIGINT) AS min_delta,
        |       CAST(MAX(delta) AS BIGINT) AS max_delta
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    // the top-N tail interval replayed in the pushed descending order
    "q462_dsv2_topn_pushdown" ->
      """SELECT CAST(g.i AS BIGINT) AS id,
        |       CAST(g.i * g.i AS BIGINT) AS sq,
        |       CAST(g.i % 16 AS INT) AS bucket
        |FROM UNNEST(generate_series(999900, 999999)) AS g(i)
        |ORDER BY id DESC""".stripMargin,

    // the composed join replayed over the surviving ids (sq < 4096 ⇔
    // id ∈ [0, 64)): a key dropped inside the pushed runtime set, a
    // lost bucket partition, or a row in the wrong keyed partition all
    // hash-fail
    "q468_dsv2_composed_scan" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq,
        |       CAST(MIN(g.i) AS BIGINT) AS min_id,
        |       CAST(MAX(g.i) AS BIGINT) AS max_id
        |FROM UNNEST(generate_series(0, 63)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // the filter-narrowed interval's group-by replayed row-by-row —
    // the clustered scan's closed-form per-bucket partials must merge
    // to the brute answer
    "q471_dsv2_clustered_agg_pushdown" ->
      """SELECT CAST(g.i % 16 AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(SUM(g.i * g.i) AS BIGINT) AS sum_sq
        |FROM UNNEST(generate_series(200000, 839999)) AS g(i)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // both sides' per-bucket digests recomputed from generate_series
    // and joined — a row landing in the wrong keyed partition on the
    // Spark side would shift a bucket's count/sum and hash-fail
    "q460_dsv2_spj" ->
      """WITH a AS (
        |  SELECT CAST(g.i % 16 AS INT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS a_n,
        |         CAST(SUM(g.i * g.i) AS BIGINT) AS a_sum_sq
        |  FROM UNNEST(generate_series(0, 99999)) AS g(i) GROUP BY 1),
        |b AS (
        |  SELECT CAST(g.i % 16 AS INT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS b_n,
        |         CAST(SUM(g.i * g.i) AS BIGINT) AS b_sum_sq
        |  FROM UNNEST(generate_series(0, 39999)) AS g(i) GROUP BY 1)
        |SELECT a.bucket, a_n, a_sum_sq, b_n, b_sum_sq
        |FROM a JOIN b USING (bucket)
        |ORDER BY bucket""".stripMargin
  )

  /** The post-upsert (q450) / post-merge (q466) table state recomputed
    * from documents: en digests over uppercased text (the UPDATE), the
    * synthetic ('zz','synthetic') row (the INSERT), every other key
    * untouched. */
  /** The q472/q474 snapshot states recomputed from documents: s1 = the
    * raw per-(lang, source) digests (version 1), s2 = s1 with the 'en'
    * upsert applied + the synthetic insert (version 2); version 3 is
    * `s2 WHERE lang <> 'de'`. */
  private[graft] val snapshotStatesCtes: String =
    """s1 AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |         CAST(SUM(CAST('0x' || substring(md5(text), 1, 15)
      |              AS BIGINT) % 1000000007) AS BIGINT) AS text_cksum
      |  FROM documents GROUP BY lang, source),
      |s2 AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |         CAST(SUM(CAST('0x' || substring(md5(
      |                CASE WHEN lang = 'en' THEN upper(text) ELSE text END), 1, 15)
      |              AS BIGINT) % 1000000007) AS BIGINT) AS text_cksum
      |  FROM documents GROUP BY lang, source
      |  UNION ALL
      |  SELECT 'zz', 'synthetic', 1, 42, 7)""".stripMargin

  private val upsertStateOracle: String =
    """SELECT lang, source, n_docs, sum_chars, text_cksum FROM (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |         CAST(SUM(CAST('0x' || substring(md5(
      |                CASE WHEN lang = 'en' THEN upper(text) ELSE text END), 1, 15)
      |              AS BIGINT) % 1000000007) AS BIGINT) AS text_cksum
      |  FROM documents GROUP BY lang, source
      |  UNION ALL
      |  SELECT 'zz', 'synthetic', 1, 42, 7
      |) t ORDER BY lang, source""".stripMargin

  private def roundTripDigestSql(textExpr: String) =
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(SUM(CAST('0x' || substring(md5($textExpr), 1, 15) AS BIGINT) % 1000000007) AS BIGINT) AS text_cksum
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin
}
