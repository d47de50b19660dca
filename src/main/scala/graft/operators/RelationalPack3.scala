package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.core.Pin.{materialized, warmed}
import graft.core.Tables.views
import graft.functions.TextFunctions.hex64Sql
import graft.functions.VectorFunctions

/** Third relational wave: correlated EXISTS/NOT EXISTS, vector explode
  * (generator over an array column), MapType construction + access,
  * unpivot (wide→long), exact interpolated percentiles. Same determinism
  * rules as RelationalPack (see QueryPack scaladoc).
  */
object RelationalPack3 extends QueryPack {

  /** q228's sketch size. k-1 appears as the literal 255 and the exact
    * threshold as 256 in BOTH engines' formula text. */
  private val kmvK = 256

  /** One KMV (k-minimum-values / bottom-k, Bar-Yossef et al. 2002)
    * estimate row for a join edge: each side's distinct-key count and
    * the key overlap estimated from 256 smallest 60-bit key hashes —
    * the join-size planning sketch an optimizer service keeps per
    * column pair. Deterministic by construction: both engines hash with
    * the same md5 prefix, keep the same bottom-k (total order on h), and
    * evaluate the same estimator text — so the gate compares ESTIMATES
    * exactly, not just envelopes (the q104 exact-sketch discipline,
    * stronger than q21's envelope). Sides with < k distinct keys are in
    * the sketch's exact regime (estimate = count); the estimator is
    * (k-1)·2^60 / h_k in IEEE doubles (both factors exactly
    * representable; int64→double and the division are correctly rounded
    * on every JVM/engine) floored to bigint. Intersection: ρ = members
    * of the UNION's bottom-k present in both side sketches,
    * est = ρ·est_union div k. Scale: each sketch is a TakeOrdered of
    * 256 rows off a distinct-key scan — constant-size driver-free
    * state per edge, mergeable by union, the exact shape a catalog
    * keeps per 100 TB column. */
  private[graft] def kmvEdge(edge: String, a: DataFrame, b: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.hex64
    def hashed(df: DataFrame) = df.toDF("key")
      .select(hex64(md5(concat(lit("jk:"), col("key").cast("string")))).as("h"))
      .distinct()
    val ha = hashed(a); val hb = hashed(b)
    val ska = ha.orderBy("h").limit(kmvK)
    val skb = hb.orderBy("h").limit(kmvK)
    val sku = ska.unionByName(skb).distinct().orderBy("h").limit(kmvK)
    val est = "cast(floor((255.0 * 1152921504606846976.0) / cast(%s as double)) as bigint)"
    val exactA = ha.agg(count(lit(1)).as("exact_a"))
    val exactB = hb.agg(count(lit(1)).as("exact_b"))
    val exactC = ha.join(hb, "h").agg(count(lit(1)).as("exact_common"))
    val tailA = ska.agg(max("h").as("hk_a"), count(lit(1)).as("ka"))
    val tailB = skb.agg(max("h").as("hk_b"), count(lit(1)).as("kb"))
    val tailU = sku.agg(max("h").as("hk_u"), count(lit(1)).as("ku"))
    val rho = sku.join(ska, Seq("h"), "left_semi")
      .join(skb, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("rho"))
    exactA.crossJoin(exactB).crossJoin(exactC)
      .crossJoin(tailA).crossJoin(tailB).crossJoin(tailU).crossJoin(rho)
      .select(lit(edge).as("edge"),
        col("exact_a").cast("bigint").as("exact_a"),
        expr(s"case when ka < 256 then ka else ${est.format("hk_a")} end")
          .cast("bigint").as("est_a"),
        col("exact_b").cast("bigint").as("exact_b"),
        expr(s"case when kb < 256 then kb else ${est.format("hk_b")} end")
          .cast("bigint").as("est_b"),
        col("exact_common").cast("bigint").as("exact_common"),
        expr(s"case when ku < 256 then rho else (rho * (${est.format("hk_u")})) div 256 end")
          .cast("bigint").as("est_common"))
  }

  /** The zone-map layout replay of q154 and q444: lineitem's
    * (orderkey, partkey) scaled to an 8-bit (x8, y8) grid, `curves` adding
    * each curve's key and file column, the linear layout's `file_lin`
    * (64 equal-width x bins), then per layout — `layouts` maps each file
    * column to its name, unioned in order — the min/max zone maps
    * replayed against a box and a y-only band predicate. */
  private def layoutReplay(s: SparkSession, d: String, curves: DataFrame => DataFrame,
                           layouts: Seq[(String, String)]): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("xk"), col("l_partkey").as("yk"))
    val mm = li.agg(min(col("xk")).as("x_min"), max(col("xk")).as("x_max"),
                    min(col("yk")).as("y_min"), max(col("yk")).as("y_max"))
    val scaled = warmed(li.crossJoin(broadcast(mm))
      .select(expr("(xk - x_min) * 256 div (x_max - x_min + 1)").as("x8"),
              expr("(yk - y_min) * 256 div (y_max - y_min + 1)").as("y8"))
      .transform(curves)
      .withColumn("file_lin", expr("x8 div 4")))
    def zones(fileCol: String, layout: String): DataFrame =
      scaled.groupBy(col(fileCol).as("file_id"))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
             min(col("x8")).as("x_lo"), max(col("x8")).as("x_hi"),
             min(col("y8")).as("y_lo"), max(col("y8")).as("y_hi"))
        .withColumn("layout", lit(layout))
    val zf = layouts.map { case (f, l) => zones(f, l) }.reduce(_ unionByName _)
    val boxHit = col("x_hi") >= 32 && col("x_lo") <= 63 &&
                 col("y_hi") >= 64 && col("y_lo") <= 95
    val yHit = col("y_hi") >= 64 && col("y_lo") <= 95
    val perLayout = zf.groupBy("layout").agg(
      count(lit(1)).cast("bigint").as("n_files"),
      sum(when(boxHit, 1L).otherwise(0L)).as("files_box"),
      sum(when(boxHit, col("n_rows")).otherwise(0L)).as("rows_box"),
      sum(when(yHit, 1L).otherwise(0L)).as("files_y"),
      sum(when(yHit, col("n_rows")).otherwise(0L)).as("rows_y"))
    val matches = scaled.agg(
      sum(when(col("x8").between(32, 63) && col("y8").between(64, 95), 1L)
        .otherwise(0L)).as("m_box"),
      sum(when(col("y8").between(64, 95), 1L).otherwise(0L)).as("m_y"))
    val joined = perLayout.crossJoin(broadcast(matches))
    val out = joined.select(col("layout"), lit("box").as("scenario"),
        col("n_files"), col("files_box").as("files_read"),
        col("rows_box").as("rows_read"), col("m_box").as("rows_matched"))
      .unionByName(joined.select(col("layout"), lit("y_only").as("scenario"),
        col("n_files"), col("files_y").as("files_read"),
        col("rows_y").as("rows_read"), col("m_y").as("rows_matched")))
    materialized(out, scaled).orderBy("layout", "scenario")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- HLL AUDIENCE OVERLAP: distinct-user intersection estimates
    // for every event-type pair by inclusion–exclusion over merged
    // registers — est(A∩B) = est(A) + est(B) − est(A∪B), where the
    // union sketch is the element-wise register MAX (exact for HLL, the
    // q153 linearity) — the audience-overlap question ("how many users
    // do search AND purchase") answered from 2 KiB register files per
    // segment, never a re-scan, exactly how audience systems do it at
    // 100 TB. Estimates use q149's int64 fixed-point estimator chain
    // (shared formula text); the exact intersection rides along as the
    // honesty column. Register arrays stay in-plan (zip_with/aggregate
    // HOFs over 256-element arrays — bounded, codegen'd). ----
    "q247_hll_overlap" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      def zOf(c: String) =
        s"aggregate($c, cast(0 as bigint), (acc, r) -> acc + shiftleft(1L, cast(53 - r as int)))"
      def nzOf(c: String) = s"size(filter($c, r -> r = 0))"
      def rawOf(z: String) =
        s"718272L * (shiftleft(1L, 53) div greatest(shiftright($z, 16), 1L))"
      def estOf(z: String, nz: String) =
        s"cast(case when $nz > 0 and ${rawOf(z)} <= 640000000L " +
          s"then cast(floor(256.0D * ln(256.0D / cast($nz as double)) * 1000000.0D) as bigint) " +
          s"else ${rawOf(z)} end as bigint)"
      val vals = Tables.events(s, d)
        .select(col("event_type").as("grp"), col("user_id").cast("string").as("key"))
        .distinct()
      val regs = vals.groupBy("grp")
        .agg(graft.functions.GraftExpressions.hll(col("key"), 8).as("regs"))
      val exact = vals.select(col("grp").as("type_a"), col("key"))
        .join(vals.select(col("grp").as("type_b"), col("key")), Seq("key"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(countDistinct("key").as("n_exact_common"))
      regs.select(col("grp").as("type_a"), col("regs").as("ra"))
        .join(regs.select(col("grp").as("type_b"), col("regs").as("rb")),
          col("type_a") < col("type_b"))
        .withColumn("ru", expr("zip_with(ra, rb, (x, y) -> greatest(x, y))"))
        .withColumn("est_a_micro", expr(estOf(zOf("ra"), nzOf("ra"))))
        .withColumn("est_b_micro", expr(estOf(zOf("rb"), nzOf("rb"))))
        .withColumn("est_union_micro", expr(estOf(zOf("ru"), nzOf("ru"))))
        .withColumn("est_int_micro",
          greatest(col("est_a_micro") + col("est_b_micro") - col("est_union_micro"),
            lit(0L)).cast("bigint"))
        .join(exact, Seq("type_a", "type_b"), "left")
        .select(col("type_a"), col("type_b"),
          col("est_a_micro"), col("est_b_micro"), col("est_union_micro"),
          col("est_int_micro"),
          coalesce(col("n_exact_common"), lit(0L)).cast("bigint").as("n_exact_common"))
        .orderBy("type_a", "type_b")
    },

    // ---- FK FAN-OUT PROFILE: the distribution of children per parent
    // across the orders→lineitem edge, zero-child parents included
    // (left join — an absent fan-out bucket 0 would hide orphan
    // parents). The join-planning companion to q228's cardinality
    // sketches and q218's FD profile: fan-out shape decides whether a
    // parent-side broadcast explodes, and a heavy tail here is the
    // skew q157 plans salts for. Bounded output (distinct fan-out
    // values); one map-side-combining count + a histogram aggregate. ----
    "q246_fk_fanout" -> { (s, d) =>
      val cnt = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("fanout"))
      val fan = Tables.orders(s, d).select(col("o_orderkey"))
        .join(cnt.withColumnRenamed("l_orderkey", "o_orderkey"),
          Seq("o_orderkey"), "left")
        .withColumn("fanout", coalesce(col("fanout"), lit(0L)))
      val tot = fan.agg(count(lit(1)).as("n_orders_total"))
      fan.groupBy("fanout").agg(count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(tot))
        .select(col("fanout").cast("bigint").as("fanout"),
          col("n_orders").cast("bigint").as("n_orders"),
          expr("(1000000 * n_orders) div n_orders_total")
            .cast("bigint").as("share_ppm"))
        .orderBy("fanout")
    },

    // ---- KMV join-size estimation across two star-schema edges — see
    // [[kmvEdge]]. The pre-flight a planner runs before committing a
    // 100 TB shuffle strategy, gated on exact estimator equality. ----
    "q228_join_size_kmv" -> { (s, d) =>
      kmvEdge("customer-orders",
          Tables.customer(s, d).select("c_custkey"),
          Tables.orders(s, d).select("o_custkey"))
        .unionByName(kmvEdge("orders-lineitem",
          Tables.orders(s, d).select("o_orderkey"),
          Tables.lineitem(s, d).select("l_orderkey")))
        .orderBy("edge")
    },

    // ---- RFM QUINTILE SEGMENTATION (recency / frequency / monetary —
    // the classic customer-value partitioning every commerce warehouse
    // maintains): per customer, days since last order (exact integer
    // microsecond arithmetic), order count, and exact cents spend; each
    // dimension scored 1–5 by VALUE-cutoff quintiles — cutoff k = the
    // value at rank ceil(k·n/5), found on the distinct-value frame via
    // the distributed two-phase PrefixSum (the q150/q254 rank-free
    // recipe — no global row-scale ntile window, whose tie-splitting is
    // engine-dependent anyway; ties here share a quintile by value, so
    // the rule is deterministic in both engines). ----
    "q264_rfm_segments" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val rfm = warmed(o.groupBy(col("o_custkey").as("c_custkey"))
        .agg(max(unix_micros(col("o_orderdate").cast("timestamp"))).as("last_us"),
          count(lit(1)).cast("bigint").as("frequency"),
          sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
            .cast("bigint").as("monetary_cents"))
        .crossJoin(broadcast(o.agg(max(unix_micros(col("o_orderdate").cast("timestamp"))).as("now_us"))))
        .select(col("c_custkey"),
          expr("(now_us - last_us) div 86400000000").cast("bigint").as("recency_days"),
          col("frequency"), col("monetary_cents")))
      // 1-row frame (cut1..cut4) of value cutoffs for one dimension —
      // ONE aggregate (max over the rank-condition guard), never four
      // filtered branches crossJoined: a 4-way self-join over shared
      // lineage is exactly the attribute-rewrite trap that silently
      // mismatched cutoffs at sf0.1 before this shape
      def quintileCuts(valueCol: String, prefix: String): DataFrame = {
        val vals = rfm.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c"))
        val cum = graft.functions.PrefixSum.inclusive(vals,
          Seq(col("v")), Seq((col("c"), "cum")))
        val withN = cum.crossJoin(broadcast(rfm.agg(count(lit(1)).as("n"))))
        val aggs = (1 to 4).map { k =>
          val rk = expr(s"($k * n + 4) div 5")
          max(when(col("cum") >= rk && col("cum") - col("c") < rk, col("v")))
            .as(s"${prefix}_cut$k")
        }
        withN.agg(aggs.head, aggs.tail: _*)
      }
      def score(v: String, prefix: String) =
        (lit(1) + (col(v) > col(s"${prefix}_cut1")).cast("int") +
          (col(v) > col(s"${prefix}_cut2")).cast("int") +
          (col(v) > col(s"${prefix}_cut3")).cast("int") +
          (col(v) > col(s"${prefix}_cut4")).cast("int")).cast("int")
      // the three dimensions' cut builds are independent and each runs
      // an EAGER job on the construction path (PrefixSum pins its range
      // partition with a localCheckpoint): submit them from a bounded
      // pool (guide §2.6, the graft.core.Par pattern) so the three
      // checkpoint jobs back-fill each other's idle cores instead of
      // serializing — rfm is already warmed, so the thunks only share a
      // read-only cache
      val Seq(rCuts, fCuts, mCuts) = graft.core.Par.run(Seq(
        () => quintileCuts("recency_days", "r"),
        () => quintileCuts("frequency", "f"),
        () => quintileCuts("monetary_cents", "m")), parallelism = 3)
      val result = rfm
        .crossJoin(broadcast(rCuts))
        .crossJoin(broadcast(fCuts))
        .crossJoin(broadcast(mCuts))
        .select(col("c_custkey"), col("recency_days"), col("frequency"),
          col("monetary_cents"),
          score("recency_days", "r").as("r_quintile"),
          score("frequency", "f").as("f_quintile"),
          score("monetary_cents", "m").as("m_quintile"))
      materialized(result, rfm).orderBy("c_custkey")
    },

    // ---- correlated EXISTS + NOT EXISTS (decorrelated by Catalyst into
    //      semi/anti joins — verify with .explain) ----
    "q90_exists" -> { (s, d) =>
      views(s, d, "customer", "orders")
      s.sql("""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
                            AND o2.o_totalprice < 50000)
        ORDER BY c_custkey
      """)
    },

    // ---- Bloom-filter semi-join reduction: the runtime-filter pattern
    // for fact⋈dim joins where the dim key SET is too big to broadcast
    // as a hash relation but its Bloom filter (~16 bits/key) is
    // megabytes. Build the filter ONCE over the dim keys (native
    // linear-merge aggregate — partials OR map-side), broadcast the
    // single-row result, and prune the fact scan BEFORE its exchange:
    // the shuffle then moves only rows that can possibly join. False
    // positives are removed by the real join that follows, so the
    // result is identical to the plain join — which is exactly what
    // the oracle runs. The join is hinted shuffle_hash because the
    // 100 TB dim does NOT broadcast: pruning the exchange is the whole
    // point. ----
    "q121_bloom_semijoin" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      import graft.functions.GraftExpressions.{bloom, bloomMightContain}
      val dim = Tables.customer(s, d)
        .where(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > lit(1000.0))
        .select(col("c_custkey"))
      val bf = dim.agg(bloom(col("c_custkey"), 1 << 20, 7).as("bf"))
      val pruned = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
        .crossJoin(broadcast(bf))
        .where(bloomMightContain(col("bf"), col("o_custkey"), 7))
        .drop("bf")
      val result = pruned
        .join(dim.hint("shuffle_hash"), pruned("o_custkey") === dim("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
      result.orderBy("o_orderpriority")
    },

    // ---- generator over an array column: per-component vector stats.
    //      Components quantized to int64 first so the aggregates are
    //      exact and order-independent (see VectorFunctions) ----
    "q91_explode_vector" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(VectorFunctions.quantize(col("embedding"))))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_comps"),
          min(col("col")).as("min_q"),
          max(col("col")).as("max_q"),
          sum(col("col")).as("sum_q"),
          count(when(col("col") > 0, 1)).as("n_positive"))
        .orderBy("vec_id")
    },

    // ---- MapType: build a segment→count map per nation, then access ----
    "q92_map_funcs" -> { (s, d) =>
      val segCounts = Tables.customer(s, d)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
      segCounts.groupBy("c_nationkey")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("c_mktsegment"), col("n"))))).as("seg_map"))
        .select(col("c_nationkey"),
          size(col("seg_map")).as("n_segments"),
          coalesce(element_at(col("seg_map"), "BUILDING"), lit(0L)).as("n_building"),
          array_join(map_keys(col("seg_map")), ",").as("segments"),
          aggregate(map_values(col("seg_map")), lit(0L), (acc, x) => acc + x).as("n_total"))
        .orderBy("c_nationkey")
    },

    // ---- unpivot (wide per-brand aggregates → long metric/value) ----
    "q93_unpivot" -> { (s, d) =>
      val wide = Tables.part(s, d)
        .groupBy("p_brand")
        .agg(count(lit(1)).cast("double").as("n_parts"),
          max(col("p_size")).cast("double").as("max_size"),
          sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("sum_retail"))
      wide.unpivot(
          Array(col("p_brand")),
          Array(col("n_parts"), col("max_size"), col("sum_retail")),
          "metric", "value")
        .orderBy("p_brand", "metric")
    },

    // ---- array function spread over a collected set ----
    "q96_array_funcs" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_suppkey")
        .agg(sort_array(collect_set(col("l_returnflag"))).as("flags"))
        .select(col("l_suppkey"),
          array_join(col("flags"), ",").as("flags_csv"),
          array_contains(col("flags"), "A").as("has_a"),
          size(array_intersect(col("flags"), array(lit("A"), lit("R")))).as("n_ar"),
          element_at(col("flags"), 1).as("first_flag"),
          element_at(col("flags"), -1).as("last_flag"),
          size(col("flags")).as("n_flags"))
        .orderBy("l_suppkey")
    },

    // ---- regex function spread ----
    "q97_regex_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          regexp_extract(col("p_type"), "(\\w+)$", 1).as("type_tail"),
          size(regexp_extract_all(col("p_name"), lit("a"), lit(0))).as("n_a"),
          col("p_brand").rlike("[0-9]").as("brand_has_digit"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
        .orderBy("p_partkey")
    },

    // ---- window frame spread: value-RANGE frame + first/nth/last ----
    "q99_window_frames" -> { (s, d) =>
      views(s, d, "orders")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                                   RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS BIGINT)
                 AS n_similar,
               first_value(o_orderkey) OVER w AS first_ok,
               nth_value(o_orderkey, 2) OVER w AS second_ok,
               last_value(o_orderkey) OVER w AS last_ok
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_orderkey
      """)
    },

    // ---- transparent materialized-view rewrite (graft.plans
    // .MvAggregateRewrite — the optimizer-Rule extension point): build
    // the (l_returnflag, l_linestatus) rollup once as an artifact,
    // register it, and run the DIRECT aggregate over lineitem. The rule
    // rewrites the plan to re-aggregate the MV's partial states; the
    // query REQUIREs at plan time that the optimized plan scans the MV
    // and NOT the base table, then executes the rewritten plan (the
    // checkpoint materializes it while the MV registration is active).
    // Decimal/count re-aggregation is exact, so the oracle is simply the
    // direct GROUP BY over lineitem — result equality IS the rewrite's
    // correctness proof. ----
    "q169_mv_rewrite" -> { (s, d) =>
      val mvPath = graft.plans.MvRewrite.lineitemRollup(s, d)
      graft.plans.MvRewrite.ensure(s)
      s.conf.set("spark.graft.mv.lineitem.path", mvPath)
      try {
        // `out` (the frame the checkpoint executes) includes a result-side
        // cast that CollapseProject folds into the aggregate — the REQUIRE
        // runs on ITS optimized plan, so the gate proves the plan that
        // actually produced the output read the MV, not the fact table
        val out = Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
            count(lit(1)).as("n_rows"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("sum_qty").cast("double").as("sum_qty"), col("n_rows"))
        val scans = out.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.mkString(",")
              case r => r.toString
            }
        }
        require(scans.exists(_.contains("mv_lineitem_rfls")),
          s"MV rewrite did not fire; scans=$scans")
        require(!scans.exists(_.contains("lineitem.parquet")),
          s"base table still scanned after MV rewrite; scans=$scans")
        materialized(out).orderBy("l_returnflag", "l_linestatus")
      } finally {
        // plan-dump mode explains the returned (lazy) frame after this
        // returns — keep the registration active there so PLANS.md shows
        // the rewritten plan; the gated path deregisters as usual
        if (!graft.core.QueryPack.planDumpMode)
          s.conf.unset("spark.graft.mv.lineitem.path")
      }
    },

    // ---- approximate percentile (t-digest-style sketch). Like q21's
    //      HLL oracle: the raw estimate is sketch-specific, so the gated
    //      output is the exact quantile plus a boolean asserting each
    //      engine's OWN estimate lands within 25% of it ----
    // probe point 0.75 (exact binary fraction) on integral l_quantity so
    // the EXACT side interpolates identically in both engines (the q94
    // portability argument); the sketch estimates stay engine-local.
    // Envelope 25%, not 10%: DuckDB's approx_quantile t-digest varies
    // with thread count/row order, and a run whose estimate lands near
    // the envelope boundary would flap the gated boolean. Observed error
    // is low single-digit % on both engines; 25% keeps the gate a real
    // sanity bound with no realistic boundary risk. (Residual: a
    // pathological t-digest run could still exceed it — accepted.)
    "q78_approx_percentile" -> { (s, d) =>
      views(s, d, "lineitem")
      s.sql("""
        SELECT l_returnflag,
               percentile(l_quantity, 0.75) AS exact_p75,
               abs(approx_percentile(l_quantity, 0.75, 1000) - percentile(l_quantity, 0.75))
                 <= percentile(l_quantity, 0.75) * 0.25 AS approx_within_envelope
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    },

    // ---- HyperLogLog distinct-count sketch (Flajolet et al. 2007) as
    // the FIFTH native TypedImperativeAggregate — the strong form of
    // q21: where q21 gates Spark's own HLL++ behind a 10% envelope
    // boolean (estimates are engine-local), this one is built on the
    // project's md5 hash, so the DuckDB oracle rebuilds the IDENTICAL
    // 256-register file and the gate compares registers AND estimate
    // EXACTLY — the q104 Count-Min discipline applied to cardinality.
    // Grouped by l_returnflag: the 100 TB pattern is per-group distinct
    // counts in ONE shuffle of 2 KiB register buffers (map-side
    // partial-merge by register max) versus COUNT(DISTINCT)'s shuffle
    // of every key. Estimate arithmetic is all-int64 fixed point
    // (micro-units): Z is kept scaled by 2^53 so every register term
    // 2^(53-reg) is integral, and the standard small-range linear
    // counting branch (raw <= 2.5m with empty registers) uses the
    // established per-term ln() micro-quantization. n_true (the exact
    // distinct) rides along as the honesty column — at sf0.01 the raw
    // HLL estimate lands within ~1.04/sqrt(256) = 6.5% of it. ----
    "q149_hll_registers" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val vals = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("grp"),
                col("l_orderkey").cast("string").as("key"))
      val truth = vals.groupBy("grp").agg(countDistinct(col("key")).as("n_true"))
      val rows = vals.groupBy("grp")
        .agg(graft.functions.GraftExpressions.hll(col("key"), 8).as("regs"))
        .select(col("grp"), posexplode(col("regs")).as(Seq("idx", "reg")))
        .select(col("grp"), col("idx").cast("bigint").as("idx"), col("reg"))
      val summ = rows.groupBy("grp")
        .agg(sum(expr("shiftleft(1L, cast(53 - reg as int))")).as("z_scaled"),
             sum(when(col("reg") === 0L, 1L).otherwise(0L)).as("n_zero"))
        .withColumn("raw_est_micro",
          expr("718272L * (shiftleft(1L, 53) div greatest(shiftright(z_scaled, 16), 1L))"))
        .withColumn("est_micro",
          when(col("n_zero") > 0 && col("raw_est_micro") <= lit(640000000L),
            expr("cast(floor(256.0D * ln(256.0D / cast(n_zero as double)) * 1000000.0D) as bigint)"))
          .otherwise(col("raw_est_micro")))
      val result = rows.join(summ, "grp").join(truth, "grp")
        .select(col("grp"), col("idx"), col("reg"), col("z_scaled"),
                col("n_zero"), col("raw_est_micro"), col("est_micro"), col("n_true"))
      materialized(result).orderBy("grp", "idx")
    },

    // ---- HLL RE-AGGREGATION: the property that makes sketches the
    // 100 TB answer to distinct counts. Daily per-type partial register
    // files (the "pre-aggregated rollup" a warehouse would store) are
    // merged by element-wise register MAX and must equal the registers
    // computed directly over the whole window — the Spark side genuinely
    // runs BOTH paths (partial HLL per (type, day) -> posexplode ->
    // max-merge, vs one direct HLL per type) and emits them side by side
    // with an equality column; the oracle replays the md5/rho chain once
    // (the identity max-merge == direct holds by construction in SQL).
    // At scale this is the daily-cube pattern: store 2 KiB of registers
    // per (dimension, day), answer any date-range distinct query by
    // merging registers — never re-scanning the fact table. ----
    "q153_hll_rollup" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      val ev = Tables.events(s, d)
        .select(col("event_type").as("grp"),
                expr("unix_micros(ts) div 86400000000").as("day_id"),
                col("user_id").cast("string").as("key"))
      val daily = ev.groupBy("grp", "day_id")
        .agg(graft.functions.GraftExpressions.hll(col("key"), 8).as("regs"))
      val merged = daily
        .select(col("grp"), posexplode(col("regs")).as(Seq("idx", "merged_reg")))
        .groupBy("grp", "idx")
        .agg(max(col("merged_reg")).as("merged_reg"))
      val direct = ev.groupBy("grp")
        .agg(graft.functions.GraftExpressions.hll(col("key"), 8).as("regs"))
        .select(col("grp"), posexplode(col("regs")).as(Seq("idx", "direct_reg")))
      val truth = ev.groupBy("grp")
        .agg(countDistinct(col("key")).as("n_true"),
             countDistinct(col("day_id")).as("n_days"))
      val result = merged.join(direct, Seq("grp", "idx")).join(truth, "grp")
        .select(col("grp"), col("idx").cast("bigint").as("idx"),
                col("merged_reg"), col("direct_reg"),
                (col("merged_reg") === col("direct_reg")).as("merge_exact"),
                col("n_days"), col("n_true"))
      materialized(result).orderBy("grp", "idx")
    },

    // ---- Z-ORDER LAYOUT vs LINEAR SORT: the data-layout decision that
    // dominates scan cost at 100 TB. Both layouts assign the SAME rows
    // to 64 files — `linear` sorts by the x dimension alone (64
    // equal-width x bins), `zorder` sorts by the Morton interleave of
    // the two normalized 8-bit cell keys (graft_zorder2, a native
    // codegen expression — top 6 z bits = an 8x8 spatial grid). Per
    // file we compute the parquet-style min/max zone map, then replay
    // two predicates against the zone maps alone: a 1/8 x 1/8
    // rectangle, and a y-only band. files_read/rows_read is what a
    // zone-map-pruning scan would touch: the linear layout prunes x
    // fine but reads EVERY file for the y-only band; z-order prunes
    // both. rows_matched (layout-independent) is the honesty column.
    // All integer arithmetic; the oracle replays the interleave as an
    // 8-term bit sum. ----
    "q154_zorder_layout" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      layoutReplay(s, d,
        _.withColumn("z", graft.functions.GraftExpressions.zorder2(col("x8"), col("y8")))
          .withColumn("file_z", expr("z div 1024")),
        Seq("file_z" -> "zorder", "file_lin" -> "linear"))
    },

    // ---- HILBERT vs MORTON vs LINEAR LAYOUT (q154 extended with the
    // curve that actually wins): the Hilbert index (native codegen
    // [[graft.functions.HilbertIndex2]], 8 rotate-and-reflect rounds)
    // guarantees consecutive indices are GRID NEIGHBORS, so equal-count
    // files cover compact blobs instead of Morton's half-plane jumps —
    // the layout decision data platforms (Delta/Iceberg OPTIMIZE) moved
    // to after Z-order. Same harness as q154: identical rows → 64
    // files per layout, parquet-style min/max zone maps, two predicate
    // replays (box + y-only band), rows_matched as the honesty column.
    // The gate's value IS the comparison table; the oracle replays the
    // 8 rotation rounds as unrolled CTE projections over the
    // DEDUPLICATED (x8, y8) grid (≤ 256² cells however big the table)
    // and joins the curve keys back — the replay stays cell-bounded
    // while the Spark side's native expression is a per-row codegen
    // map. ----
    "q444_hilbert_layout" -> { (s, d) =>
      graft.functions.GraftExpressions.ensure(s)
      layoutReplay(s, d,
        _.withColumn("z", graft.functions.GraftExpressions.zorder2(col("x8"), col("y8")))
          .withColumn("h", graft.functions.GraftExpressions.hilbert2(col("x8"), col("y8")))
          .withColumn("file_z", expr("z div 1024"))
          .withColumn("file_h", expr("h div 1024")),
        Seq("file_z" -> "zorder", "file_h" -> "hilbert", "file_lin" -> "linear"))
    },

    // ---- V2 FUNCTION CATALOG (the seventh and last public Catalyst
    // extension surface): the SAME Hilbert kernel q444 ships as a
    // codegen Expression, resolved here from PLAIN SQL TEXT through a
    // catalog-registered ScalarFunction — `graftmem.hilbert2(x8, y8)`
    // ([[graft.sources.GraftHilbertUnbound]] bound via
    // [[graft.sources.GraftMemCatalog]]'s FunctionCatalog half, the
    // Iceberg-system-functions pattern; the analyzer rewrites the call
    // to a direct Invoke of the magic method). Lane: the FULL order-8
    // curve domain — every (x8, y8) cell of the 256×256 grid — indexed
    // and digested per 32-column x-band, with n_distinct pinning curve
    // BIJECTIVITY inside each band (any kernel slip collides or skips
    // an index and fails n_distinct or sum_h). The REQUIRE pins that
    // resolution went through the V2 function (an object Invoke /
    // ApplyFunctionExpression in the analyzed plan), not a session
    // builtin; the oracle replays the 8 rotation rounds over the same
    // grid (q444's unrolled-CTE replay). ----
    "q464_v2_function_catalog" -> { (s, _) =>
      s.conf.set("spark.sql.catalog.graftmem",
        classOf[graft.sources.GraftMemCatalog].getName)
      val grid = s.range(0, 256).select(col("id").as("x8"))
        .crossJoin(s.range(0, 256).select(col("id").as("y8")))
      val h = grid.selectExpr("x8", "y8", "graftmem.hilbert2(x8, y8) AS h")
      val viaV2 = h.queryExecution.analyzed.expressions.exists(_.exists {
        case i: org.apache.spark.sql.catalyst.expressions.objects.Invoke =>
          i.toString.contains("GraftHilbertFunction")
        case _: org.apache.spark.sql.catalyst.expressions.ApplyFunctionExpression =>
          true
        case _ => false
      })
      require(viaV2,
        s"q464: hilbert2 did not resolve through the V2 FunctionCatalog:\n" +
          s"${h.queryExecution.analyzed}")
      h.groupBy(expr("x8 div 32").cast("int").as("x_band"))
        .agg(count(lit(1)).cast("bigint").as("n_cells"),
          count_distinct(col("h")).cast("bigint").as("n_distinct"),
          sum("h").cast("bigint").as("sum_h"),
          min("h").cast("bigint").as("min_h"),
          max("h").cast("bigint").as("max_h"))
        .orderBy("x_band")
    },

    // ---- ANALYZE TABLE: the optimizer-statistics pass every
    // cost-based engine runs before planning 100 TB joins — per-column
    // row count / null count / exact NDV / min / max over a
    // representative lineitem column set. One cached scan feeds the
    // per-column aggregate passes (exact NDV is one shuffle per
    // column); the production variant of this exact pattern swaps
    // countDistinct for the q149 HLL registers (one pass, 2 KiB per
    // column) — here the gate wants exact values. Doubles are cast to
    // DECIMAL(18,2) BEFORE min/max so the string rendering is
    // identical in both engines; dates and int64s render identically
    // by construction. ----
    "q156_analyze_stats" -> { (s, d) =>
      val preps: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "l_orderkey" -> col("l_orderkey"),
        "l_partkey" -> col("l_partkey"),
        "l_suppkey" -> col("l_suppkey"),
        "l_quantity" -> col("l_quantity").cast("decimal(18,2)"),
        "l_extendedprice" -> col("l_extendedprice").cast("decimal(18,2)"),
        "l_returnflag" -> col("l_returnflag"),
        "l_shipdate" -> unix_micros(col("l_shipdate").cast("timestamp")))
      // Two passes, NO multi-distinct aggregate. Pass 1: every
      // non-distinct statistic (count/nulls/min/max for all 7 columns)
      // in ONE ordinary aggregate — partial-aggregated map-side, no
      // Expand. Pass 2: the 7 exact NDVs as 7 UNION branches of
      // narrow per-column two-stage distincts — one action, branches
      // scheduled concurrently, each shuffling only the column's
      // post-partial-dedup values. (Rejected shapes, all measured at
      // sf0.1: one 7-way multi-DISTINCT aggregate = 18 s — Catalyst
      // plans an 8-projection Expand of the whole scan; a single
      // unpivoted (column, value-string) stream = 6.3 s — 4.2M string
      // casts; 7 sequential countDistinct jobs over a cached scan
      // = 5.7 s of serialized job overhead. This shape: 4.1 s, and at
      // cluster scale it is also the right plan — narrow typed
      // shuffles, no row explosion.)
      val aggs = count(lit(1)).cast("bigint").as("n_rows") +: preps.flatMap {
        case (n, p) => Seq(
          sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"null_$n"),
          min(p).cast("string").as(s"min_$n"),
          max(p).cast("string").as(s"max_$n"))
      }
      // warmed: the 1-row agg result is selected 7 times below — without
      // the persist each branch would re-run the whole aggregate
      val row = warmed(Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*))
      val ndv = preps.map { case (n, p) =>
        Tables.lineitem(s, d).select(p.as("v")).filter(col("v").isNotNull)
          .distinct().agg(count(lit(1)).as("ndv"))
          .select(lit(n).as("column_name"), col("ndv"))
      }.reduce(_ unionByName _)
      val result = preps.map { case (n, _) =>
        row.select(lit(n).as("column_name"), col("n_rows"),
          col(s"null_$n").as("n_null"),
          col(s"min_$n").as("min_val"), col(s"max_$n").as("max_val"))
      }.reduce(_ unionByName _)
        .join(ndv, "column_name")
        .select(col("column_name"), col("n_rows"), col("n_null"),
                col("ndv"), col("min_val"), col("max_val"))
      materialized(result, row).orderBy("column_name")
    },

    // ---- exact interpolated percentiles (type-7 quantiles). l_quantity
    //      holds integral doubles and the probe points are exact binary
    //      fractions, so the interpolation is exact in both engines ----
    "q94_percentiles" -> { (s, d) =>
      views(s, d, "lineitem")
      s.sql("""
        SELECT l_returnflag,
               percentile(l_quantity, 0.25) AS p25,
               percentile(l_quantity, 0.5)  AS p50,
               percentile(l_quantity, 0.75) AS p75,
               min(l_quantity) AS qmin,
               max(l_quantity) AS qmax
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    },

    // ---- frequent-itemset pair mining (A-priori levels 1+2, Agrawal &
    // Srikant VLDB 1994) over order baskets, at the brand granularity:
    // which product brands are co-ordered, with support and lift. The
    // 100 TB shape is the classic one: dedup to (order, item) FIRST
    // (partial aggregation collapses repeat purchases before any
    // pairing), pair-generate by a self-join CO-PARTITIONED on the order
    // key (per-order work is |basket|², bounded by basket size, never
    // corpus²), and aggregate into a pair space bounded by |vocabulary|²
    // — brands here, so ≤ 25² rows regardless of fact volume. Lift is
    // exact int64 fixed-point: floor(1e6 · N · supp(ab) / (supp(a) ·
    // supp(b))) — no doubles anywhere. Support floor: pairs in ≥ 0.1%
    // of baskets (scales with N, so the report stays stable across
    // sf). ----
    "q186_brand_affinity" -> { (s, d) =>
      val items = warmed(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
        .join(broadcast(Tables.table(s, d, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("ok"), col("p_brand").as("b")).distinct())
      val nOrders = items.agg(countDistinct(col("ok")).as("n"))
      val supp = items.groupBy("b").agg(count(lit(1)).as("s"))
      val pairs = items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.b") < col("y.b"))
        .groupBy(col("x.b").as("b1"), col("y.b").as("b2"))
        .agg(count(lit(1)).as("s12"))
      val result = pairs
        .join(broadcast(supp.select(col("b").as("b1"), col("s").as("s1"))), "b1")
        .join(broadcast(supp.select(col("b").as("b2"), col("s").as("s2"))), "b2")
        .crossJoin(broadcast(nOrders))
        .filter(col("s12") * 1000 >= col("n"))
        .select(col("b1"), col("b2"),
          col("s12").cast("bigint").as("s12"),
          col("s1").cast("bigint").as("s1"),
          col("s2").cast("bigint").as("s2"),
          expr("(1000000 * s12 * n) div (s1 * s2)").cast("bigint").as("lift_q"))
      materialized(result, items).orderBy("b1", "b2")
    },

    // ---- exact equi-depth histogram (the optimizer-statistics
    // companion to q154's zone maps, q156's NDV, and q170's moments):
    // 8 equal-population buckets over lineitem price cents, built with
    // the DISTRIBUTED rank — global rank via the two-phase PrefixSum
    // (range partition → per-partition scan → broadcast offsets), never
    // `row_number() OVER (ORDER BY ...)`'s single-task global sort.
    // That substitution is the whole 100 TB story: the plan stays
    // parallel at any row count, and the bucket math is pure integer
    // ((rank−1)·8 div N). Bucket populations differing by at most 1
    // and monotone [lo, hi] ranges are visible in the output. ----
    "q193_equidepth_hist" -> { (s, d) =>
      val rows = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)")
            .as("cents"))
      val ranked = graft.functions.PrefixSum.inclusive(rows,
        Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
        Seq((lit(1L), "rk")))
      val n = ranked.agg(max("rk").as("n"))
      val result = ranked.crossJoin(broadcast(n))
        .withColumn("bucket", expr("((rk - 1) * 8) div n").cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          min("cents").cast("bigint").as("lo_cents"),
          max("cents").cast("bigint").as("hi_cents"))
      materialized(result).orderBy("bucket")
    },

    // ---- skyline (Pareto frontier) per brand (Börzsönyi, Kossmann,
    // Stocker — "The Skyline Operator", ICDE 2001): the parts no other
    // same-brand part beats on BOTH price (lower better) and size
    // (higher better). Spark computes it in ONE windowed pass per
    // brand — sort by price, a part is dominated iff some STRICTLY
    // cheaper part has size >= its size (RANGE ... 1 PRECEDING cummax)
    // or some equal-priced part has size > its size (the RANGE CURRENT
    // ROW peer-group max) — linear work after the sort, never the
    // quadratic all-pairs dominance test. The ORACLE is deliberately
    // the opposite algorithm: DuckDB's NOT EXISTS quadratic dominance
    // definition — two independent formulations must agree row-for-row.
    // Prices compare as exact cents (the engine's money discipline). ----
    "q205_skyline" -> { (s, d) =>
      val parts = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          expr("cast(cast(p_retailprice as decimal(18,2)) * 100 as bigint)")
            .as("price_c"))
      val wCheaper = Window.partitionBy("p_brand").orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wPeer = Window.partitionBy("p_brand").orderBy("price_c")
        .rangeBetween(Window.currentRow, Window.currentRow)
      val result = parts
        .withColumn("max_sz_cheaper", max("p_size").over(wCheaper))
        .withColumn("max_sz_peer", max("p_size").over(wPeer))
        .filter((col("max_sz_cheaper").isNull ||
                 col("max_sz_cheaper") < col("p_size")) &&
                col("max_sz_peer") === col("p_size"))
        .select(col("p_brand"), col("p_partkey"), col("price_c"),
          col("p_size").cast("int").as("p_size"))
      result.orderBy("p_brand", "p_partkey")
    },

    // ---- data-quality expectation suite (the dbt-tests / Great-
    // Expectations contract run, as one query): referential-integrity
    // orphan counts across the star schema plus value-range and
    // not-null assertions, each reported as (check, n_violations,
    // n_scanned) — the table a warehouse gates its loads on. Shape:
    // FK checks are LEFT ANTI joins with the dimension side broadcast
    // (Catalyst picks it — the dims are key-only projections); value
    // checks are conditional aggregates on a single scan each; the
    // result is a fixed handful of rows whatever the data volume.
    // Zero-violation rows are the contract PASSING — they must appear
    // (an absent check is not a passed check). ----
    "q217_dq_expectations" -> { (s, d) =>
      val cust = Tables.customer(s, d)
      val ords = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val ev = Tables.events(s, d)
      def fkCheck(name: String, fact: DataFrame, key: String,
                  dim: DataFrame, dimKey: String): DataFrame =
        fact.join(dim.select(col(dimKey).as("__k")),
            col(key) === col("__k"), "left_anti")
          .agg(count(lit(1)).cast("bigint").as("n_violations"))
          .crossJoin(fact.agg(count(lit(1)).cast("bigint").as("n_scanned")))
          .select(lit(name).as("check"), col("n_violations"), col("n_scanned"))
      def valCheck(name: String, df: DataFrame,
                   bad: org.apache.spark.sql.Column): DataFrame =
        df.agg(sum(when(bad, 1L).otherwise(0L)).cast("bigint").as("n_violations"),
            count(lit(1)).cast("bigint").as("n_scanned"))
          .select(lit(name).as("check"), col("n_violations"), col("n_scanned"))
      val result =
        fkCheck("lineitem_orphan_orderkey", li, "l_orderkey", ords, "o_orderkey")
          .unionByName(fkCheck("orders_orphan_custkey", ords, "o_custkey",
            cust, "c_custkey"))
          .unionByName(fkCheck("events_user_not_customer", ev, "user_id",
            cust, "c_custkey"))
          .unionByName(valCheck("orders_nonpositive_total", ords,
            col("o_totalprice") <= 0))
          .unionByName(valCheck("customer_null_name", cust,
            col("c_name").isNull || col("c_name") === ""))
          .unionByName(valCheck("events_nonpositive_value", ev,
            col("value") <= 0))
      result.orderBy("check")
    },

    // ---- functional-dependency validation (the data-profiling step —
    // cf. Papenbrock et al., "Functional dependency discovery", VLDB
    // 2015 — run in VALIDATION mode over declared candidate FDs, the
    // way a warehouse checks its assumed keys): for each candidate
    // determinant → dependent pair, how many determinant groups map to
    // MORE than one dependent value, and how bad is the worst group?
    // Shape per FD: one map-side-combining distinct-pair collapse,
    // then a groups-sized aggregate — never a pairwise comparison; the
    // output is one row per declared FD. nation→region must HOLD
    // (n_violating = 0, the passing contract row); brand→type and
    // user→event-type are expected to fail — profiling reports the
    // degree, not just the bit. ----
    "q218_fd_profile" -> { (s, d) =>
      def fd(name: String, df: DataFrame, det: String, dep: String): DataFrame = {
        val pairs = df.select(col(det).as("k"), col(dep).as("v")).distinct()
        pairs.groupBy("k").agg(count(lit(1)).as("n_vals"))
          .agg(count(lit(1)).cast("bigint").as("n_groups"),
            sum(when(col("n_vals") > 1, 1L).otherwise(0L))
              .cast("bigint").as("n_violating"),
            max("n_vals").cast("bigint").as("max_distinct"))
          .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
            col("max_distinct"))
      }
      val result =
        fd("nation_to_region", Tables.nation(s, d), "n_nationkey", "n_regionkey")
          .unionByName(fd("brand_to_type", Tables.part(s, d), "p_brand", "p_type"))
          .unionByName(fd("cust_to_nation", Tables.customer(s, d),
            "c_custkey", "c_nationkey"))
          .unionByName(fd("user_to_event_type", Tables.events(s, d),
            "user_id", "event_type"))
          .unionByName(fd("order_to_status", Tables.orders(s, d),
            "o_orderkey", "o_orderstatus"))
      result.orderBy("fd")
    },

    // ---- FUNCTIONAL-DEPENDENCY DISCOVERY (the TANE/profiling
    // counterpart to q218's validation of DECLARED FDs): for EVERY
    // ordered attribute pair (A → B) over the part dimension's
    // descriptive columns, compare |distinct A| with |distinct (A,B)|
    // — equal means the FD holds exactly; the surplus counts
    // lhs-groups that map to >1 rhs value (the violation degree a
    // schema-inference tool ranks candidates by). The mfgr attribute
    // is derived (first digit of brand), so brand → mfgr must hold by
    // construction while mfgr → brand must not — a built-in positive
    // and negative control. One table scan exploded ×12 map-side;
    // the distinct-collapse is the only shuffle; output is pairs²-
    // bounded. ----
    "q381_fd_discovery" -> { (s, d) =>
      val p = Tables.part(s, d).select(
        expr("substr(p_brand, 7, 1)").as("mfgr"), col("p_brand").as("brand"),
        col("p_type").as("type"), col("p_size").cast("string").as("size"))
      val attrs = Seq("mfgr", "brand", "type", "size")
      val combos = for { a <- attrs; b <- attrs if a != b } yield
        struct(lit(a).as("lhs"), lit(b).as("rhs"),
          col(a).as("av"), col(b).as("bv"))
      val long = p.select(explode(array(combos: _*)).as("t")).select("t.*")
      val result = long.groupBy("lhs", "rhs")
        .agg(countDistinct(col("av")).cast("bigint").as("n_lhs"),
          countDistinct(concat_ws("|", col("av"), col("bv")))
            .cast("bigint").as("n_pairs"))
        .withColumn("holds", col("n_pairs") === col("n_lhs"))
        .withColumn("extra_pairs",
          (col("n_pairs") - col("n_lhs")).cast("bigint"))
      result.orderBy("lhs", "rhs")
    },

    // ---- HISTOGRAM SELECTIVITY-ESTIMATION AUDIT: a 20-bucket
    // equi-width histogram of order value (the optimizer-statistics
    // structure behind every cost-based range-predicate estimate),
    // probed with four data-derived range predicates — estimated rows
    // by the textbook fully-covered-buckets + linear-interpolated-edge
    // rule vs the exact count, error in ppm. This measures how far the
    // within-bucket-uniform assumption drifts on a real (bell-ish)
    // value distribution — the number a stats-collection cadence
    // decision needs. ONE SQL text both engines run verbatim (the
    // q369 discipline): bucket ids and bounds avoid the div-token
    // divergence via exact-double floor division; exact counts are a
    // 4×-bounded predicate scan. ----
    "q394_selectivity_audit" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(selectivitySql)
    },

    // ---- JOIN-CARDINALITY ESTIMATOR AUDIT (Selinger et al. 1979):
    // the System-R uniform-key estimate |A ⋈ B| ≈ |A|·|B| / max(ndv_A,
    // ndv_B) checked against the exact join count for every star-schema
    // FK edge — the audit that says which edges the uniform assumption
    // misprices (skewed fan-outs, q246's territory) and by how much
    // (est/actual in milli). ONE shared SQL text; exact counts are
    // equi-join aggregates, the estimate is one floor on an
    // exactly-representable double product. ----
    "q395_join_card_audit" -> { (s, d) =>
      Seq("orders", "lineitem", "customer", "part", "supplier")
        .foreach(t => Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql(joinCardSql)
    },

    // ---- PEARSON CORRELATION MATRIX of the lineitem measures
    // (quantity, extended price, discount, tax) — the numeric-column
    // dependence profile an ANALYZE-stats pass (q156) stops short of,
    // and the input a feature-selection or synthetic-data-validation
    // step reads first. ONE scan computes all 14 exact power sums
    // (4 sums, 4 squares, 6 cross products — cents-quantized int64
    // into DECIMAL(38,0)/HUGEINT accumulators, the q334 discipline);
    // the 6 pair rows unpivot from the single-row sum frame and each r
    // is one sqrt over exact integers with identical formula text. ----
    "q396_corr_matrix" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(corrMatrixSql(x => s"CAST($x AS DECIMAL(38,0))"))
    }
  )

  /** q396 template: `big` maps an int64 expression to the wide exact
    * accumulator type (Spark DECIMAL(38,0) / DuckDB HUGEINT — equal
    * integers render to identical doubles). */
  private def corrMatrixSql(big: String => String): String = {
    val cols = Seq("qty", "price", "disc", "tax")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    val crossSums = pairs.map { case (a, b) =>
      s"SUM(${big(a)} * $b) AS sp_${a}_$b" }.mkString(",\n|         ")
    val branches = pairs.map { case (a, b) =>
      s"""  SELECT '$a' AS col_a, '$b' AS col_b, n,
         |         s_$a AS sx, s_$b AS sy, ss_$a AS sxx, ss_$b AS syy,
         |         sp_${a}_$b AS sxy
         |  FROM s""".stripMargin }.mkString("\nUNION ALL\n")
    s"""WITH c AS (
       |  SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qty,
       |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price,
       |         CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS disc,
       |         CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS tax
       |  FROM lineitem),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         ${cols.map(x => s"CAST(SUM($x) AS BIGINT) AS s_$x").mkString(",\n|         ")},
       |         ${cols.map(x => s"SUM(${big(x)} * $x) AS ss_$x").mkString(",\n|         ")},
       |         $crossSums
       |  FROM c),
       |p AS (
       |$branches
       |)
       |SELECT col_a, col_b, n,
       |       CAST(floor(1000.0 * CAST(${big("n")} * sxy - ${big("sx")} * sy AS DOUBLE)
       |            / sqrt(CAST(${big("n")} * sxx - ${big("sx")} * sx AS DOUBLE)
       |                 * CAST(${big("n")} * syy - ${big("sy")} * sy AS DOUBLE))) AS BIGINT) AS r_milli
       |FROM p
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** q394: one SQL text for both engines. */
  private val selectivitySql: String =
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders),
      |mm AS (SELECT CAST(MIN(v) AS BIGINT) AS mn, CAST(MAX(v) AS BIGINT) AS mx,
      |              CAST(count(*) AS BIGINT) AS n FROM c),
      |hist AS (
      |  SELECT CAST(floor(CAST(v - mn AS DOUBLE) * 20.0 / CAST(mx - mn + 1 AS DOUBLE)) AS BIGINT) AS bkt,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM c CROSS JOIN mm GROUP BY 1),
      |cum AS (
      |  SELECT bkt, cnt,
      |         CAST(COALESCE(SUM(cnt) OVER (ORDER BY bkt
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
      |  FROM hist),
      |preds AS (
      |  SELECT 1 AS pred_id, 5 AS p1, 25 AS p2
      |  UNION ALL SELECT 2, 25, 50
      |  UNION ALL SELECT 3, 50, 75
      |  UNION ALL SELECT 4, 40, 95),
      |pr AS (
      |  SELECT pred_id,
      |         mn + CAST(floor(CAST(mx - mn AS DOUBLE) * CAST(p1 AS DOUBLE) / 100.0) AS BIGINT) AS lo,
      |         mn + CAST(floor(CAST(mx - mn AS DOUBLE) * CAST(p2 AS DOUBLE) / 100.0) AS BIGINT) AS hi
      |  FROM preds CROSS JOIN mm),
      |bounds AS (
      |  SELECT pred_id, 'lo' AS side, lo AS x FROM pr
      |  UNION ALL SELECT pred_id, 'hi' AS side, hi AS x FROM pr),
      |bk AS (
      |  SELECT b.pred_id, b.side, b.x,
      |         LEAST(CAST(floor(CAST(b.x - mn AS DOUBLE) * 20.0 / CAST(mx - mn + 1 AS DOUBLE)) AS BIGINT), 19) AS k
      |  FROM bounds b CROSS JOIN mm),
      |fx AS (
      |  SELECT bk.pred_id, bk.side,
      |         CAST(cu.below AS DOUBLE) + CAST(cu.cnt AS DOUBLE) *
      |           (CAST(bk.x - mm.mn AS DOUBLE) * 20.0 / CAST(mm.mx - mm.mn + 1 AS DOUBLE) - CAST(bk.k AS DOUBLE)) AS f
      |  FROM bk JOIN cum cu ON cu.bkt = bk.k CROSS JOIN mm),
      |est AS (
      |  SELECT l.pred_id, CAST(floor(h.f - l.f) AS BIGINT) AS est_rows
      |  FROM fx l JOIN fx h ON h.pred_id = l.pred_id
      |  WHERE l.side = 'lo' AND h.side = 'hi'),
      |ex AS (
      |  SELECT p.pred_id,
      |         CAST(SUM(CASE WHEN c.v >= p.lo AND c.v < p.hi THEN 1 ELSE 0 END) AS BIGINT) AS exact_rows
      |  FROM pr p CROSS JOIN c GROUP BY 1)
      |SELECT CAST(p.pred_id AS INT) AS pred_id, p.lo, p.hi,
      |       e.est_rows, x.exact_rows,
      |       CAST(floor(CAST(abs(e.est_rows - x.exact_rows) AS DOUBLE) * 1000000.0
      |            / CAST(x.exact_rows AS DOUBLE)) AS BIGINT) AS err_ppm
      |FROM pr p JOIN est e ON e.pred_id = p.pred_id
      |JOIN ex x ON x.pred_id = p.pred_id
      |ORDER BY pred_id""".stripMargin

  /** q395: one SQL text for both engines; one branch per FK edge. */
  private val joinCardSql: String = {
    def edge(name: String, ta: String, ka: String, tb: String, kb: String) =
      s"""  SELECT '$name' AS edge,
         |         (SELECT CAST(count(*) AS BIGINT) FROM $ta) AS n_a,
         |         (SELECT CAST(count(*) AS BIGINT) FROM $tb) AS n_b,
         |         (SELECT CAST(count(DISTINCT $ka) AS BIGINT) FROM $ta) AS ndv_a,
         |         (SELECT CAST(count(DISTINCT $kb) AS BIGINT) FROM $tb) AS ndv_b,
         |         (SELECT CAST(count(*) AS BIGINT)
         |          FROM (SELECT $ka AS jk FROM $ta) a
         |          JOIN (SELECT $kb AS jk FROM $tb) b ON a.jk = b.jk) AS actual_rows""".stripMargin
    val branches = Seq(
      edge("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      // the deliberate NON-key edge: qty×size is where the uniform
      // assumption breaks (skewed value frequencies on both sides)
      edge("qty_size_nonkey", "lineitem", "CAST(l_quantity AS BIGINT)",
        "part", "CAST(p_size AS BIGINT)")
    ).mkString("\nUNION ALL\n")
    s"""WITH u AS (
       |$branches
       |)
       |SELECT edge, n_a, n_b, ndv_a, ndv_b, actual_rows,
       |       CAST(floor(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
       |            / CAST(GREATEST(ndv_a, ndv_b) AS DOUBLE)) AS BIGINT) AS est_rows,
       |       CAST(floor(1000.0 * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
       |            / CAST(GREATEST(ndv_a, ndv_b) AS DOUBLE))
       |            / CAST(actual_rows AS DOUBLE)) AS BIGINT) AS est_over_actual_milli
       |FROM u
       |ORDER BY edge""".stripMargin
  }

  /** One edge of q228's oracle: the identical hash, bottom-k, and
    * estimator text (sketches MATERIALIZED — each is referenced several
    * times and DuckDB inlines plain CTEs per reference). */
  private def kmvEdgeSql(edge: String, tableA: String, keyA: String,
                         tableB: String, keyB: String): String = {
    def hcte(t: String, k: String) =
      s"SELECT DISTINCT ${hex64Sql(s"md5('jk:' || CAST($k AS VARCHAR))")} AS h FROM $t"
    def est(tail: String) =
      s"CAST(floor((255.0 * 1152921504606846976.0) / CAST(($tail) AS DOUBLE)) AS BIGINT)"
    s"""(WITH ha AS MATERIALIZED (${hcte(tableA, keyA)}),
       |hb AS MATERIALIZED (${hcte(tableB, keyB)}),
       |ska AS MATERIALIZED (SELECT h FROM ha ORDER BY h LIMIT 256),
       |skb AS MATERIALIZED (SELECT h FROM hb ORDER BY h LIMIT 256),
       |sku AS MATERIALIZED (SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb) u
       |                     ORDER BY h LIMIT 256),
       |st AS MATERIALIZED (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM ha) AS exact_a,
       |  (SELECT CAST(count(*) AS BIGINT) FROM hb) AS exact_b,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ha JOIN hb USING (h)) AS exact_common,
       |  (SELECT count(*) FROM ska) AS ka, (SELECT max(h) FROM ska) AS hk_a,
       |  (SELECT count(*) FROM skb) AS kb, (SELECT max(h) FROM skb) AS hk_b,
       |  (SELECT count(*) FROM sku) AS ku, (SELECT max(h) FROM sku) AS hk_u,
       |  (SELECT CAST(count(*) AS BIGINT) FROM sku
       |   WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)) AS rho)
       |SELECT '$edge' AS edge, exact_a,
       |  CAST(CASE WHEN ka < 256 THEN ka ELSE ${est("hk_a")} END AS BIGINT) AS est_a,
       |  exact_b,
       |  CAST(CASE WHEN kb < 256 THEN kb ELSE ${est("hk_b")} END AS BIGINT) AS est_b,
       |  exact_common,
       |  CAST(CASE WHEN ku < 256 THEN rho ELSE (rho * (${est("hk_u")})) // 256 END AS BIGINT) AS est_common
       |FROM st)""".stripMargin
  }

  /** The Hilbert xy2d loop unrolled as 8 CTE rounds (hz0 → hz8), each
    * carrying the rotated frame (hx, hy) and the accumulated distance —
    * shared by the q444 layout oracle and the q464 FunctionCatalog
    * oracle. */
  private def hilbertRoundsSql: String = (1 to 8).map { i =>
    val s = 1L << (8 - i)
    s"""hz$i AS (
       |  SELECT x8, y8,
       |         hd + ${s * s} * xor(3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
       |                             (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)) AS hd,
       |         CASE WHEN (hy & $s) > 0 THEN hx
       |              WHEN (hx & $s) > 0 THEN ${s - 1} - hy
       |              ELSE hy END AS hx,
       |         CASE WHEN (hy & $s) > 0 THEN hy
       |              WHEN (hx & $s) > 0 THEN ${s - 1} - hx
       |              ELSE hx END AS hy
       |  FROM hz${i - 1})""".stripMargin
  }.mkString(",\n")

  override def oracle: Map[String, String] = Map(

    // same register construction per type and per pair (union = max),
    // same int64 estimator chain, inclusion-exclusion at the end
    "q247_hll_overlap" -> {
      def summEst(regsCte: String, keyCols: String) =
        s"""SELECT $keyCols,
           |       CAST(CASE WHEN n_zero > 0 AND raw <= 640000000
           |            THEN CAST(floor(256.0 * ln(256.0 / CAST(n_zero AS DOUBLE)) * 1000000.0) AS BIGINT)
           |            ELSE raw END AS BIGINT) AS est_micro
           |FROM (SELECT $keyCols,
           |             CAST(718272 * ((1::BIGINT << 53) // greatest(z_scaled >> 16, 1)) AS BIGINT) AS raw,
           |             n_zero
           |      FROM (SELECT $keyCols,
           |                   CAST(SUM(1::BIGINT << CAST(53 - reg AS INT)) AS BIGINT) AS z_scaled,
           |                   CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
           |            FROM $regsCte GROUP BY $keyCols) s0) e0""".stripMargin
      s"""WITH vals AS (SELECT DISTINCT event_type AS grp, CAST(user_id AS VARCHAR) AS key FROM events),
         |hashed AS (SELECT DISTINCT grp, ${hex64Sql("md5(key)")} AS h FROM vals),
         |rhos AS (SELECT grp, h % 256 AS idx,
         |                CASE WHEN (h >> 8) = 0 THEN 53 ELSE 53 - length(bin(h >> 8)) END AS rho
         |         FROM hashed),
         |grps AS (SELECT DISTINCT grp FROM vals),
         |idxs AS (SELECT unnest(generate_series(0, 255)) AS idx),
         |regs AS (SELECT g.grp, i.idx, CAST(COALESCE(MAX(r.rho), 0) AS BIGINT) AS reg
         |         FROM grps g CROSS JOIN idxs i
         |         LEFT JOIN rhos r ON r.grp = g.grp AND r.idx = i.idx
         |         GROUP BY g.grp, i.idx),
         |est AS (${summEst("regs", "grp")}),
         |prs AS (SELECT a.grp AS g1, b.grp AS g2 FROM grps a JOIN grps b ON a.grp < b.grp),
         |uregs AS (SELECT p.g1, p.g2, i.idx, CAST(COALESCE(MAX(r.rho), 0) AS BIGINT) AS reg
         |          FROM prs p CROSS JOIN idxs i
         |          LEFT JOIN rhos r ON (r.grp = p.g1 OR r.grp = p.g2) AND r.idx = i.idx
         |          GROUP BY p.g1, p.g2, i.idx),
         |uest AS (${summEst("uregs", "g1, g2")}),
         |ex AS (SELECT a.grp AS g1, b.grp AS g2, CAST(count(*) AS BIGINT) AS n_exact_common
         |       FROM vals a JOIN vals b ON b.key = a.key AND a.grp < b.grp
         |       GROUP BY a.grp, b.grp)
         |SELECT p.g1 AS type_a, p.g2 AS type_b,
         |       ea.est_micro AS est_a_micro, eb.est_micro AS est_b_micro,
         |       u.est_micro AS est_union_micro,
         |       CAST(greatest(ea.est_micro + eb.est_micro - u.est_micro, 0) AS BIGINT) AS est_int_micro,
         |       CAST(COALESCE(ex.n_exact_common, 0) AS BIGINT) AS n_exact_common
         |FROM prs p
         |JOIN est ea ON ea.grp = p.g1
         |JOIN est eb ON eb.grp = p.g2
         |JOIN uest u ON u.g1 = p.g1 AND u.g2 = p.g2
         |LEFT JOIN ex ON ex.g1 = p.g1 AND ex.g2 = p.g2
         |ORDER BY type_a, type_b""".stripMargin
    },

    // zero-child parents via the same left join
    "q246_fk_fanout" ->
      """WITH cnt AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS fanout
        |             FROM lineitem GROUP BY l_orderkey),
        |fan AS (SELECT o.o_orderkey, COALESCE(c.fanout, 0) AS fanout
        |        FROM orders o LEFT JOIN cnt c ON c.l_orderkey = o.o_orderkey),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_orders_total FROM fan)
        |SELECT CAST(fanout AS BIGINT) AS fanout,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST((1000000 * count(*)) // n_orders_total AS BIGINT) AS share_ppm
        |FROM fan CROSS JOIN tot
        |GROUP BY fanout, n_orders_total
        |ORDER BY fanout""".stripMargin,

    // identical hash, bottom-k, and estimator text per edge — the gate
    // compares the ESTIMATES exactly, not an envelope
    "q228_join_size_kmv" ->
      s"""SELECT * FROM (
         |${kmvEdgeSql("customer-orders", "customer", "c_custkey", "orders", "o_custkey")}
         |UNION ALL
         |${kmvEdgeSql("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey")}
         |) ORDER BY edge""".stripMargin,

    // same distinct-pair collapse and per-FD group aggregate
    "q218_fd_profile" ->
      """WITH f1 AS (
        |  SELECT 'nation_to_region' AS fd, k, CAST(count(*) AS BIGINT) AS n_vals
        |  FROM (SELECT DISTINCT n_nationkey AS k, n_regionkey AS v FROM nation) GROUP BY 1, 2),
        |f2 AS (
        |  SELECT 'brand_to_type', k, CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT p_brand AS k, p_type AS v FROM part) GROUP BY 1, 2),
        |f3 AS (
        |  SELECT 'cust_to_nation', k, CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT c_custkey AS k, c_nationkey AS v FROM customer) GROUP BY 1, 2),
        |f4 AS (
        |  SELECT 'user_to_event_type', k, CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT user_id AS k, event_type AS v FROM events) GROUP BY 1, 2),
        |f5 AS (
        |  SELECT 'order_to_status', k, CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT o_orderkey AS k, o_orderstatus AS v FROM orders) GROUP BY 1, 2),
        |allf AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3
        |         UNION ALL SELECT * FROM f4 UNION ALL SELECT * FROM f5)
        |SELECT fd, CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |       CAST(max(n_vals) AS BIGINT) AS max_distinct
        |FROM allf GROUP BY fd
        |ORDER BY fd""".stripMargin,

    // the Spark side runs the SAME strings on temp views
    "q394_selectivity_audit" -> selectivitySql,
    "q395_join_card_audit" -> joinCardSql,

    // identical template; HUGEINT mirrors the DECIMAL(38,0) accumulators
    "q396_corr_matrix" -> corrMatrixSql(x => s"CAST($x AS HUGEINT)"),

    // same 12 ordered pairs over the same derived attribute frame;
    // the pipe-concat distinct mirrors Spark's concat_ws
    "q381_fd_discovery" -> {
      val cols = Map("mfgr" -> "substr(p_brand, 7, 1)", "brand" -> "p_brand",
        "type" -> "p_type", "size" -> "CAST(p_size AS VARCHAR)")
      val attrs = Seq("mfgr", "brand", "type", "size")
      val branches = (for { a <- attrs; b <- attrs if a != b } yield
        s"""  SELECT '$a' AS lhs, '$b' AS rhs,
           |         CAST(count(DISTINCT ${cols(a)}) AS BIGINT) AS n_lhs,
           |         CAST(count(DISTINCT ${cols(a)} || '|' || ${cols(b)}) AS BIGINT) AS n_pairs
           |  FROM part""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH u AS (
         |$branches
         |)
         |SELECT lhs, rhs, n_lhs, n_pairs,
         |       n_pairs = n_lhs AS holds,
         |       CAST(n_pairs - n_lhs AS BIGINT) AS extra_pairs
         |FROM u
         |ORDER BY lhs, rhs""".stripMargin
    },

    // same anti-join orphan counts and conditional value assertions
    "q217_dq_expectations" ->
      """WITH c1 AS (
        |  SELECT 'lineitem_orphan_orderkey' AS "check",
        |         CAST((SELECT count(*) FROM lineitem l
        |               WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                                 WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_violations,
        |         CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_scanned),
        |c2 AS (
        |  SELECT 'orders_orphan_custkey',
        |         CAST((SELECT count(*) FROM orders o
        |               WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                                 WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |         CAST((SELECT count(*) FROM orders) AS BIGINT)),
        |c3 AS (
        |  SELECT 'events_user_not_customer',
        |         CAST((SELECT count(*) FROM events e
        |               WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                                 WHERE c.c_custkey = e.user_id)) AS BIGINT),
        |         CAST((SELECT count(*) FROM events) AS BIGINT)),
        |c4 AS (
        |  SELECT 'orders_nonpositive_total',
        |         CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT),
        |         CAST((SELECT count(*) FROM orders) AS BIGINT)),
        |c5 AS (
        |  SELECT 'customer_null_name',
        |         CAST((SELECT count(*) FROM customer
        |               WHERE c_name IS NULL OR c_name = '') AS BIGINT),
        |         CAST((SELECT count(*) FROM customer) AS BIGINT)),
        |c6 AS (
        |  SELECT 'events_nonpositive_value',
        |         CAST((SELECT count(*) FROM events WHERE value <= 0) AS BIGINT),
        |         CAST((SELECT count(*) FROM events) AS BIGINT))
        |SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3
        |UNION ALL SELECT * FROM c4 UNION ALL SELECT * FROM c5 UNION ALL SELECT * FROM c6
        |ORDER BY "check"""".stripMargin,

    // the INDEPENDENT quadratic dominance formulation (NOT EXISTS a
    // same-brand part better-or-equal on both axes, strictly on one) —
    // the Spark side's windowed cummax must reproduce it exactly
    "q205_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand, p_size,
        |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |  FROM part)
        |SELECT p_brand, p_partkey, price_c, CAST(p_size AS INT) AS p_size
        |FROM p i
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p k
        |  WHERE k.p_brand = i.p_brand
        |    AND k.price_c <= i.price_c AND k.p_size >= i.p_size
        |    AND (k.price_c < i.price_c OR k.p_size > i.p_size))
        |ORDER BY p_brand, p_partkey""".stripMargin,

    // same basket dedup, same 0.1% support floor, same int64 lift
    "q186_brand_affinity" ->
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |nn AS (SELECT count(DISTINCT ok) AS n FROM items),
        |supp AS (SELECT b, count(*) AS s FROM items GROUP BY b),
        |pairs AS (
        |  SELECT x.b AS b1, y.b AS b2, count(*) AS s12
        |  FROM items x JOIN items y ON y.ok = x.ok AND x.b < y.b
        |  GROUP BY x.b, y.b)
        |SELECT b1, b2, CAST(s12 AS BIGINT) AS s12,
        |       CAST(s1.s AS BIGINT) AS s1, CAST(s2.s AS BIGINT) AS s2,
        |       CAST((1000000 * s12 * nn.n) // (s1.s * s2.s) AS BIGINT) AS lift_q
        |FROM pairs
        |JOIN supp s1 ON s1.b = pairs.b1
        |JOIN supp s2 ON s2.b = pairs.b2
        |CROSS JOIN nn
        |WHERE s12 * 1000 >= nn.n
        |ORDER BY b1, b2""".stripMargin,

    // sequential row_number is the oracle's luxury; the Spark side must
    // produce the identical ranks distributed
    "q193_equidepth_hist" ->
      """WITH r AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         row_number() OVER (ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |                            l_orderkey, l_linenumber) AS rk,
        |         count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST(((rk - 1) * 8) // n AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(min(cents) AS BIGINT) AS lo_cents,
        |       CAST(max(cents) AS BIGINT) AS hi_cents
        |FROM r
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // rebuilds the register file cell-for-cell: same md5 60-bit hash,
    // index = low 8 bits, rho = 53 - bitlength(high 52 bits) (bin(0) is
    // '0', so the rest=0 case is explicit), then the identical int64
    // fixed-point estimate chain
    "q149_hll_registers" ->
      s"""WITH vals AS (
        |  SELECT l_returnflag AS grp, CAST(l_orderkey AS VARCHAR) AS key FROM lineitem),
        |hashed AS (
        |  SELECT DISTINCT grp, ${hex64Sql("md5(key)")} AS h
        |  FROM vals),
        |rhos AS (
        |  SELECT grp, h % 256 AS idx,
        |         CASE WHEN (h >> 8) = 0 THEN 53
        |              ELSE 53 - length(bin(h >> 8)) END AS rho
        |  FROM hashed),
        |grps AS (SELECT grp, CAST(COUNT(DISTINCT key) AS BIGINT) AS n_true
        |         FROM vals GROUP BY grp),
        |idxs AS (SELECT unnest(generate_series(0, 255)) AS idx),
        |regs AS (
        |  SELECT g.grp, CAST(i.idx AS BIGINT) AS idx, g.n_true,
        |         CAST(COALESCE(MAX(r.rho), 0) AS BIGINT) AS reg
        |  FROM grps g CROSS JOIN idxs i
        |  LEFT JOIN rhos r ON r.grp = g.grp AND r.idx = i.idx
        |  GROUP BY g.grp, i.idx, g.n_true),
        |summ AS (
        |  SELECT grp,
        |         CAST(SUM(1::BIGINT << CAST(53 - reg AS INT)) AS BIGINT) AS z_scaled,
        |         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM regs GROUP BY grp),
        |est AS (
        |  SELECT grp, z_scaled, n_zero,
        |         CAST(718272 * ((1::BIGINT << 53) // greatest(z_scaled >> 16, 1)) AS BIGINT)
        |           AS raw_est_micro
        |  FROM summ)
        |SELECT r.grp, r.idx, r.reg, e.z_scaled, e.n_zero, e.raw_est_micro,
        |       CAST(CASE WHEN e.n_zero > 0 AND e.raw_est_micro <= 640000000
        |            THEN CAST(floor(256.0 * ln(256.0 / CAST(e.n_zero AS DOUBLE)) * 1000000.0) AS BIGINT)
        |            ELSE e.raw_est_micro END AS BIGINT) AS est_micro,
        |       r.n_true
        |FROM regs r JOIN est e ON e.grp = r.grp
        |ORDER BY r.grp, r.idx""".stripMargin,

    // one UNION ALL branch per column, same decimal/epoch preps
    "q156_analyze_stats" -> {
      val cols = Seq(
        "l_orderkey" -> "l_orderkey",
        "l_partkey" -> "l_partkey",
        "l_suppkey" -> "l_suppkey",
        "l_quantity" -> "CAST(l_quantity AS DECIMAL(18,2))",
        "l_extendedprice" -> "CAST(l_extendedprice AS DECIMAL(18,2))",
        "l_returnflag" -> "l_returnflag",
        "l_shipdate" -> "epoch_us(CAST(l_shipdate AS TIMESTAMP))")
      cols.map { case (name, prep) =>
        s"""SELECT '$name' AS column_name,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(SUM(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |       CAST(COUNT(DISTINCT $prep) AS BIGINT) AS ndv,
           |       CAST(MIN($prep) AS VARCHAR) AS min_val,
           |       CAST(MAX($prep) AS VARCHAR) AS max_val
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    // the catalog-resolved kernel replayed over the full curve domain:
    // the same 8 unrolled rotation rounds as q444, here over ALL 256²
    // cells, digested per x-band
    "q464_v2_function_catalog" ->
      s"""WITH xs AS (SELECT CAST(g.i AS BIGINT) AS x8
         |            FROM UNNEST(generate_series(0, 255)) AS g(i)),
         |ys AS (SELECT CAST(g.i AS BIGINT) AS y8
         |       FROM UNNEST(generate_series(0, 255)) AS g(i)),
         |hz0 AS (SELECT x8, y8, x8 AS hx, y8 AS hy, CAST(0 AS BIGINT) AS hd
         |        FROM xs CROSS JOIN ys),
         |$hilbertRoundsSql
         |SELECT CAST(x8 // 32 AS INT) AS x_band,
         |       CAST(count(*) AS BIGINT) AS n_cells,
         |       CAST(count(DISTINCT hd) AS BIGINT) AS n_distinct,
         |       CAST(SUM(hd) AS BIGINT) AS sum_h,
         |       CAST(MIN(hd) AS BIGINT) AS min_h,
         |       CAST(MAX(hd) AS BIGINT) AS max_h
         |FROM hz8
         |GROUP BY 1
         |ORDER BY x_band""".stripMargin,

    // the Hilbert xy2d loop unrolled: 8 CTE rounds carrying the rotated
    // frame (hx, hy) and the accumulated distance over the deduplicated
    // cell grid; Morton via q154's 8-term bit sum; same zone-map replay
    "q444_hilbert_layout" -> {
      val rounds = hilbertRoundsSql
      s"""WITH li AS (SELECT l_orderkey AS xk, l_partkey AS yk FROM lineitem),
         |mm AS (SELECT min(xk) AS x_min, max(xk) AS x_max,
         |              min(yk) AS y_min, max(yk) AS y_max FROM li),
         |scaled0 AS (
         |  SELECT (xk - x_min) * 256 // (x_max - x_min + 1) AS x8,
         |         (yk - y_min) * 256 // (y_max - y_min + 1) AS y8
         |  FROM li CROSS JOIN mm),
         |grid AS MATERIALIZED (SELECT DISTINCT x8, y8 FROM scaled0),
         |hz0 AS (SELECT x8, y8, x8 AS hx, y8 AS hy, CAST(0 AS BIGINT) AS hd FROM grid),
         |$rounds,
         |curve AS MATERIALIZED (
         |  SELECT g.x8, g.y8,
         |         (SELECT SUM((((g.x8 >> CAST(i AS INT)) & 1) << (2 * CAST(i AS INT))) +
         |                     (((g.y8 >> CAST(i AS INT)) & 1) << (2 * CAST(i AS INT) + 1)))
         |          FROM range(8) t(i)) AS z,
         |         h8.hd AS h
         |  FROM grid g JOIN hz8 h8 ON h8.x8 = g.x8 AND h8.y8 = g.y8),
         |files AS (
         |  SELECT s0.x8, s0.y8, c.z // 1024 AS file_z, c.h // 1024 AS file_h,
         |         s0.x8 // 4 AS file_lin
         |  FROM scaled0 s0 JOIN curve c ON c.x8 = s0.x8 AND c.y8 = s0.y8),
         |zf AS (
         |  SELECT 'zorder' AS layout, file_z AS file_id,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         min(x8) AS x_lo, max(x8) AS x_hi,
         |         min(y8) AS y_lo, max(y8) AS y_hi
         |  FROM files GROUP BY file_z
         |  UNION ALL
         |  SELECT 'hilbert' AS layout, file_h AS file_id,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         min(x8) AS x_lo, max(x8) AS x_hi,
         |         min(y8) AS y_lo, max(y8) AS y_hi
         |  FROM files GROUP BY file_h
         |  UNION ALL
         |  SELECT 'linear' AS layout, file_lin AS file_id,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         min(x8) AS x_lo, max(x8) AS x_hi,
         |         min(y8) AS y_lo, max(y8) AS y_hi
         |  FROM files GROUP BY file_lin),
         |per_layout AS (
         |  SELECT layout,
         |         CAST(count(*) AS BIGINT) AS n_files,
         |         CAST(SUM(CASE WHEN x_hi >= 32 AND x_lo <= 63 AND y_hi >= 64 AND y_lo <= 95
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS files_box,
         |         CAST(SUM(CASE WHEN x_hi >= 32 AND x_lo <= 63 AND y_hi >= 64 AND y_lo <= 95
         |                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_box,
         |         CAST(SUM(CASE WHEN y_hi >= 64 AND y_lo <= 95 THEN 1 ELSE 0 END) AS BIGINT) AS files_y,
         |         CAST(SUM(CASE WHEN y_hi >= 64 AND y_lo <= 95 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_y
         |  FROM zf GROUP BY layout),
         |m AS (
         |  SELECT CAST(SUM(CASE WHEN x8 BETWEEN 32 AND 63 AND y8 BETWEEN 64 AND 95
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS m_box,
         |         CAST(SUM(CASE WHEN y8 BETWEEN 64 AND 95 THEN 1 ELSE 0 END) AS BIGINT) AS m_y
         |  FROM scaled0)
         |SELECT layout, 'box' AS scenario, n_files, files_box AS files_read,
         |       rows_box AS rows_read, m_box AS rows_matched
         |FROM per_layout CROSS JOIN m
         |UNION ALL
         |SELECT layout, 'y_only' AS scenario, n_files, files_y AS files_read,
         |       rows_y AS rows_read, m_y AS rows_matched
         |FROM per_layout CROSS JOIN m
         |ORDER BY layout, scenario""".stripMargin
    },

    // the Morton interleave replayed as a correlated 8-term bit sum;
    // everything else is the same integer zone-map arithmetic
    "q154_zorder_layout" ->
      """WITH li AS (SELECT l_orderkey AS xk, l_partkey AS yk FROM lineitem),
        |mm AS (SELECT min(xk) AS x_min, max(xk) AS x_max,
        |              min(yk) AS y_min, max(yk) AS y_max FROM li),
        |scaled0 AS (
        |  SELECT (xk - x_min) * 256 // (x_max - x_min + 1) AS x8,
        |         (yk - y_min) * 256 // (y_max - y_min + 1) AS y8
        |  FROM li CROSS JOIN mm),
        |scaled AS (
        |  SELECT x8, y8,
        |         (SELECT SUM((((x8 >> CAST(i AS INT)) & 1) << (2 * CAST(i AS INT))) +
        |                     (((y8 >> CAST(i AS INT)) & 1) << (2 * CAST(i AS INT) + 1)))
        |          FROM range(8) t(i)) AS z
        |  FROM scaled0),
        |files AS (
        |  SELECT x8, y8, z // 1024 AS file_z, x8 // 4 AS file_lin FROM scaled),
        |zf AS (
        |  SELECT 'zorder' AS layout, file_z AS file_id,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         min(x8) AS x_lo, max(x8) AS x_hi,
        |         min(y8) AS y_lo, max(y8) AS y_hi
        |  FROM files GROUP BY file_z
        |  UNION ALL
        |  SELECT 'linear' AS layout, file_lin AS file_id,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         min(x8) AS x_lo, max(x8) AS x_hi,
        |         min(y8) AS y_lo, max(y8) AS y_hi
        |  FROM files GROUP BY file_lin),
        |per_layout AS (
        |  SELECT layout,
        |         CAST(count(*) AS BIGINT) AS n_files,
        |         CAST(SUM(CASE WHEN x_hi >= 32 AND x_lo <= 63 AND y_hi >= 64 AND y_lo <= 95
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS files_box,
        |         CAST(SUM(CASE WHEN x_hi >= 32 AND x_lo <= 63 AND y_hi >= 64 AND y_lo <= 95
        |                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_box,
        |         CAST(SUM(CASE WHEN y_hi >= 64 AND y_lo <= 95 THEN 1 ELSE 0 END) AS BIGINT) AS files_y,
        |         CAST(SUM(CASE WHEN y_hi >= 64 AND y_lo <= 95 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_y
        |  FROM zf GROUP BY layout),
        |m AS (
        |  SELECT CAST(SUM(CASE WHEN x8 BETWEEN 32 AND 63 AND y8 BETWEEN 64 AND 95
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS m_box,
        |         CAST(SUM(CASE WHEN y8 BETWEEN 64 AND 95 THEN 1 ELSE 0 END) AS BIGINT) AS m_y
        |  FROM scaled)
        |SELECT layout, 'box' AS scenario, n_files, files_box AS files_read,
        |       rows_box AS rows_read, m_box AS rows_matched
        |FROM per_layout CROSS JOIN m
        |UNION ALL
        |SELECT layout, 'y_only' AS scenario, n_files, files_y AS files_read,
        |       rows_y AS rows_read, m_y AS rows_matched
        |FROM per_layout CROSS JOIN m
        |ORDER BY layout, scenario""".stripMargin,

    // same md5/rho chain as q149; the oracle computes the register file
    // ONCE — max-merge of daily partials equals the direct registers by
    // the max-merge identity, which is exactly what the Spark side's
    // merge_exact column asserts
    "q153_hll_rollup" ->
      s"""WITH vals AS (
        |  SELECT event_type AS grp,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_id,
        |         CAST(user_id AS VARCHAR) AS key
        |  FROM events),
        |hashed AS (
        |  SELECT DISTINCT grp, ${hex64Sql("md5(key)")} AS h
        |  FROM vals),
        |rhos AS (
        |  SELECT grp, h % 256 AS idx,
        |         CASE WHEN (h >> 8) = 0 THEN 53
        |              ELSE 53 - length(bin(h >> 8)) END AS rho
        |  FROM hashed),
        |grps AS (SELECT grp, CAST(COUNT(DISTINCT key) AS BIGINT) AS n_true,
        |                CAST(COUNT(DISTINCT day_id) AS BIGINT) AS n_days
        |         FROM vals GROUP BY grp),
        |idxs AS (SELECT unnest(generate_series(0, 255)) AS idx),
        |regs AS (
        |  SELECT g.grp, CAST(i.idx AS BIGINT) AS idx, g.n_true, g.n_days,
        |         CAST(COALESCE(MAX(r.rho), 0) AS BIGINT) AS reg
        |  FROM grps g CROSS JOIN idxs i
        |  LEFT JOIN rhos r ON r.grp = g.grp AND r.idx = i.idx
        |  GROUP BY g.grp, i.idx, g.n_true, g.n_days)
        |SELECT grp, idx, reg AS merged_reg, reg AS direct_reg,
        |       TRUE AS merge_exact, n_days, n_true
        |FROM regs
        |ORDER BY grp, idx""".stripMargin,

    "q90_exists" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
        |                    AND o2.o_totalprice < 50000)
        |ORDER BY c_custkey""".stripMargin,

    // identical exact-integer R/F/M build, identical value-at-rank
    // cutoff rule per dimension (single-node cum windows stand in for
    // the distributed prefix scan)
    "q264_rfm_segments" -> {
      def dimCtes(dim: String, p: String) =
        s"""${p}v AS (SELECT $dim AS v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1),
           |${p}cum AS (SELECT v, c, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM ${p}v),
           |${p}cut AS (SELECT
           |  ${(1 to 4).map(k => s"max(CASE WHEN cum >= ($k * n.n + 4) // 5 AND cum - c < ($k * n.n + 4) // 5 THEN v END) AS cut$k").mkString(",\n  ")}
           |  FROM ${p}cum, n)""".stripMargin
      def scoreSql(dim: String, a: String) =
        s"CAST(1 ${(1 to 4).map(k => s"+ CASE WHEN b.$dim > $a.cut$k THEN 1 ELSE 0 END").mkString(" ")} AS INT)"
      s"""WITH rfm AS (
         |  SELECT o_custkey AS c_custkey,
         |         max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_us,
         |         CAST(count(*) AS BIGINT) AS frequency,
         |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS monetary_cents
         |  FROM orders GROUP BY o_custkey),
         |nowus AS (SELECT max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS now_us FROM orders),
         |base AS (
         |  SELECT c_custkey,
         |         CAST((now_us - last_us) // 86400000000 AS BIGINT) AS recency_days,
         |         frequency, monetary_cents
         |  FROM rfm, nowus),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
         |${dimCtes("recency_days", "r")},
         |${dimCtes("frequency", "f")},
         |${dimCtes("monetary_cents", "m")}
         |SELECT b.c_custkey, b.recency_days, b.frequency, b.monetary_cents,
         |       ${scoreSql("recency_days", "rcut")} AS r_quintile,
         |       ${scoreSql("frequency", "fcut")} AS f_quintile,
         |       ${scoreSql("monetary_cents", "mcut")} AS m_quintile
         |FROM base b, rcut, fcut, mcut
         |ORDER BY c_custkey""".stripMargin
    },

    // the Bloom pre-filter never changes the answer (no false
    // negatives; false positives die in the join), so the oracle is
    // the plain join the pattern accelerates
    "q121_bloom_semijoin" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 1000.0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q91_explode_vector" -> {
      val q = VectorFunctions.quantizeSql("embedding")
      s"""WITH comps AS (
         |  SELECT vec_id, q[g.i] AS c
         |  FROM (SELECT vec_id, $q AS q FROM embeddings) v,
         |       UNNEST(generate_series(1, 64)) AS g(i))
         |SELECT vec_id,
         |       CAST(count(*) AS BIGINT) AS n_comps,
         |       min(c) AS min_q,
         |       max(c) AS max_q,
         |       CAST(sum(c) AS BIGINT) AS sum_q,
         |       CAST(count(CASE WHEN c > 0 THEN 1 END) AS BIGINT) AS n_positive
         |FROM comps
         |GROUP BY vec_id
         |ORDER BY vec_id""".stripMargin
    },

    "q92_map_funcs" ->
      """WITH sc AS (
        |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT c_nationkey,
        |       CAST(count(*) AS INT) AS n_segments,
        |       COALESCE(MAX(CASE WHEN c_mktsegment = 'BUILDING' THEN n END), 0) AS n_building,
        |       array_to_string(list(c_mktsegment ORDER BY c_mktsegment), ',') AS segments,
        |       CAST(SUM(n) AS BIGINT) AS n_total
        |FROM sc
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q93_unpivot" ->
      """WITH w AS (
        |  SELECT p_brand,
        |         CAST(count(*) AS DOUBLE) AS n_parts,
        |         CAST(max(p_size) AS DOUBLE) AS max_size,
        |         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail
        |  FROM part GROUP BY p_brand)
        |SELECT p_brand, metric, value FROM (
        |  SELECT p_brand, 'n_parts' AS metric, n_parts AS value FROM w
        |  UNION ALL SELECT p_brand, 'max_size', max_size FROM w
        |  UNION ALL SELECT p_brand, 'sum_retail', sum_retail FROM w)
        |ORDER BY p_brand, metric""".stripMargin,

    "q96_array_funcs" ->
      """WITH f AS (
        |  SELECT l_suppkey, list_sort(list(DISTINCT l_returnflag)) AS flags
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey,
        |       array_to_string(flags, ',') AS flags_csv,
        |       list_contains(flags, 'A') AS has_a,
        |       CAST(len(list_intersect(flags, ['A','R'])) AS INT) AS n_ar,
        |       flags[1] AS first_flag,
        |       flags[-1] AS last_flag,
        |       CAST(len(flags) AS INT) AS n_flags
        |FROM f
        |ORDER BY l_suppkey""".stripMargin,

    "q97_regex_funcs" ->
      """SELECT p_partkey,
        |       regexp_extract(p_type, '(\w+)$', 1) AS type_tail,
        |       CAST(len(regexp_extract_all(p_name, 'a')) AS INT) AS n_a,
        |       regexp_matches(p_brand, '[0-9]') AS brand_has_digit,
        |       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        |       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q99_window_frames" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |                           RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS BIGINT)
        |         AS n_similar,
        |       first_value(o_orderkey) OVER w AS first_ok,
        |       nth_value(o_orderkey, 2) OVER w AS second_ok,
        |       last_value(o_orderkey) OVER w AS last_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,

    "q78_approx_percentile" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.75) AS exact_p75,
        |       abs(approx_quantile(l_quantity, 0.75) - quantile_cont(l_quantity, 0.75))
        |         <= quantile_cont(l_quantity, 0.75) * 0.25 AS approx_within_envelope
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q94_percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS p25,
        |       quantile_cont(l_quantity, 0.5)  AS p50,
        |       quantile_cont(l_quantity, 0.75) AS p75,
        |       min(l_quantity) AS qmin,
        |       max(l_quantity) AS qmax
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the rewrite's contract: answering from the rollup must equal the
    // direct aggregate — so the oracle IS the direct aggregate
    "q169_mv_rewrite" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
