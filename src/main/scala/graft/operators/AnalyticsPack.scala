package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.functions.TextFunctions.{hex64Sql, tokensSql}

/** Round-8 wave-4 analytics: the experimentation / forecasting /
  * link-prediction layer a corpus-curation team runs ON TOP of the
  * engine's measurement queries. Same disciplines as the stats suite in
  * [[CleanPack]]: exact integer accumulation (never sum doubles across
  * groups — floor-quantize per group first), value-VOCABULARY rank
  * windows instead of per-row rank windows, calendar- or
  * sources-bounded pair joins, and one final double expression whose
  * text is character-identical in both engines.
  */
object AnalyticsPack extends QueryPack {

  /** chi²_{0.05,df} upper ladder in milli, df 1..25 — covers the
    * sources/arms cardinalities these audits run over (the documents
    * corpus carries 20 sources ⇒ df 19). */
  private[operators] val chi2CritMilliCase: String =
    """CASE CAST(k - 1 AS INT)
      |  WHEN 1 THEN 3841 WHEN 2 THEN 5991 WHEN 3 THEN 7815
      |  WHEN 4 THEN 9488 WHEN 5 THEN 11070 WHEN 6 THEN 12592
      |  WHEN 7 THEN 14067 WHEN 8 THEN 15507 WHEN 9 THEN 16919
      |  WHEN 10 THEN 18307 WHEN 11 THEN 19675 WHEN 12 THEN 21026
      |  WHEN 13 THEN 22362 WHEN 14 THEN 23685 WHEN 15 THEN 24996
      |  WHEN 16 THEN 26296 WHEN 17 THEN 27587 WHEN 18 THEN 28869
      |  WHEN 19 THEN 30144 WHEN 20 THEN 31410 WHEN 21 THEN 32671
      |  WHEN 22 THEN 33924 WHEN 23 THEN 35172 WHEN 24 THEN 36415
      |  WHEN 25 THEN 37652 ELSE 0 END""".stripMargin

  /** Count of trailing one-bits of a nonneg int64, as a 16-step CASE
    * ladder (k ones ⇔ h mod 2^(k+1) = 2^k − 1; capped at 16, reached
    * with probability 2⁻¹⁶) — a geometric(1/2) draw from hash bits,
    * generated ONCE and run verbatim by both engines. */
  private[graft] def trailingOnesCase(h: String): String =
    "CASE " + (0 until 16).map(k =>
      s"WHEN $h % ${1L << (k + 1)} = ${(1L << k) - 1} THEN $k")
      .mkString(" ") + " ELSE 16 END"

  /** Per customer: pre-period (before 1998) spend in cents `x` (0 if
    * none) and post-period conversion `y` (1 if any order from 1998 on).
    * The users frame of q419 and q397. */
  private def spendConversion(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .select(col("o_custkey").as("c_custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
        col("o_orderdate").cast("timestamp").as("od"))
    val pre = spend.filter(col("od") < lit("1998-01-01").cast("timestamp"))
      .groupBy("c_custkey").agg(sum("cents").as("x"))
    val post = spend.filter(col("od") >= lit("1998-01-01").cast("timestamp"))
      .select("c_custkey").distinct().withColumn("y", lit(1L))
    Tables.customer(s, d).select(col("c_custkey"))
      .join(pre, Seq("c_custkey"), "left").na.fill(0L, Seq("x"))
      .join(post, Seq("c_custkey"), "left").na.fill(0L, Seq("y"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- KRUSKAL–WALLIS k-GROUP RANK TEST (Kruskal & Wallis 1952) on
    // document length across sources — the k-group extension of q331's
    // Mann–Whitney (pairwise tests over k sources inflate α; KW is the
    // one-shot omnibus the pairwise drill-down should be gated on).
    // Doubled midranks over the GLOBAL length vocabulary (integer-exact
    // under ties, the q331/q334 machinery; the window runs over the
    // bounded value vocabulary, never per-doc). The identity
    //   H = 3/(N(N+1)) · Σ_h d_h²/n_h ,  d_h = S2_h − n_h(N+1)
    // (S2_h = doubled rank sum; Σ_h d_h = 0 cancels the usual −3(N+1)
    // term) keeps every accumulated quantity a small integer deviation
    // instead of Σ R², so int64 holds to ~10⁹ docs; per-source terms
    // are floor-quantized ×10³ BEFORE the cross-source integer sum (the
    // q346/q350 rule), and the tie-corrected H is ONE single-row double
    // expression. Scale shape: corpus scan collapses map-side to
    // (source, length) counts; everything after is vocab-sized. ----
    "q351_kruskal_wallis" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("bigint").as("x"))
      val vc = docs.groupBy("x").agg(count(lit(1)).as("ct"))
      // global window over the length VOCABULARY (bounded; q330 rule)
      val wv = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r2 = vc.withColumn("cum", sum("ct").over(wv))
        .select(col("x"),
          (lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L).as("r2"))
      val per = docs.groupBy("source", "x").agg(count(lit(1)).as("cs"))
        .join(broadcast(r2), "x")
        .groupBy("source")
        .agg(sum("cs").as("n"), sum(col("cs") * col("r2")).as("s2"))
      val glob = per.agg(sum("n").as("nn"), count(lit(1)).as("k"))
      val ties = vc.agg(sum(expr("ct * ct * ct - ct")).as("tnum"))
      val terms = per.crossJoin(broadcast(glob))
        .withColumn("dev2", col("s2") - col("n") * (col("nn") + 1L))
        .withColumn("t_milli", expr(
          "cast(floor(1000.0 * (cast(dev2 as double) / cast(n as double)) * cast(dev2 as double)) as bigint)"))
      val h = terms
        .agg(sum("t_milli").as("st"), max("nn").as("nn"), max("k").as("k"))
        .crossJoin(broadcast(ties))
        .select(
          expr("cast((3 * st) div (nn * (nn + 1)) as bigint)").as("h_milli"),
          expr(("cast(floor(3.0 * cast(st as double) / (cast(nn as double) * (cast(nn as double) + 1.0)) " +
            "/ (1.0 - cast(tnum as double) / (cast(nn as double) * cast(nn as double) * cast(nn as double) - cast(nn as double)))) as bigint)"))
            .as("h_tie_milli"),
          expr(s"cast(($chi2CritMilliCase) as bigint)").as("crit_milli"))
        .withColumn("reject", col("h_tie_milli") > col("crit_milli"))
      val result = terms.crossJoin(broadcast(h))
        .select(col("source"), col("n").cast("bigint").as("n_docs"),
          col("s2").cast("bigint").as("rank_sum2"),
          col("dev2").cast("bigint").as("dev2"),
          col("t_milli"), col("h_milli"), col("h_tie_milli"),
          col("crit_milli"), col("reject"))
      result.orderBy("source")
    },

    // ---- KENDALL τ-b (Kendall 1938; tau-b tie correction) between
    // monthly order VOLUME and monthly REVENUE — the rank-concordance
    // complement to q200's OLS slope and q335's Theil–Sen (τ asks only
    // "do volume and revenue move together month-over-month", immune to
    // the revenue distribution's heavy tail). Concordant/discordant/
    // tied pair COUNTS are exact integers over the month-calendar pair
    // join (calendar²-bounded, the q335 discipline — ~84 months of
    // TPC-H dates ⇒ ≤3.5k pairs, broadcast nested-loop by design);
    // revenue is cents-quantized BEFORE summing (exact decimal→int64,
    // the q11 idiom). τ-b's denominator is one sqrt on exact integer
    // pair counts — correctly-rounded IEEE, identical text both
    // engines. ----
    "q352_kendall_monthly" -> { (s, d) =>
      val m = Tables.orders(s, d)
        .select(date_trunc("month", col("o_orderdate").cast("timestamp")).as("mon"),
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
        .groupBy("mon")
        .agg(count(lit(1)).as("x"), sum("cents").as("y"))
      val a = m.select(col("mon").as("mon_a"), col("x").as("xa"), col("y").as("ya"))
      val b = m.select(col("mon").as("mon_b"), col("x").as("xb"), col("y").as("yb"))
      val pairs = a.join(broadcast(b), col("mon_a") < col("mon_b"))
      val agg = pairs.agg(
        count(lit(1)).as("n0"),
        sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
                 (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("nc"),
        sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
                 (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("nd"),
        sum(when(col("xa") === col("xb") && col("ya") =!= col("yb"), 1L)
          .otherwise(0L)).as("tx"),
        sum(when(col("ya") === col("yb") && col("xa") =!= col("xb"), 1L)
          .otherwise(0L)).as("ty"),
        sum(when(col("xa") === col("xb") && col("ya") === col("yb"), 1L)
          .otherwise(0L)).as("txy"))
      val nMonths = m.agg(count(lit(1)).as("n_months"))
      val result = nMonths.crossJoin(broadcast(agg))
        .select(col("n_months").cast("bigint").as("n_months"),
          col("n0").cast("bigint").as("n_pairs"),
          col("nc").cast("bigint").as("n_concordant"),
          col("nd").cast("bigint").as("n_discordant"),
          (col("tx") + col("txy")).cast("bigint").as("ties_x"),
          (col("ty") + col("txy")).cast("bigint").as("ties_y"),
          expr(("cast(floor(1000.0 * (cast(nc as double) - cast(nd as double)) " +
            "/ sqrt((cast(n0 as double) - (cast(tx as double) + cast(txy as double))) " +
            "* (cast(n0 as double) - (cast(ty as double) + cast(txy as double))))) as bigint)"))
            .as("tau_b_milli"))
      result.orderBy("n_months")
    },

    // ---- CUPED VARIANCE REDUCTION (Deng, Xu, Kohavi & Walker, WSDM
    // 2013) on the q180/q211 experimentation stack: adjust each
    // customer's experiment-period spend by their PRE-period spend
    // (θ = cov(x,y)/var(x), ŷ = y − θ(x − x̄)) — the standard trick
    // that cuts A/B readout variance by the covariate's ρ². Buckets
    // are q180's deterministic md5 coin; covariate = 1995–97 spend,
    // metric = 1998+ spend, customers without orders count as zero on
    // both sides (left join + coalesce — q211's no-activity-bias
    // rule). Cross products Σxy, Σx², Σy² accumulate in DECIMAL(38,0)
    // (cents² over 10⁵ customers ≈ 10²² — past int64; the q170/q334
    // discipline, HUGEINT on the oracle side), and θ, ρ², and the
    // adjusted difference are single-row double expressions on those
    // exact sums. Scale shape: two map-side-combining aggregates
    // (per-customer, then global+per-arm) — no window, no pair join. ----
    "q353_cuped" -> { (s, d) =>
      val spend = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey"),
          col("o_orderdate").cast("timestamp").as("od"),
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      val perCust = Tables.customer(s, d).select("c_custkey")
        .join(spend, Seq("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
          coalesce(sum(when(col("od") < lit("1998-01-01").cast("timestamp"),
            col("cents"))), lit(0L)).as("x"),
          coalesce(sum(when(col("od") >= lit("1998-01-01").cast("timestamp"),
            col("cents"))), lit(0L)).as("y"))
        .withColumn("bucket",
          pmod(graft.functions.TextFunctions.hex64(
            md5(concat(lit("cuped:"), col("c_custkey")))), lit(2)))
      val glob = perCust.agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
      val arms = perCust.groupBy("bucket")
        .agg(count(lit(1)).as("na"), sum("x").as("sxa"), sum("y").as("sya"))
      val a0 = arms.filter(col("bucket") === 0)
        .select(col("na").as("n_a"), col("sxa").as("sx_a"), col("sya").as("sy_a"))
      val a1 = arms.filter(col("bucket") === 1)
        .select(col("na").as("n_b"), col("sxa").as("sx_b"), col("sya").as("sy_b"))
      val result = glob.crossJoin(broadcast(a0)).crossJoin(broadcast(a1))
        .withColumn("theta_ppm", expr(
          "cast(floor(1000000.0 * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) " +
            "/ (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))) as bigint)"))
        .withColumn("rho2_ppm", expr(
          "cast(floor(1000000.0 * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) " +
            "* (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) " +
            "/ ((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) " +
            "* (cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)))) as bigint)"))
        .withColumn("raw_diff_micro", expr(
          "cast(floor(1000000.0 * (cast(sy_a as double) / cast(n_a as double) - cast(sy_b as double) / cast(n_b as double))) as bigint)"))
        .withColumn("adj_diff_micro", expr(
          "cast(floor(1000000.0 * ((cast(sy_a as double) / cast(n_a as double) - cast(sy_b as double) / cast(n_b as double)) " +
            "- ((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) " +
            "/ (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))) " +
            "* (cast(sx_a as double) / cast(n_a as double) - cast(sx_b as double) / cast(n_b as double)))) as bigint)"))
        .select(col("n_a").cast("bigint").as("n_a"), col("n_b").cast("bigint").as("n_b"),
          col("sy_a").cast("bigint").as("sum_y_a_cents"),
          col("sy_b").cast("bigint").as("sum_y_b_cents"),
          col("theta_ppm"), col("rho2_ppm"),
          col("raw_diff_micro"), col("adj_diff_micro"))
      result.orderBy("n_a")
    },

    // ---- EWMA VOLUME FORECAST (half-life-one exponential smoothing,
    // exact integer form): per-month order volume smoothed over a
    // TRAILING 31-MONTH window with weights 2^(30−lag), normalized by
    // the window's realized weight sum — an α=1/2 EWMA whose tail
    // truncation (< 2⁻³⁰) is made EXACT by renormalization, so every
    // engine computes identical integers (the q257 power-of-two
    // temperature rule; no pow(), no recurrence). One-step-ahead
    // forecast error |x_{i+1} − ewma_i| is the backtest column. Scale
    // shape: the corpus scan collapses map-side to ~10² month rows;
    // the weight convolution is a calendar²-bounded pair join (the
    // q335 discipline) and the month index is a window over the month
    // CALENDAR, not over rows. ----
    "q354_ewma_forecast" -> { (s, d) =>
      val m = Tables.orders(s, d)
        .select(date_trunc("month", col("o_orderdate").cast("timestamp")).as("mon"))
        .groupBy("mon").agg(count(lit(1)).as("x"))
      // month index over the bounded calendar (q330 vocabulary rule)
      val wi = Window.orderBy("mon")
      val idx = m.withColumn("i", row_number().over(wi))
      val anchor = idx.select(col("mon").as("mon_a"), col("i").as("ia"),
        col("x").as("xa"))
      val hist = idx.select(col("i").as("ib"), col("x").as("xb"))
      val conv = anchor.join(broadcast(hist),
          col("ib") <= col("ia") && col("ib") >= col("ia") - 30)
        .groupBy("mon_a", "ia", "xa")
        .agg(
          sum(expr("xb * shiftleft(cast(1 as bigint), 30 - cast(ia - ib as int))")).as("num"),
          sum(expr("shiftleft(cast(1 as bigint), 30 - cast(ia - ib as int))")).as("den"))
        .withColumn("ewma_milli", expr("(1000 * num) div den"))
      val nxt = idx.select((col("i") - 1).as("ia"), col("x").as("x_next"))
      val result = conv.join(broadcast(nxt), Seq("ia"), "left")
        .select(col("mon_a").cast("date").as("mon"),
          col("xa").cast("bigint").as("n_orders"),
          col("ewma_milli").cast("bigint").as("ewma_milli"),
          coalesce(col("x_next"), lit(-1L)).cast("bigint").as("next_actual"),
          coalesce(abs(lit(1000L) * col("x_next") - col("ewma_milli")), lit(-1L))
            .cast("bigint").as("abs_err_milli"))
      result.orderBy("mon")
    },

    // ---- BIPARTITE RESOURCE-ALLOCATION AFFINITY (Zhou, Ren, Medo &
    // Zhang 2007 — bipartite projection with resource-allocation
    // weighting; the Adamic–Adar/RA family of link predictors): which
    // customer PAIRS share the most informative co-purchased parts?
    // RA(a,b) = Σ_{z ∈ common parts} 1/deg(z) — rare parts carry the
    // signal, popular parts next to none, which the weighting encodes
    // and the popularity CAP enforces mechanically: parts bought by
    // > 48 customers are excluded BEFORE the wedge self-join (they
    // contribute < 1/48 each while costing deg² join rows — the
    // standard hub guard that keeps the projection O(parts · cap²),
    // LINEAR in catalog size at 100 TB, never Σ deg² over hubs).
    // Weights are exact integers (10⁹ // deg, the engine-portable
    // reciprocal quantization); top-50 with a full deterministic tie
    // order (score desc, then both keys) plans as TakeOrdered. ----
    "q355_copurchase_ra_affinity" -> { (s, d) =>
      val cp = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        .join(Tables.orders(s, d)
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
          "l_orderkey")
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val pdeg = cp.groupBy("p").agg(count(lit(1)).as("dz"))
        .filter(col("dz") >= 2 && col("dz") <= 48)
      val cpf = cp.join(pdeg, "p")
      val a = cpf.select(col("p"), col("c").as("ca"), col("dz"))
      val b = cpf.select(col("p"), col("c").as("cb"))
      val scored = a.join(b, "p").filter(col("ca") < col("cb"))
        .groupBy("ca", "cb")
        .agg(count(lit(1)).as("n_common"),
          sum(expr("1000000000 div dz")).as("ra_q"))
      val result = scored
        .select(col("ca").cast("bigint").as("cust_a"),
          col("cb").cast("bigint").as("cust_b"),
          col("n_common").cast("bigint").as("n_common_parts"),
          col("ra_q").cast("bigint").as("ra_q"))
        .orderBy(desc("ra_q"), col("cust_a"), col("cust_b")).limit(50)
      // the top-50 must plan as TakeOrderedAndProject (partial per-
      // partition top-k, never a full global sort of the wedge
      // aggregate) — the claim that makes the 100 TB shape cheap
      require(result.queryExecution.executedPlan.toString
          .contains("TakeOrderedAndProject"),
        "q355: top-k must plan as TakeOrderedAndProject")
      result
    },

    // ---- DIFFERENTIALLY-PRIVATE COUNT RELEASE, two-sided-geometric
    // mechanism (Ghosh, Roughgarden & Sundararajan 2009 — the discrete
    // analogue of Laplace; ε = ln 2 here): the privacy-release step the
    // k-anonymity suite (q182/q190/q216) prepares for. Noise must be
    // SAMPLED in production; for an engine gate it is DERIVED
    // deterministically from md5 bits — a geometric(1/2) draw is the
    // count of trailing one-bits of a uniform integer (exact, both
    // engines run the identical 16-step CASE ladder), and the
    // difference of two independent draws IS the two-sided geometric.
    // The audit table shows true count, both draws, the released count
    // and its nonnegative clamp per (lang, source) cell — a bounded
    // release surface computed in one map-side aggregate. ----
    "q357_dp_geometric_release" -> { (s, d) =>
      val cells = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
        .withColumn("h1", graft.functions.TextFunctions.hex64(
          md5(concat(lit("dp1:"), col("lang"), lit(":"), col("source")))))
        .withColumn("h2", graft.functions.TextFunctions.hex64(
          md5(concat(lit("dp2:"), col("lang"), lit(":"), col("source")))))
        .withColumn("g_up", expr(AnalyticsPack.trailingOnesCase("h1")))
        .withColumn("g_down", expr(AnalyticsPack.trailingOnesCase("h2")))
      val result = cells.select(col("lang"), col("source"),
        col("n_docs").cast("bigint").as("n_docs"),
        col("g_up").cast("bigint").as("g_up"),
        col("g_down").cast("bigint").as("g_down"),
        (col("n_docs") + col("g_up") - col("g_down")).cast("bigint").as("released"),
        greatest(col("n_docs") + col("g_up") - col("g_down"), lit(0L))
          .cast("bigint").as("released_clamped"))
      result.orderBy("lang", "source")
    },

    // ---- LABEL-CENTROID COSINE MATRIX over the embeddings table: the
    // class-geometry audit next to q323's Davies–Bouldin and q333's
    // centroid classifier — which label pairs are embedded close enough
    // to confuse a prototype-based retriever? Centroid normalization
    // cancels in cosine, so the matrix needs only per-(label, dim)
    // integer SUMS of the shared 1e-6 fixed-point quantization
    // ([[graft.functions.VectorFunctions]] — float→int64 exact, any
    // aggregation order). Cross products Σ sa·sb accumulate in
    // DECIMAL(38,0) (sums of 2e8-scale ints squared pass 2^53; q334's
    // HUGEINT-mirror discipline) and each pair's cosine is one
    // sqrt/divide double expression on those exact integers. Scale
    // shape: one narrow posexplode → (label, dim) map-side sum —
    // labels·dims rows — then a labels²·dims self-join. ----
    "q358_label_centroid_cosine" -> { (s, d) =>
      val sums = Tables.embeddings(s, d)
        .select(col("label"),
          posexplode(graft.functions.VectorFunctions.quantize(col("embedding"))))
        .groupBy("label", "pos").agg(sum("col").as("sv"))
      val nrm = sums.groupBy("label")
        .agg(sum(expr("cast(sv as decimal(38,0)) * sv")).as("nrm2"))
      val cnt = Tables.embeddings(s, d).groupBy("label")
        .agg(count(lit(1)).as("n"))
      val dots = sums.as("a")
        .join(sums.as("b"),
          col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
        .agg(sum(expr("cast(a.sv as decimal(38,0)) * b.sv")).as("sab"))
      val result = dots
        .join(nrm.select(col("label").as("la"), col("nrm2").as("naa")), "la")
        .join(nrm.select(col("label").as("lb"), col("nrm2").as("nbb")), "lb")
        .join(cnt.select(col("label").as("la"), col("n").as("n_a")), "la")
        .join(cnt.select(col("label").as("lb"), col("n").as("n_b")), "lb")
        .select(col("la").cast("int").as("label_a"),
          col("lb").cast("int").as("label_b"),
          col("n_a").cast("bigint").as("n_a"), col("n_b").cast("bigint").as("n_b"),
          expr(("cast(floor(1000000.0 * cast(sab as double) " +
            "/ (sqrt(cast(naa as double)) * sqrt(cast(nbb as double)))) as bigint)"))
            .as("cosine_micro"))
      result.orderBy("label_a", "label_b")
    },

    // ---- STL-LITE SEASONAL DECOMPOSITION (the classical
    // moving-average decomposition underlying STL — Cleveland 1990 §2's
    // baseline): monthly order volume = TREND (13-month centered moving
    // average — the odd-window variant, stated convention) + SEASONAL
    // (per month-of-year mean of the detrended series) + RESIDUAL. The
    // q214/q243 anomaly lanes assume a deseasonalized signal; this is
    // the table that produces one. All integer milli-units: the MA is
    // (1000·Σ) div 13, seasonal means are integer div over the ≤12
    // month-of-year groups, residual is a subtraction — no doubles
    // anywhere. Only months with a FULL 13-month window are emitted
    // (edge months have no defined trend; both engines apply the same
    // count(*)=13 guard). Windows run over the bounded month calendar
    // (the q330 vocabulary rule). ----
    "q360_stl_decomposition" -> { (s, d) =>
      val m = Tables.orders(s, d)
        .select(date_trunc("month", col("o_orderdate").cast("timestamp")).as("mon"))
        .groupBy("mon").agg(count(lit(1)).as("x"))
      val wMa = Window.orderBy("mon").rowsBetween(-6, 6)
      val tr = m
        .withColumn("wsum", sum("x").over(wMa))
        .withColumn("wcnt", count(lit(1)).over(wMa))
        .filter(col("wcnt") === 13)
        .withColumn("trend_milli", expr("(1000 * wsum) div 13"))
        .withColumn("detr_milli", lit(1000L) * col("x") - col("trend_milli"))
        .withColumn("moy", month(col("mon")))
      val seas = tr.groupBy("moy")
        .agg(expr("sum(detr_milli) div count(1)").as("seas_milli"))
      val result = tr.join(broadcast(seas), "moy")
        .select(col("mon").cast("date").as("mon"),
          col("x").cast("bigint").as("n_orders"),
          col("trend_milli").cast("bigint").as("trend_milli"),
          col("seas_milli").cast("bigint").as("seas_milli"),
          (col("detr_milli") - col("seas_milli")).cast("bigint").as("resid_milli"))
      result.orderBy("mon")
    },

    // ---- LAGGED CROSS-CORRELATION (CCF) between daily SIGNUP and
    // PURCHASE volume — does purchase activity lead or lag signups, and
    // by how many days? The cross-signal complement to q292's
    // autocorrelation, and the diagnostic behind every "conversion
    // latency" hypothesis (q215 measures per-user latency; the CCF
    // shows it in the aggregate signals). For each lag in −6..+6 the
    // aligned day pairs' Pearson r comes from exact integer power sums
    // (daily counts ≤ 10⁴ ⇒ every sum < 2⁵³) and ONE double
    // sqrt/divide expression per lag row, floor-quantized ×10³. Day
    // pairs are calendar²-bounded (the q335 discipline); the day grid
    // itself is one map-side count aggregate. ----
    "q361_signal_ccf" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"))
      val daily = ev.groupBy("day").agg(
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("xs"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ys"))
      val wi = Window.orderBy("day")
      val idx = daily.withColumn("i", row_number().over(wi))
      val lags = idx.sparkSession.range(-6, 7).select(col("id").as("lag"))
      val a = idx.select(col("i").as("ia"), col("xs").as("xa"))
      val b = idx.select(col("i").as("ib"), col("ys").as("yb"))
      val pairs = broadcast(lags).crossJoin(a)
        .join(broadcast(b), col("ib") === col("ia") + col("lag"))
      val sums = pairs.groupBy("lag").agg(
        count(lit(1)).as("n"),
        sum("xa").as("sx"), sum("yb").as("sy"),
        sum(expr("xa * yb")).as("sxy"),
        sum(expr("xa * xa")).as("sxx"),
        sum(expr("yb * yb")).as("syy"))
      val result = sums.select(col("lag").cast("bigint").as("lag"),
        col("n").cast("bigint").as("n_pairs"),
        expr(("cast(floor(1000.0 * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) " +
          "/ sqrt((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) " +
          "* (cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)))) as bigint)"))
          .as("r_milli"))
      result.orderBy("lag")
    },

    // ---- GUIRAUD ROOT-TTR (Guiraud 1954): V/√N lexical diversity per
    // document, aggregated per source — the LENGTH-NORMALIZED diversity
    // index the raw TTR confound q334 MEASURES calls for (raw V/N
    // falls mechanically with N; V/√N is stable under doubling for
    // Zipfian text, so cross-source comparisons stop rewarding short
    // docs). Per-doc values are floor-quantized to micro BEFORE any
    // cross-row aggregation (one sqrt+divide on exact ints — the q175
    // correctly-rounded-sqrt rule), then integer mean/min/max per
    // source. One scan, map-side collapse; no windows, no joins. ----
    "q362_root_ttr" -> { (s, d) =>
      import graft.functions.TextFunctions.{tokens, tokenSet}
      val per = Tables.documents(s, d)
        .select(col("source"),
          size(tokens(col("text"))).cast("bigint").as("n"),
          size(tokenSet(col("text"))).cast("bigint").as("v"))
        .filter(col("n") > 0)
        .withColumn("rttr_micro", expr(
          "cast(floor(1000000.0 * cast(v as double) / sqrt(cast(n as double))) as bigint)"))
      val result = per.groupBy("source").agg(
          count(lit(1)).cast("bigint").as("n_docs"),
          expr("sum(rttr_micro) div count(1)").cast("bigint").as("mean_rttr_micro"),
          min("rttr_micro").cast("bigint").as("min_rttr_micro"),
          max("rttr_micro").cast("bigint").as("max_rttr_micro"))
      result.orderBy("source")
    },

    // ---- PERCENT_RANK / CUME_DIST SURFACE over the order calendar:
    // within each YEAR, where does each month's volume sit in the
    // year's distribution? Completes the engine's window-function
    // surface (rank/dense_rank/ntile/frames live in q22/q88/q99; the
    // two relative-position functions were the gap) on a partition
    // axis that stays CALENDAR-BOUNDED at any corpus size — ≤ 12 rows
    // per partition, the explicit antithesis of the per-source
    // row-scale windows the r7 review flagged. The (volume, month)
    // order key is total, so both functions are deterministic; their
    // exact-rational doubles are floor-quantized ×10⁶ (identical IEEE
    // division on small ints). ----
    "q363_percent_rank_calendar" -> { (s, d) =>
      val m = Tables.orders(s, d)
        .select(year(col("o_orderdate").cast("timestamp")).as("yr"),
          month(col("o_orderdate").cast("timestamp")).as("mo"))
        .groupBy("yr", "mo").agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("yr").orderBy("x", "mo")
      val result = m
        .withColumn("pr_micro",
          floor(percent_rank().over(w) * lit(1e6)).cast("bigint"))
        .withColumn("cd_micro",
          floor(cume_dist().over(w) * lit(1e6)).cast("bigint"))
        .select(col("yr").cast("int").as("yr"), col("mo").cast("int").as("mo"),
          col("x").cast("bigint").as("n_orders"),
          col("pr_micro"), col("cd_micro"))
      result.orderBy("yr", "mo")
    },

    // ---- BRIER SCORE DECOMPOSITION (Murphy 1973: reliability −
    // resolution + uncertainty) for a frequency forecaster of
    // signup→7-day-purchase conversion: train the per-WEEKDAY
    // conversion rate on the md5-even half of users, score the odd
    // half — the calibration readout q172 gives the NB classifier,
    // here for a probabilistic forecaster with a PROPER score. The
    // weekday is computed as (days-since-epoch mod 7) — pure integer,
    // identical in both engines (dayofweek() numbering differs
    // between them). Rates are ppm integers; the per-bin reliability
    // n_k(p_k−o_k)² and resolution n_k(o_k−ō)² terms are integer
    // products floor-divided ×10⁻⁶ PER BIN before any cross-bin sum
    // (the q346 rule), and uncertainty ō(10⁶−ō)//10⁶ is one global
    // integer expression. Scale shape: two map-side aggregates over
    // the signup stream — the bin axis is 7 rows. ----
    "q364_brier_decomposition" -> { (s, d) =>
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("us").as("su_us"), min("ts").as("su_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("pu_us"))
      val obs = su.join(pu, Seq("user_id"), "left")
        .groupBy("user_id", "su_us", "su_ts")
        .agg(max(when(col("pu_us") >= col("su_us") &&
          col("pu_us") < col("su_us") + lit(604800000000L), 1L)
          .otherwise(0L)).as("conv"))
        .na.fill(0L, Seq("conv"))
        .select(col("user_id"),
          pmod(datediff(to_date(col("su_ts")), lit("1970-01-01").cast("date")),
            lit(7)).as("wd"),
          col("conv"),
          pmod(graft.functions.TextFunctions.hex64(
            md5(concat(lit("brier:"), col("user_id")))), lit(2)).as("split"))
      val train = obs.filter(col("split") === 0).groupBy("wd")
        .agg(count(lit(1)).as("n_train"), sum("conv").as("c_train"))
        .withColumn("p_ppm", expr("(c_train * 1000000) div n_train"))
      val eval0 = obs.filter(col("split") === 1).groupBy("wd")
        .agg(count(lit(1)).as("n_eval"), sum("conv").as("c_eval"))
        .withColumn("o_ppm", expr("(c_eval * 1000000) div n_eval"))
      val glob = eval0.agg(sum("n_eval").as("ne"), sum("c_eval").as("ce"))
        .withColumn("obar_ppm", expr("(ce * 1000000) div ne"))
      val result = train.join(eval0, "wd").crossJoin(broadcast(glob))
        .withColumn("rel_q", expr(
          "(n_eval * (p_ppm - o_ppm) * (p_ppm - o_ppm)) div 1000000"))
        .withColumn("res_q", expr(
          "(n_eval * (o_ppm - obar_ppm) * (o_ppm - obar_ppm)) div 1000000"))
        .withColumn("unc_q", expr("(obar_ppm * (1000000 - obar_ppm)) div 1000000"))
        .select(col("wd").cast("int").as("wd"),
          col("n_train").cast("bigint").as("n_train"),
          col("p_ppm").cast("bigint").as("p_ppm"),
          col("n_eval").cast("bigint").as("n_eval"),
          col("o_ppm").cast("bigint").as("o_ppm"),
          col("rel_q").cast("bigint").as("rel_q"),
          col("res_q").cast("bigint").as("res_q"),
          col("obar_ppm").cast("bigint").as("obar_ppm"),
          col("unc_q").cast("bigint").as("unc_q"))
      result.orderBy("wd")
    },

    // ---- CLIFF'S DELTA EFFECT SIZE (Cliff 1993) for the q211 A/B
    // readout: δ = P(X_a > X_b) − P(X_a < X_b), the ordinal effect size
    // reviewers ask for NEXT to the Welch significance number (t² says
    // "real", δ says "how big" without assuming normality — apt for
    // heavy-tailed spend). Computed EXACTLY from the q331 doubled-
    // midrank machinery over the pooled spend-value vocabulary: 2U_a =
    // S2_a − n_a(n_a+1) and n_gt − n_lt = 2U_a − n_a·n_b (ties cancel),
    // so δ needs no pair enumeration at all — one rank-table join and
    // integer arithmetic, with Romano 2006's magnitude bands applied to
    // |δ| in milli. Same deterministic md5 buckets and zero-fill
    // convention as q180/q211/q353. ----
    "q365_cliffs_delta" -> { (s, d) =>
      val spend = Tables.events(s, d)
        .select(col("user_id"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("cents"))
        .groupBy("user_id").agg(sum("cents").as("cents"))
      val assigned = Tables.customer(s, d)
        .select(col("c_custkey"))
        .withColumn("bucket", pmod(graft.functions.TextFunctions.hex64(
          md5(concat(lit("exp1:"), col("c_custkey")))), lit(2)))
        .join(spend.withColumnRenamed("user_id", "c_custkey"),
          Seq("c_custkey"), "left")
        .select(col("bucket"), coalesce(col("cents"), lit(0L)).as("m"))
      val vc = assigned.groupBy("m").agg(count(lit(1)).as("ct"))
      val wv = Window.orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r2 = vc.withColumn("cum", sum("ct").over(wv))
        .select(col("m"),
          (lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L).as("r2"))
      val per = assigned.groupBy("bucket", "m").agg(count(lit(1)).as("cs"))
        .join(r2, "m")
        .groupBy("bucket").agg(sum("cs").as("n"), sum(col("cs") * col("r2")).as("s2"))
      val a0 = per.filter(col("bucket") === 0)
        .select(col("n").as("n_a"), col("s2").as("s2_a"))
      val a1 = per.filter(col("bucket") === 1).select(col("n").as("n_b"))
      val result = a0.crossJoin(broadcast(a1))
        .withColumn("u2_a", col("s2_a") - col("n_a") * (col("n_a") + 1L))
        .withColumn("delta_milli",
          expr("((u2_a - n_a * n_b) * 1000) div (n_a * n_b)"))
        .withColumn("magnitude", expr(
          """CASE WHEN abs(delta_milli) < 147 THEN 'negligible'
            |     WHEN abs(delta_milli) < 330 THEN 'small'
            |     WHEN abs(delta_milli) < 474 THEN 'medium'
            |     ELSE 'large' END""".stripMargin))
        .select(col("n_a").cast("bigint").as("n_a"),
          col("n_b").cast("bigint").as("n_b"),
          col("u2_a").cast("bigint").as("u2_a"),
          col("delta_milli").cast("bigint").as("delta_milli"),
          col("magnitude"))
      result.orderBy("n_a")
    },

    // ---- CROSS-SOURCE QUANTILE-NORMALIZATION TABLE: for each source,
    // map its document-length DECILES onto the POOLED corpus deciles —
    // the lookup table a mixing pipeline applies when one source's
    // length distribution must be aligned to the corpus before
    // length-based quality gates (q340's PSI detects the drift; this
    // table is the CORRECTION for it). Decile q of a distribution is
    // min{x : 10·cum(x) ≥ q·n} — exact integers off the same
    // per-source length-vocabulary CDF machinery as q330 (windows over
    // the bounded VALUE vocabulary, parallel by source; the pooled CDF
    // is one more vocabulary-sized frame). Output is sources×9 rows. ----
    "q366_quantile_normalize" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("bigint").as("x"))
      def deciles(cnt: DataFrame, part: Seq[String]): DataFrame = {
        val w = if (part.isEmpty) Window.orderBy("x")
          else Window.partitionBy(part.map(col): _*).orderBy("x")
        val keyCols = (part.map(col) :+ col("x") :+ col("cum") :+ col("n"))
        val cum = cnt
          .withColumn("cum", sum("ct").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(keyCols: _*)
        val qs = cum.sparkSession.range(1, 10).select(col("id").as("q"))
        cum.crossJoin(broadcast(qs))
          .filter(col("cum") * 10 >= col("q") * col("n"))
          .groupBy((part.map(col) :+ col("q")): _*)
          .agg(min("x").as("dec"))
      }
      val srcCnt = docs.groupBy("source", "x").agg(count(lit(1)).as("ct"))
        .join(docs.groupBy("source").agg(count(lit(1)).as("n")), "source")
      val poolCnt = docs.groupBy("x").agg(count(lit(1)).as("ct"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      val sd = deciles(srcCnt, Seq("source"))
        .select(col("source"), col("q"), col("dec").as("src_val"))
      val pd = deciles(poolCnt, Seq.empty)
        .select(col("q"), col("dec").as("pooled_val"))
      val result = sd.join(broadcast(pd), "q")
        .select(col("source"), col("q").cast("int").as("decile"),
          col("src_val").cast("bigint").as("src_val"),
          col("pooled_val").cast("bigint").as("pooled_val"),
          (col("src_val") - col("pooled_val")).cast("bigint").as("shift"))
      result.orderBy("source", "decile")
    },

    // ---- SHINGLE-UNIQUENESS CURVE (w-shingling, Broder 1997 §2): for
    // w ∈ {2,3,4}, how much of the corpus's shingle mass is duplicated
    // and how much of the vocabulary is singleton — the diagnostic that
    // picks the shingle width BEFORE q230's banding sweep tunes (b, r)
    // on top of it (too-small w ⇒ everything collides; the curve shows
    // where uniqueness saturates). Exact counts off one tokenize pass
    // per width: the (w, shingle) groupBy collapses map-side, and every
    // output is a ppm floor-division of exact int64 counts. ----
    "q367_shingle_uniqueness" -> { (s, d) =>
      import graft.functions.TextFunctions.{tokens, wordShinglesOf}
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
      val sh = Seq(2, 3, 4).map { w =>
        toks.select(lit(w).as("w"),
          explode(wordShinglesOf(col("ts"), w)).as("sgl"))
      }.reduce(_ unionByName _)
      val counts = sh.groupBy("w", "sgl").agg(count(lit(1)).as("ct"))
      val result = counts.groupBy("w")
        .agg(sum("ct").as("n_total"), count(lit(1)).as("n_distinct"),
          sum(when(col("ct") === 1, 1L).otherwise(0L)).as("n_singleton"))
        .select(col("w").cast("int").as("w"),
          col("n_total").cast("bigint").as("n_total"),
          col("n_distinct").cast("bigint").as("n_distinct"),
          col("n_singleton").cast("bigint").as("n_singleton"),
          expr("((n_total - n_distinct) * 1000000) div n_total")
            .cast("bigint").as("dup_mass_ppm"),
          expr("(n_singleton * 1000000) div n_distinct")
            .cast("bigint").as("singleton_ppm"))
      result.orderBy("w")
    },

    // ---- DKW MEDIAN CONFIDENCE BAND (Dvoretzky–Kiefer–Wolfowitz 1956
    // with Massart 1990's tight constant): a DISTRIBUTION-FREE 95%
    // band around each source's median document length — sup-norm CDF
    // uncertainty ε = √(ln(2/α)/2n) mapped through the empirical CDF
    // inverse, so the bound is exact-finite-sample, no normality and
    // no bootstrap resampling (the q167/q261 lanes' assumptions-free
    // cousin). ε is one sqrt on a full-precision double literal over
    // n (identical text both engines, floor-ppm); the three inverse-
    // CDF lookups reuse the per-source length-vocabulary machinery
    // (q330/q366 — windows over the bounded value vocabulary only).
    // The upper rank clamps at n (a band reaching past the sample
    // maximum returns the maximum — stated convention). ----
    "q368_dkw_median_band" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("bigint").as("x"))
      val cnt = docs.groupBy("source", "x").agg(count(lit(1)).as("ct"))
        .join(docs.groupBy("source").agg(count(lit(1)).as("n")), "source")
      val w = Window.partitionBy("source").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cnt.withColumn("cum", sum("ct").over(w))
        .withColumn("eps_ppm", expr(
          "cast(floor(1000000.0 * sqrt(3.6888794541139363 / (2.0 * cast(n as double)))) as bigint)"))
        .withColumn("f_lo", greatest(lit(500000L) - col("eps_ppm"), lit(0L)))
        .withColumn("f_hi", least(lit(500000L) + col("eps_ppm"), lit(1000000L)))
      val med = cum.filter(col("cum") * 2 >= col("n"))
        .groupBy("source").agg(min("x").as("median_len"))
      val lo = cum.filter(col("cum") * 1000000L >= col("f_lo") * col("n"))
        .groupBy("source").agg(min("x").as("lo_val"))
      val hi = cum.filter(col("cum") * 1000000L >= col("f_hi") * col("n"))
        .groupBy("source").agg(min("x").as("hi_val"))
      val base = cum.groupBy("source")
        .agg(max("n").as("n_docs"), max("eps_ppm").as("eps_ppm"))
      val result = base.join(med, "source").join(lo, "source").join(hi, "source")
        .select(col("source"), col("n_docs").cast("bigint").as("n_docs"),
          col("eps_ppm").cast("bigint").as("eps_ppm"),
          col("median_len").cast("bigint").as("median_len"),
          col("lo_val").cast("bigint").as("lo_val"),
          col("hi_val").cast("bigint").as("hi_val"))
      result.orderBy("source")
    },

    // ---- JARQUE–BERA NORMALITY TEST (Jarque & Bera 1980) of document
    // length per source — the omnibus skewness+kurtosis gate that a
    // "lengths look log-normal-ish, is a Gaussian assumption remotely
    // tenable?" decision (e.g. z-score outlier gates like q243) should
    // be checked against. One aggregate of exact power sums through x⁴
    // (q170's discipline extended one order: s3/s4 accumulate in
    // DECIMAL(38,0) — hugeint on the oracle side — so the cross-group
    // sum is exact and order-independent at any corpus size); the
    // derived moments / JB statistic are IEEE doubles from the exact
    // integers with the SAME formula text in both engines (sqrt only —
    // correctly rounded where pow is not). Scale shape: one map-side-
    // combining aggregate, sources-bounded output. ----
    "q369_jarque_bera" -> { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("documents")
      s.sql(jarqueBeraSql)
    },

    // ---- MANN–KENDALL TREND TEST (Mann 1945; Kendall 1975) on daily
    // event volume — the nonparametric is-traffic-drifting monitor
    // that complements q335's Theil–Sen SLOPE with a significance
    // DECISION (and unlike q200's least-squares slope it needs no
    // linearity or normality). S and the tie-corrected 18·Var(S) are
    // exact int64 (day pairs are calendar²-bounded, the q335 rule);
    // the normal-approximation z uses the standard ±1 continuity
    // correction and ONE sqrt on exact integers. ----
    "q370_mann_kendall" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(mannKendallSql)
    },

    // ---- SEASONAL MANN–KENDALL (Hirsch & Slack 1984): q370's trend
    // test made immune to PERIODIC structure — S and the tie-corrected
    // 18·Var(S) are computed PER DAY-OF-WEEK stratum (pairs only
    // compare same-weekday days, so the weekly cycle q292's lag-7 ACF
    // measures can't masquerade as a trend) and then summed; the z
    // guard and continuity correction are q370's exactly. One template
    // text (the dow is the q382 epoch-day arithmetic — engine date
    // functions disagree on week start, so only the epoch-day token
    // differs); per-stratum day pairs stay calendar²-bounded. ----
    "q418_seasonal_mk" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(seasonalMkSql("datediff(CAST(ts AS DATE), DATE '1970-01-01')"))
    },

    // ---- COCHRAN–ARMITAGE TREND TEST (Cochran 1954; Armitage 1955):
    // does the conversion RATE rise or fall monotonically across
    // ordered spend deciles? The chi-square family (q172) only says
    // "rates differ somewhere"; CA weights each decile by its ordinal
    // score and tests the linear component — the standard dose-response
    // test, here "does pre-period spend predict conversion". Deciles
    // come from the q397 PrefixSum rank discipline (never a row-scale
    // rank window); T = Σ wᵢ(yᵢ·N − nᵢ·Y) and Var·N = Y(N−Y)·(N·Σw²n −
    // (Σwn)²)/N are exact int64 off the 10-row decile frame; z is one
    // identical divide/sqrt/floor text. ----
    "q419_cochran_armitage" -> { (s, d) =>
      val users = spendConversion(s, d)
      val ranked = graft.functions.PrefixSum.inclusive(users,
        Seq(col("x").desc, col("c_custkey")), Seq((lit(1L), "rk")))
      val nAll = ranked.agg(count(lit(1)).as("n"))
      val dec = ranked.crossJoin(broadcast(nAll))
        .withColumn("w", expr("((rk - 1) * 10) div n"))
        .groupBy("w").agg(count(lit(1)).as("ni"), sum("y").as("yi"))
      val tot = dec.agg(sum("ni").as("nn"), sum("yi").as("yy"),
        sum(expr("w * ni")).as("swn"), sum(expr("w * w * ni")).as("swwn"),
        sum(expr("w * yi")).as("swy"))
      val result = dec.crossJoin(broadcast(tot))
        .withColumn("t_i", expr("w * (yi * nn - ni * yy)"))
        .groupBy("nn", "yy", "swn", "swwn", "swy")
        .agg(sum("t_i").as("t"))
        .select(col("nn").cast("bigint").as("n_users"),
          col("yy").cast("bigint").as("n_converted"),
          col("t").cast("bigint").as("t_stat"),
          expr("yy * (nn - yy)").cast("bigint").as("ybin"),
          expr("nn * swwn - swn * swn").cast("bigint").as("wvar_n"),
          expr("CASE WHEN yy > 0 AND yy < nn AND nn * swwn - swn * swn > 0 THEN " +
            "cast(floor(1000.0 * cast(t as double) / " +
            "sqrt(cast(yy * (nn - yy) as double) * " +
            "cast(nn * swwn - swn * swn as double) / cast(nn as double))) as bigint) " +
            "ELSE 0 END").as("z_milli"))
        .withColumn("trend", expr("CASE WHEN z_milli > 1960 THEN 'increasing' " +
          "WHEN z_milli < -1960 THEN 'decreasing' ELSE 'none' END"))
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.forall(w => (w.partitionSpec ++ w.orderSpec)
            .flatMap(_.references.toSeq).exists(_.name == "__pid")),
          "q419: a non-PrefixSum row-scale window appeared")
      }
      result.orderBy("n_users")
    },

    // ---- WILSON SCORE INTERVALS (Wilson 1927) for the per-weekday
    // purchase share: the proportion CI that stays inside [0,1] and
    // behaves at small n where the normal (Wald) interval collapses —
    // the per-cell uncertainty a weekday-mix dashboard should print
    // next to every rate (q364's Brier forecaster implicitly assumes
    // these cells are estimated well; this query says how well). k and
    // n are exact int64 event counts; the interval is ONE sqrt inside
    // a fixed z=1.96 formula whose text both engines run verbatim
    // (weekday from the q364 epoch-mod-7 trick, portable across the
    // engines' dayofweek numbering). ----
    "q382_wilson_intervals" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(wilsonSql("unix_micros(ts)"))
    },

    // ---- QINI UPLIFT CURVE (Radcliffe 2007): cumulative incremental
    // responders by score decile under the deterministic md5 A/B
    // assignment — the standard uplift-model evaluation (here the
    // "model" is the pre-period-spend prior, q353's covariate; on a
    // null treatment the honest curve wiggles around 0, and the gate
    // pins that both engines compute the SAME wiggle). The score rank
    // is the distributed PrefixSum (plan-REQUIREd — pre-period spend
    // is near-unique, so a value-vocabulary window would be row-scale);
    // deciles, arm counts and responder counts are exact int64; the
    // Qini value is one double expression per decile row. ----
    "q397_qini_uplift" -> { (s, d) =>
      val users = spendConversion(s, d)
        .withColumn("arm", graft.functions.TextFunctions.hex64(
          md5(concat(lit("qini:"), col("c_custkey")))) % 2)
      val ranked = graft.functions.PrefixSum.inclusive(users,
        Seq(col("x").desc, col("c_custkey")), Seq((lit(1L), "rk")))
      val n = ranked.agg(count(lit(1)).as("n"))
      val dec = ranked.crossJoin(broadcast(n))
        .withColumn("decile", expr("((rk - 1) * 10) div n"))
        .groupBy("decile")
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("rt"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("rc"))
      // cumulative over the 10-row decile frame (bounded window)
      val wc = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val result = dec
        .withColumn("nt_cum", sum("nt").over(wc))
        .withColumn("nc_cum", sum("nc").over(wc))
        .withColumn("rt_cum", sum("rt").over(wc))
        .withColumn("rc_cum", sum("rc").over(wc))
        .select(col("decile").cast("int").as("decile"),
          col("nt").cast("bigint").as("nt"), col("nc").cast("bigint").as("nc"),
          col("rt").cast("bigint").as("rt"), col("rc").cast("bigint").as("rc"),
          col("nt_cum").cast("bigint").as("nt_cum"),
          col("nc_cum").cast("bigint").as("nc_cum"),
          col("rt_cum").cast("bigint").as("rt_cum"),
          col("rc_cum").cast("bigint").as("rc_cum"),
          // guard: a decile prefix with zero control-arm customers
          // (nc_cum = 0) must pin qini to a DEFINED value on both
          // engines — Spark clamps floor(Infinity) while DuckDB
          // raises on CAST(Infinity AS BIGINT)
          expr("CASE WHEN nc_cum > 0 THEN cast(floor(1000.0 * (cast(rt_cum as double) " +
            "- cast(rc_cum as double) * cast(nt_cum as double) / cast(nc_cum as double))) as bigint) " +
            "ELSE cast(0 as bigint) END")
            .as("qini_milli"))
      // Plan REQUIRE: the rank must be PrefixSum machinery or the tiny
      // decile cumsum — no row-scale single-task sort may creep back
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.forall(w => (w.partitionSpec ++ w.orderSpec)
            .flatMap(_.references.toSeq)
            .exists(a => a.name == "__pid" || a.name == "decile")),
          "q397: a non-PrefixSum row-scale window appeared")
      }
      result.orderBy("decile")
    },

    // ---- WALD SPRT SEQUENTIAL SRM MONITOR (Wald 1945): the sequential
    // version of q180's one-shot sample-ratio-mismatch χ² — instead of
    // testing once at the end, accumulate the Bernoulli log-likelihood
    // ratio of "arm-B share is 0.5" (H0) vs "0.55" (H1) day by day and
    // stop the FIRST day the LLR crosses Wald's α=β=0.05 boundaries
    // ±ln 19. This is the always-valid early-abort an experimentation
    // platform runs while an A/B test is live (a broken randomizer is
    // caught in days, not at readout). No transcendental is evaluated:
    // LLR = K·ln(1.1) + (N−K)·ln(0.9) with the two log-constants as
    // full-precision literals over exact cumulative int64 counts (the
    // q371/q374 discipline); the daily cumsum runs over the
    // calendar-bounded day vocabulary. Deterministic md5 arm
    // assignment (q180's coin). ----
    "q384_sprt_srm" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(sprtSql("unix_micros(ts)",
        "CAST(conv(substring(md5(concat('sprt:', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
    },

    // ---- PERMUTATION TEST (Fisher 1935; the exact-inference
    // workhorse): is the observed treatment/control conversion gap
    // explainable by the assignment alone? 63 deterministic
    // pseudo-permutations of the arm labels (salted md5 coins, b =
    // 1..63; b = 0 IS the observed assignment) re-split the SAME users,
    // and the p-value is the rank of the observed |rate gap| among the
    // permuted ones — assumption-free where q180's chi-square leans on
    // asymptotics. Everything is exact integer: per-b counts collapse
    // map-side (the 64x explode never reaches a shuffle at row scale),
    // and |d_b| >= |d_0| on rate DIFFERENCES compares via
    // cross-multiplied DECIMAL products, no float division ever. The
    // add-one p estimator (Phipson & Smyth 2010) keeps p valid. ----
    "q402_perm_test" -> { (s, d) =>
      val conv = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("c_custkey")).distinct()
        .withColumn("y", lit(1L))
      val users = Tables.customer(s, d).select(col("c_custkey"))
        .join(conv, Seq("c_custkey"), "left").na.fill(0L, Seq("y"))
      val ex = users.withColumn("b", explode(expr("sequence(0, 63)")))
        .withColumn("arm", graft.functions.TextFunctions.hex64(
          md5(concat(lit("perm:"), col("b").cast("string"), lit(":"),
            col("c_custkey").cast("string")))) % 2)
      val per = ex.groupBy("b").agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("rt"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("rc"))
        .withColumn("diff", expr("rt * nc - rc * nt"))
        .withColumn("den", expr("nt * nc"))
      val obs = per.filter(col("b") === 0)
        .select(col("diff").as("diff0"), col("den").as("den0"))
      val flagged = per.crossJoin(broadcast(obs))
        .withColumn("exceeds", expr(
          "CAST(abs(diff) AS DECIMAL(19,0)) * den0 >= CAST(abs(diff0) AS DECIMAL(19,0)) * den"))
      val pc = flagged.filter(col("b") >= 1 && col("exceeds"))
        .agg(count(lit(1)).as("n_exceed"))
      val result = flagged.crossJoin(broadcast(pc))
        .select(col("b").cast("bigint").as("b"),
          col("nt"), col("nc"), col("rt"), col("rc"), col("diff"), col("den"),
          col("exceeds"),
          expr("(1000 * (1 + n_exceed)) div 64").cast("bigint").as("p_milli"))
      result.orderBy("b")
    },

    // ---- CRAMÉR'S V (Cramér 1946 §21.9): the normalized strength of
    // association between two CATEGORICAL columns — the χ² test (q172's
    // family) says "dependent or not", V says HOW dependent on a [0,1]
    // scale comparable across tables, which is what a schema-profiling
    // pass stores per column pair. Computed on nation × market segment
    // over customer: the DENSE category grid (vocab × vocab, zero cells
    // INCLUDED — an empty cell still contributes its expectation to
    // χ²), each cell's (o·n − rt·ct)²/(rt·ct·n) term exact via
    // DECIMAL(38,0)/HUGEINT products floor-quantized to micro, summed
    // as int64; V is one sqrt on the exact ratio. Cell terms: o·n fits
    // int64 through ~3e9 rows (DECIMAL beyond, noted); the grid is
    // vocabulary-bounded (25×5), never row-scale. χ²₀.₀₅(96 dof) =
    // 119.871 enters as a literal for the independence decision. ----
    "q411_cramers_v" -> { (s, d) =>
      val base = Tables.customer(s, d)
        .select(col("c_nationkey").cast("bigint").as("nat"),
          col("c_mktsegment").as("seg"))
      val cells = base.groupBy("nat", "seg").agg(count(lit(1)).as("o"))
      val rows0 = base.groupBy("nat").agg(count(lit(1)).as("rt"))
      val cols0 = base.groupBy("seg").agg(count(lit(1)).as("ct"))
      val nn = base.agg(count(lit(1)).as("n"))
      val grid = rows0.crossJoin(cols0)
        .join(cells, Seq("nat", "seg"), "left").na.fill(0L, Seq("o"))
        .crossJoin(broadcast(nn))
        .withColumn("term_micro", expr(
          "(CAST(o * n - rt * ct AS DECIMAL(38,0)) * (o * n - rt * ct) * 1000000) " +
            "div (CAST(rt AS DECIMAL(38,0)) * ct * n)"))
      val dims = grid.agg(
        countDistinct("nat").as("r"), countDistinct("seg").as("c"),
        sum("term_micro").as("chi2_micro"))
      // Corpus-precondition REQUIRE (enforced, not just documented —
      // r9 ADVICE): reject_indep compares chi2 against the FIXED
      // χ²₀.₀₅(96) critical value 119.871, which is only the right
      // literal at the full 25×5 nation×segment vocabulary. On a
      // corpus missing a nation or segment the dynamic dof and the
      // decision literal would silently disagree — fail loudly instead.
      locally {
        val rc = base.agg(countDistinct("nat").as("r"),
          countDistinct("seg").as("c")).head
        val (r0, c0) = (rc.getLong(0), rc.getLong(1))
        require((r0 - 1) * (c0 - 1) == 96L,
          s"q411 corpus precondition violated: dof = ${(r0 - 1) * (c0 - 1)} " +
            s"(categories ${r0}x${c0}), but reject_indep's critical value " +
            "119.871 is pinned to dof = 96 (the full 25x5 vocabulary)")
      }
      val result = dims.crossJoin(broadcast(nn))
        .withColumn("mindim", expr("least(r - 1, c - 1)"))
        .select(col("n").cast("bigint").as("n_rows"),
          col("r").cast("bigint").as("n_cats_a"),
          col("c").cast("bigint").as("n_cats_b"),
          expr("(r - 1) * (c - 1)").cast("bigint").as("dof"),
          col("chi2_micro").cast("bigint").as("chi2_micro"),
          expr("cast(floor(1000.0 * sqrt(cast(chi2_micro as double) / " +
            "(1000000.0 * cast(n as double) * cast(mindim as double)))) as bigint)")
            .as("v_milli"),
          (col("chi2_micro") > lit(119871000L)).as("reject_indep"))
      result.orderBy("n_rows")
    },

    // ---- STRATIFIED / IPW AVERAGE TREATMENT EFFECT (Horvitz &
    // Thompson 1952; Imbens & Rubin ch.17): the causal companion to
    // q353's CUPED (variance) and q397's Qini (ranking) — the overall
    // conversion lift under the deterministic md5 arm, adjusted by
    // nation strata. With EXACT within-stratum propensities
    // e_s = nt_s/n_s, the IPW estimator algebraically collapses to the
    // stratified one: ate = sum_s (n_s/N) * (rt_s/nt_s - rc_s/nc_s), so
    // one map-side-combining groupBy on the 25-value nation vocabulary
    // is the whole computation. Rate gaps are integer ppm via the
    // sign/abs division discipline (both engines then truncate
    // identically on provably-nonnegative operands); strata missing an
    // arm contribute 0 (guarded). int64 throughout at gate scale; the
    // products bound as n_s^2 * 1e6 — widen to DECIMAL(38,0) beyond
    // ~1e7-user strata. ----
    "q403_ipw_ate" -> { (s, d) =>
      val conv = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("c_custkey")).distinct()
        .withColumn("y", lit(1L))
      val users = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").cast("int").as("nat"))
        .join(conv, Seq("c_custkey"), "left").na.fill(0L, Seq("y"))
        .withColumn("arm", graft.functions.TextFunctions.hex64(
          md5(concat(lit("ipw:"), col("c_custkey").cast("string")))) % 2)
      val strata = users.groupBy("nat").agg(
          count(lit(1)).as("n"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("rt"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("rc"))
        .withColumn("dd_ppm", expr(
          "CASE WHEN nt > 0 AND nc > 0 THEN " +
            "CASE WHEN rt * nc - rc * nt >= 0 " +
            "THEN (1000000 * (rt * nc - rc * nt)) div (nt * nc) " +
            "ELSE -((1000000 * (rc * nt - rt * nc)) div (nt * nc)) END " +
            "ELSE 0 END"))
        .withColumn("contrib", expr("n * dd_ppm"))
      val tot = strata.agg(sum("contrib").as("sc"), sum("n").as("nn"))
      val result = strata.crossJoin(broadcast(tot))
        .withColumn("ate_ppm", expr(
          "CASE WHEN sc >= 0 THEN sc div nn ELSE -((-sc) div nn) END"))
        .select(col("nat"), col("n"), col("nt"), col("nc"), col("rt"),
          col("rc"), col("dd_ppm"), col("ate_ppm"))
      result.orderBy("nat")
    }
  )

  /** q369: ONE SQL text run verbatim by Spark and DuckDB (the q170
    * shared-expression discipline; no engine-specific cast names are
    * needed because the exact DECIMAL sums stay internal). */
  private val jarqueBeraSql: String =
    """WITH c AS (SELECT source, CAST(n_chars AS BIGINT) AS q FROM documents),
      |sums AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(q) AS BIGINT) AS s1,
      |         CAST(sum(q * q) AS BIGINT) AS s2,
      |         sum(CAST(q AS DECIMAL(38,0)) * q * q) AS s3,
      |         sum(CAST(q AS DECIMAL(38,0)) * q * q * q) AS s4
      |  FROM c GROUP BY source),
      |m AS (
      |  SELECT source, n,
      |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
      |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
      |         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      |  FROM sums),
      |cm AS (
      |  SELECT source, n, mean,
      |         r2 - mean * mean AS m2,
      |         r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
      |         r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
      |            - 3.0 * mean * mean * mean * mean AS m4
      |  FROM m),
      |g AS (
      |  SELECT source, n, mean, m2,
      |         CASE WHEN m2 <= 0.0 THEN 0.0 ELSE m3 / (m2 * sqrt(m2)) END AS g1,
      |         CASE WHEN m2 <= 0.0 THEN 0.0 ELSE m4 / (m2 * m2) - 3.0 END AS g2
      |  FROM cm)
      |SELECT source, n AS n_docs, mean, m2 AS variance, g1 AS skewness,
      |       g2 AS kurtosis_excess,
      |       CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0) AS jb,
      |       CAST(n AS DOUBLE) / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
      |         > 5.991464547107979 AS reject_normal
      |FROM g ORDER BY source""".stripMargin

  /** q418 template: q370's S/var18/z machinery stratified by
    * DAY-OF-WEEK via the q382 epoch-day arithmetic ((day+4) % 7 —
    * engine date functions disagree on week-start so the dow is
    * derived, not named); `day` is the engine-specific epoch-day
    * extractor. */
  private def seasonalMkSql(day: String): String =
    s"""WITH days AS (
      |  SELECT CAST(($day + 4) % 7 AS INT) AS m,
      |         CAST($day AS BIGINT) AS dy,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |pr AS (
      |  SELECT a.m, CAST(SUM(CASE WHEN b.x > a.x THEN 1
      |                            WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_m
      |  FROM days a JOIN days b ON a.m = b.m AND a.dy < b.dy
      |  GROUP BY a.m),
      |vc AS (SELECT m, x, CAST(count(*) AS BIGINT) AS c FROM days GROUP BY 1, 2),
      |tie AS (SELECT m, CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c * (c - 1) * (2 * c + 5) ELSE 0 END), 0) AS BIGINT) AS tsum
      |        FROM vc GROUP BY m),
      |nm AS (SELECT m, CAST(count(*) AS BIGINT) AS n FROM days GROUP BY m),
      |per AS (
      |  SELECT nm.m, nm.n, pr.s_m,
      |         nm.n * (nm.n - 1) * (2 * nm.n + 5) - tie.tsum AS var18_m
      |  FROM nm JOIN pr ON pr.m = nm.m JOIN tie ON tie.m = nm.m),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_seasons,
      |         CAST(SUM(s_m) AS BIGINT) AS s_stat,
      |         CAST(SUM(var18_m) AS BIGINT) AS var18
      |  FROM per),
      |z AS (SELECT n_seasons, s_stat, var18,
      |             CASE WHEN var18 <= 0 THEN CAST(0 AS BIGINT)
      |                  ELSE CAST(floor(1000.0 * (CASE WHEN s_stat > 0 THEN CAST(s_stat AS DOUBLE) - 1.0
      |                                                 WHEN s_stat < 0 THEN CAST(s_stat AS DOUBLE) + 1.0
      |                                                 ELSE 0.0 END)
      |                            / sqrt(CAST(var18 AS DOUBLE) / 18.0)) AS BIGINT) END AS z_milli
      |      FROM tot)
      |SELECT n_seasons, s_stat, var18, z_milli,
      |       CASE WHEN z_milli > 1960 THEN 'increasing'
      |            WHEN z_milli < -1960 THEN 'decreasing'
      |            ELSE 'none' END AS trend
      |FROM z ORDER BY n_seasons""".stripMargin

  /** q370: ONE SQL text for both engines; sign() is avoided (Spark
    * returns DOUBLE) in favor of a portable CASE comparison. */
  private val mannKendallSql: String =
    """WITH days AS (
      |  SELECT date_trunc('day', ts) AS dy, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |pr AS (
      |  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
      |                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM days a JOIN days b ON a.dy < b.dy),
      |vc AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM days GROUP BY x),
      |tie AS (SELECT CAST(COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT) AS tsum
      |        FROM vc WHERE c > 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM days),
      |v AS (SELECT nn.n, pr.s_stat,
      |             nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tsum AS var18
      |      FROM nn CROSS JOIN pr CROSS JOIN tie),
      |z AS (SELECT n, s_stat, var18,
      |             CASE WHEN var18 <= 0 THEN CAST(0 AS BIGINT)
      |                  ELSE CAST(floor(1000.0 * (CASE WHEN s_stat > 0 THEN CAST(s_stat AS DOUBLE) - 1.0
      |                                                 WHEN s_stat < 0 THEN CAST(s_stat AS DOUBLE) + 1.0
      |                                                 ELSE 0.0 END)
      |                            / sqrt(CAST(var18 AS DOUBLE) / 18.0)) AS BIGINT) END AS z_milli
      |      FROM v)
      |SELECT n AS n_days, s_stat, CAST(var18 AS BIGINT) AS var18, z_milli,
      |       CASE WHEN z_milli > 1960 THEN 'increasing'
      |            WHEN z_milli < -1960 THEN 'decreasing'
      |            ELSE 'none' END AS trend
      |FROM z ORDER BY n_days""".stripMargin

  /** q382: one SQL template; the only engine-specific token is the
    * epoch-micros extractor (`unix_micros` vs `epoch_us`) — day index,
    * Wilson algebra and every literal are character-identical. Integer
    * day = floor(double division) because `div`/`//` spell differently
    * across the engines; micros < 2^53 so the double path is exact. */
  private[operators] def wilsonSql(us: String): String =
    s"""WITH e AS (
       |  SELECT (CAST(floor(CAST($us AS DOUBLE) / 86400000000.0) AS BIGINT) + 4) % 7 AS dow,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
       |  FROM events),
       |agg AS (
       |  SELECT dow, CAST(count(*) AS BIGINT) AS n, CAST(SUM(is_p) AS BIGINT) AS k
       |  FROM e GROUP BY dow),
       |w AS (
       |  SELECT dow, n, k,
       |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
       |         3.8416 / CAST(n AS DOUBLE) AS zzn
       |  FROM agg)
       |SELECT CAST(dow AS INT) AS dow, n AS n_events, k AS n_purchases,
       |       CAST(((k * 1000000) - ((k * 1000000) % n)) / n AS BIGINT) AS p_ppm,
       |       CAST(floor(1000000.0 * ((ph + zzn / 2.0
       |              - 1.96 * sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE) + zzn / (4.0 * CAST(n AS DOUBLE))))
       |            / (1.0 + zzn))) AS BIGINT) AS wilson_lo_ppm,
       |       CAST(floor(1000000.0 * ((ph + zzn / 2.0
       |              + 1.96 * sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE) + zzn / (4.0 * CAST(n AS DOUBLE))))
       |            / (1.0 + zzn))) AS BIGINT) AS wilson_hi_ppm
       |FROM w ORDER BY dow""".stripMargin

  /** q384: one SQL template; engine-specific tokens are the micros
    * extractor and the 60-bit md5 arm hash. ln(1.1)/ln(0.9)/±ln(19)
    * enter as full-precision literals, so the LLR is pure arithmetic
    * over exact cumulative counts. The cumsum window runs over the
    * DAY vocabulary (calendar-bounded). */
  private[graft] def sprtSql(us: String, h60: String): String =
    s"""WITH e AS (
       |  SELECT CAST(floor(CAST($us AS DOUBLE) / 86400000000.0) AS BIGINT) AS day,
       |         CASE WHEN ($h60) % 2 = 1 THEN 1 ELSE 0 END AS in_b
       |  FROM events),
       |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n, CAST(SUM(in_b) AS BIGINT) AS k
       |          FROM e GROUP BY day),
       |cum AS (
       |  SELECT day,
       |         CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nn,
       |         CAST(SUM(k) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS kk
       |  FROM daily),
       |llr AS (
       |  SELECT day, nn, kk,
       |         CAST(floor(1000000.0 * (CAST(kk AS DOUBLE) * 0.09531017980432486
       |              + CAST(nn - kk AS DOUBLE) * (-0.10536051565782631))) AS BIGINT) AS llr_micro
       |  FROM cum),
       |dec AS (
       |  SELECT *, CASE WHEN llr_micro >= 2944438 THEN 'accept_h1'
       |                 WHEN llr_micro <= -2944439 THEN 'accept_h0'
       |                 ELSE 'continue' END AS decision
       |  FROM llr),
       |fd AS (SELECT CAST(COALESCE(MIN(CASE WHEN decision <> 'continue' THEN day END), -1) AS BIGINT) AS first_decision_day
       |       FROM dec)
       |SELECT d.day, d.nn AS n_cum, d.kk AS k_cum, d.llr_micro, d.decision,
       |       f.first_decision_day
       |FROM dec d CROSS JOIN fd f ORDER BY d.day""".stripMargin

  override def oracle: Map[String, String] = Map(

    // identical doubled-midrank vocabulary, identical per-source ×10³
    // floor quantization, identical single-row tie-corrected expression
    "q351_kruskal_wallis" ->
      s"""WITH docs AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
        |vc AS (SELECT x, CAST(count(*) AS BIGINT) AS ct FROM docs GROUP BY x),
        |r2 AS (SELECT x, 2 * (CAST(SUM(ct) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - ct) + ct + 1 AS r2
        |       FROM vc),
        |per AS (SELECT sx.source, CAST(SUM(sx.cs) AS BIGINT) AS n,
        |               CAST(SUM(sx.cs * r2.r2) AS BIGINT) AS s2
        |        FROM (SELECT source, x, CAST(count(*) AS BIGINT) AS cs
        |              FROM docs GROUP BY 1, 2) sx
        |        JOIN r2 USING (x)
        |        GROUP BY sx.source),
        |gl AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k FROM per),
        |tie AS (SELECT CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tnum FROM vc),
        |terms AS (
        |  SELECT p.source, p.n, p.s2, g.nn, g.k,
        |         p.s2 - p.n * (g.nn + 1) AS dev2,
        |         CAST(floor(1000.0 * (CAST(p.s2 - p.n * (g.nn + 1) AS DOUBLE) / CAST(p.n AS DOUBLE)) * CAST(p.s2 - p.n * (g.nn + 1) AS DOUBLE)) AS BIGINT) AS t_milli
        |  FROM per p CROSS JOIN gl g),
        |h AS (
        |  SELECT CAST((3 * SUM(t_milli)) // (MAX(nn) * (MAX(nn) + 1)) AS BIGINT) AS h_milli,
        |         CAST(floor(3.0 * CAST(SUM(t_milli) AS DOUBLE) / (CAST(MAX(nn) AS DOUBLE) * (CAST(MAX(nn) AS DOUBLE) + 1.0)) / (1.0 - CAST(MAX(t.tnum) AS DOUBLE) / (CAST(MAX(nn) AS DOUBLE) * CAST(MAX(nn) AS DOUBLE) * CAST(MAX(nn) AS DOUBLE) - CAST(MAX(nn) AS DOUBLE)))) AS BIGINT) AS h_tie_milli,
        |         CAST((${chi2CritMilliCase.replace("k - 1", "MAX(k) - 1")}) AS BIGINT) AS crit_milli
        |  FROM terms CROSS JOIN tie t)
        |SELECT tm.source, tm.n AS n_docs, tm.s2 AS rank_sum2, tm.dev2,
        |       tm.t_milli, h.h_milli, h.h_tie_milli, h.crit_milli,
        |       h.h_tie_milli > h.crit_milli AS reject
        |FROM terms tm CROSS JOIN h
        |ORDER BY tm.source""".stripMargin,

    // identical cents quantization, identical month-pair counts,
    // identical one-sqrt τ-b expression
    "q352_kendall_monthly" ->
      """WITH m AS (
        |  SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS mon,
        |         CAST(count(*) AS BIGINT) AS x,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |pr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |         CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |         CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |         CAST(SUM(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        |         CAST(SUM(CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END) AS BIGINT) AS ty,
        |         CAST(SUM(CASE WHEN a.x = b.x AND a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS txy
        |  FROM m a JOIN m b ON a.mon < b.mon),
        |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM m)
        |SELECT nm.n_months, pr.n0 AS n_pairs, pr.nc AS n_concordant,
        |       pr.nd AS n_discordant,
        |       CAST(pr.tx + pr.txy AS BIGINT) AS ties_x,
        |       CAST(pr.ty + pr.txy AS BIGINT) AS ties_y,
        |       CAST(floor(1000.0 * (cast(nc as double) - cast(nd as double)) / sqrt((cast(n0 as double) - (cast(tx as double) + cast(txy as double))) * (cast(n0 as double) - (cast(ty as double) + cast(txy as double))))) AS BIGINT) AS tau_b_milli
        |FROM nm CROSS JOIN pr
        |ORDER BY n_months""".stripMargin,

    // same md5 coin, same cents quantization, HUGEINT cross products
    // mirroring Spark's DECIMAL(38,0) (equal integers → identical
    // doubles), identical single-row θ/ρ²/diff expressions
    "q353_cuped" ->
      s"""WITH spend AS (
        |  SELECT o_custkey AS c_custkey, CAST(o_orderdate AS TIMESTAMP) AS od,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |pc AS (
        |  SELECT c.c_custkey,
        |         CAST(COALESCE(SUM(CASE WHEN s.od < TIMESTAMP '1998-01-01' THEN s.cents END), 0) AS BIGINT) AS x,
        |         CAST(COALESCE(SUM(CASE WHEN s.od >= TIMESTAMP '1998-01-01' THEN s.cents END), 0) AS BIGINT) AS y
        |  FROM customer c LEFT JOIN spend s USING (c_custkey)
        |  GROUP BY c.c_custkey),
        |pb AS (
        |  SELECT x, y,
        |         ${hex64Sql("md5('cuped:' || CAST(c_custkey AS VARCHAR))")} % 2 AS bucket
        |  FROM pc),
        |gl AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM pb),
        |ar AS (SELECT bucket, CAST(count(*) AS BIGINT) AS na,
        |              CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
        |       FROM pb GROUP BY bucket)
        |SELECT a0.na AS n_a, a1.na AS n_b,
        |       a0.sya AS sum_y_a_cents, a1.sya AS sum_y_b_cents,
        |       CAST(floor(1000000.0 * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))) AS BIGINT) AS theta_ppm,
        |       CAST(floor(1000000.0 * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / ((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * (cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)))) AS BIGINT) AS rho2_ppm,
        |       CAST(floor(1000000.0 * (cast(a0.sya as double) / cast(a0.na as double) - cast(a1.sya as double) / cast(a1.na as double))) AS BIGINT) AS raw_diff_micro,
        |       CAST(floor(1000000.0 * ((cast(a0.sya as double) / cast(a0.na as double) - cast(a1.sya as double) / cast(a1.na as double)) - ((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))) * (cast(a0.sxa as double) / cast(a0.na as double) - cast(a1.sxa as double) / cast(a1.na as double)))) AS BIGINT) AS adj_diff_micro
        |FROM gl
        |CROSS JOIN (SELECT * FROM ar WHERE bucket = 0) a0
        |CROSS JOIN (SELECT * FROM ar WHERE bucket = 1) a1
        |ORDER BY n_a""".stripMargin,

    // same observed-month index, same power-of-two weight convolution
    // (DuckDB << mirrors Spark shiftleft — identical integer op),
    // identical renormalized integer division
    "q354_ewma_forecast" ->
      """WITH m AS (
        |  SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS mon,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT mon, x,
        |               CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS i
        |        FROM m),
        |conv AS (
        |  SELECT a.mon AS mon, a.i AS ia, a.x AS xa,
        |         CAST(SUM(b.x * (CAST(1 AS BIGINT) << CAST(30 - (a.i - b.i) AS INT))) AS BIGINT) AS num,
        |         CAST(SUM(CAST(1 AS BIGINT) << CAST(30 - (a.i - b.i) AS INT)) AS BIGINT) AS den
        |  FROM idx a JOIN idx b ON b.i <= a.i AND b.i >= a.i - 30
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(c.mon AS DATE) AS mon, c.xa AS n_orders,
        |       CAST((1000 * c.num) // c.den AS BIGINT) AS ewma_milli,
        |       CAST(COALESCE(n.x, -1) AS BIGINT) AS next_actual,
        |       CAST(COALESCE(abs(1000 * n.x - (1000 * c.num) // c.den), -1) AS BIGINT) AS abs_err_milli
        |FROM conv c LEFT JOIN idx n ON n.i = c.ia + 1
        |ORDER BY c.mon""".stripMargin,

    // same distinct bipartite edges, same 2..48 popularity cap before
    // the wedge join, same 10⁹//deg integer weights and tie order
    "q355_copurchase_ra_affinity" ->
      """WITH cp AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |pd AS (SELECT p, CAST(count(*) AS BIGINT) AS dz
        |       FROM cp GROUP BY p HAVING count(*) BETWEEN 2 AND 48),
        |cpf AS (SELECT cp.c, cp.p, pd.dz FROM cp JOIN pd USING (p)),
        |w AS (SELECT a.c AS ca, b.c AS cb, a.dz
        |      FROM cpf a JOIN cpf b ON a.p = b.p AND a.c < b.c),
        |sc AS (SELECT ca, cb, CAST(count(*) AS BIGINT) AS n_common,
        |              CAST(SUM(1000000000 // dz) AS BIGINT) AS ra_q
        |       FROM w GROUP BY ca, cb)
        |SELECT CAST(ca AS BIGINT) AS cust_a, CAST(cb AS BIGINT) AS cust_b,
        |       n_common AS n_common_parts, ra_q
        |FROM sc
        |ORDER BY ra_q DESC, cust_a, cust_b LIMIT 50""".stripMargin,

    // same md5-bit geometric draws (identical generated CASE ladder),
    // same clamp
    "q357_dp_geometric_release" ->
      s"""WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |         ${hex64Sql("md5('dp1:' || lang || ':' || source)")} AS h1,
        |         ${hex64Sql("md5('dp2:' || lang || ':' || source)")} AS h2
        |  FROM documents GROUP BY 1, 2),
        |g AS (SELECT lang, source, n_docs,
        |             CAST(${trailingOnesCase("h1")} AS BIGINT) AS g_up,
        |             CAST(${trailingOnesCase("h2")} AS BIGINT) AS g_down
        |      FROM cells)
        |SELECT lang, source, n_docs, g_up, g_down,
        |       CAST(n_docs + g_up - g_down AS BIGINT) AS released,
        |       CAST(greatest(n_docs + g_up - g_down, 0) AS BIGINT) AS released_clamped
        |FROM g ORDER BY lang, source""".stripMargin,

    // same 1e-6 fixed-point quantization, HUGEINT cross products
    // mirroring DECIMAL(38,0), identical sqrt/divide cosine (pos is
    // 1-based here vs 0-based posexplode — a join key internal to each
    // engine, never output)
    "q358_label_centroid_cosine" ->
      s"""WITH q AS (SELECT label, ${graft.functions.VectorFunctions.quantizeSql("embedding")} AS qv FROM embeddings),
        |sums AS (SELECT label, g.i AS pos, CAST(SUM(qv[g.i]) AS BIGINT) AS sv
        |         FROM q, UNNEST(generate_series(1, 64)) AS g(i) GROUP BY 1, 2),
        |nrm AS (SELECT label, CAST(SUM(CAST(sv AS HUGEINT) * sv) AS HUGEINT) AS nrm2 FROM sums GROUP BY label),
        |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY label),
        |dots AS (SELECT a.label AS la, b.label AS lb,
        |                CAST(SUM(CAST(a.sv AS HUGEINT) * b.sv) AS HUGEINT) AS sab
        |         FROM sums a JOIN sums b ON a.pos = b.pos AND a.label < b.label
        |         GROUP BY 1, 2)
        |SELECT CAST(d.la AS INT) AS label_a, CAST(d.lb AS INT) AS label_b,
        |       ca.n AS n_a, cb.n AS n_b,
        |       CAST(floor(1000000.0 * cast(sab as double) / (sqrt(cast(naa as double)) * sqrt(cast(nbb as double)))) AS BIGINT) AS cosine_micro
        |FROM dots d
        |JOIN (SELECT label, nrm2 AS naa FROM nrm) na ON na.label = d.la
        |JOIN (SELECT label, nrm2 AS nbb FROM nrm) nb ON nb.label = d.lb
        |JOIN cnt ca ON ca.label = d.la
        |JOIN cnt cb ON cb.label = d.lb
        |ORDER BY label_a, label_b""".stripMargin,

    // same 13-month centered MA with the count=13 full-window guard,
    // same integer milli division (// and div both truncate toward zero
    // on the signed detrended values — verified engine behavior)
    "q360_stl_decomposition" ->
      """WITH m AS (
        |  SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS mon,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |tr AS (
        |  SELECT mon, x,
        |         sum(x) OVER w AS wsum,
        |         count(*) OVER w AS wcnt,
        |         month(mon) AS moy
        |  FROM m WINDOW w AS (ORDER BY mon ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
        |tf AS (SELECT mon, x, moy,
        |              (1000 * wsum) // 13 AS trend_milli,
        |              1000 * x - (1000 * wsum) // 13 AS detr_milli
        |       FROM tr WHERE wcnt = 13),
        |se AS (SELECT moy, SUM(detr_milli) // count(*) AS seas_milli FROM tf GROUP BY moy)
        |SELECT CAST(tf.mon AS DATE) AS mon, tf.x AS n_orders,
        |       CAST(tf.trend_milli AS BIGINT) AS trend_milli,
        |       CAST(se.seas_milli AS BIGINT) AS seas_milli,
        |       CAST(tf.detr_milli - se.seas_milli AS BIGINT) AS resid_milli
        |FROM tf JOIN se USING (moy)
        |ORDER BY mon""".stripMargin,

    // same day grid, same lag fan-out and aligned-pair power sums,
    // identical per-lag Pearson expression
    "q361_signal_ccf" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS xs,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ys
        |  FROM events GROUP BY 1),
        |idx AS (SELECT day, xs, ys,
        |               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
        |        FROM daily),
        |lg AS (SELECT CAST(unnest(generate_series(-6, 6)) AS BIGINT) AS lag),
        |pr AS (SELECT l.lag, a.xs AS xa, b.ys AS yb
        |       FROM lg l CROSS JOIN idx a JOIN idx b ON b.i = a.i + l.lag),
        |sums AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |                CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(yb) AS BIGINT) AS sy,
        |                CAST(SUM(xa * yb) AS BIGINT) AS sxy,
        |                CAST(SUM(xa * xa) AS BIGINT) AS sxx,
        |                CAST(SUM(yb * yb) AS BIGINT) AS syy
        |         FROM pr GROUP BY lag)
        |SELECT lag, n AS n_pairs,
        |       CAST(floor(1000.0 * (cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / sqrt((cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * (cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)))) AS BIGINT) AS r_milli
        |FROM sums ORDER BY lag""".stripMargin,

    // same tokenization (ASCII corpus — the QueryPack oracle-layer
    // note), same per-doc micro quantization before the integer mean
    "q362_root_ttr" ->
      s"""WITH per AS (
        |  SELECT source,
        |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n,
        |         CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS v
        |  FROM documents),
        |q AS (SELECT source,
        |             CAST(floor(1000000.0 * cast(v as double) / sqrt(cast(n as double))) AS BIGINT) AS rttr_micro
        |      FROM per WHERE n > 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(rttr_micro) // count(*) AS BIGINT) AS mean_rttr_micro,
        |       CAST(MIN(rttr_micro) AS BIGINT) AS min_rttr_micro,
        |       CAST(MAX(rttr_micro) AS BIGINT) AS max_rttr_micro
        |FROM q GROUP BY source ORDER BY source""".stripMargin,

    // same total (volume, month) order key, same ×10⁶ floor on the
    // exact-rational window doubles
    "q363_percent_rank_calendar" ->
      """WITH m AS (
        |  SELECT year(CAST(o_orderdate AS TIMESTAMP)) AS yr,
        |         month(CAST(o_orderdate AS TIMESTAMP)) AS mo,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1, 2)
        |SELECT CAST(yr AS INT) AS yr, CAST(mo AS INT) AS mo, x AS n_orders,
        |       CAST(floor(percent_rank() OVER (PARTITION BY yr ORDER BY x, mo) * 1e6) AS BIGINT) AS pr_micro,
        |       CAST(floor(cume_dist() OVER (PARTITION BY yr ORDER BY x, mo) * 1e6) AS BIGINT) AS cd_micro
        |FROM m
        |ORDER BY yr, mo""".stripMargin,

    // same epoch-mod-7 weekday, same md5 split coin, same per-bin
    // integer reliability/resolution quantization
    "q364_brier_decomposition" ->
      s"""WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |su AS (SELECT user_id, min(us) AS su_us, min(t) AS su_ts
        |       FROM ev WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT user_id, us AS pu_us FROM ev WHERE event_type = 'purchase'),
        |obs AS (
        |  SELECT su.user_id,
        |         (CAST(su.su_ts AS DATE) - DATE '1970-01-01') % 7 AS wd,
        |         COALESCE(max(CASE WHEN pu.pu_us >= su.su_us
        |                            AND pu.pu_us < su.su_us + 604800000000 THEN 1 ELSE 0 END), 0) AS conv,
        |         ${hex64Sql("md5('brier:' || CAST(su.user_id AS VARCHAR))")} % 2 AS split
        |  FROM su LEFT JOIN pu ON pu.user_id = su.user_id
        |  GROUP BY 1, 2, 4),
        |tr AS (SELECT wd, CAST(count(*) AS BIGINT) AS n_train,
        |              CAST(SUM(conv) AS BIGINT) AS c_train,
        |              CAST((SUM(conv) * 1000000) // count(*) AS BIGINT) AS p_ppm
        |       FROM obs WHERE split = 0 GROUP BY wd),
        |evl AS (SELECT wd, CAST(count(*) AS BIGINT) AS n_eval,
        |               CAST(SUM(conv) AS BIGINT) AS c_eval,
        |               CAST((SUM(conv) * 1000000) // count(*) AS BIGINT) AS o_ppm
        |        FROM obs WHERE split = 1 GROUP BY wd),
        |gl AS (SELECT CAST(SUM(n_eval) AS BIGINT) AS ne, CAST(SUM(c_eval) AS BIGINT) AS ce,
        |              CAST((SUM(c_eval) * 1000000) // SUM(n_eval) AS BIGINT) AS obar_ppm
        |       FROM evl)
        |SELECT CAST(t.wd AS INT) AS wd, t.n_train, t.p_ppm, e.n_eval, e.o_ppm,
        |       CAST((e.n_eval * (t.p_ppm - e.o_ppm) * (t.p_ppm - e.o_ppm)) // 1000000 AS BIGINT) AS rel_q,
        |       CAST((e.n_eval * (e.o_ppm - g.obar_ppm) * (e.o_ppm - g.obar_ppm)) // 1000000 AS BIGINT) AS res_q,
        |       g.obar_ppm,
        |       CAST((g.obar_ppm * (1000000 - g.obar_ppm)) // 1000000 AS BIGINT) AS unc_q
        |FROM tr t JOIN evl e USING (wd) CROSS JOIN gl g
        |ORDER BY wd""".stripMargin,

    // same pooled doubled-midrank vocabulary, same 2U identity and
    // Romano magnitude bands (// and div both truncate toward zero on
    // the signed numerator)
    "q365_cliffs_delta" ->
      s"""WITH spend AS (
        |  SELECT user_id, CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |asg AS (
        |  SELECT ${hex64Sql("md5('exp1:' || CAST(c.c_custkey AS VARCHAR))")} % 2 AS bucket,
        |         COALESCE(s.cents, 0) AS m
        |  FROM customer c LEFT JOIN spend s ON s.user_id = c.c_custkey),
        |vc AS (SELECT m, CAST(count(*) AS BIGINT) AS ct FROM asg GROUP BY m),
        |r2 AS (SELECT m, 2 * (CAST(SUM(ct) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - ct) + ct + 1 AS r2
        |       FROM vc),
        |per AS (SELECT b.bucket, CAST(SUM(b.cs) AS BIGINT) AS n,
        |               CAST(SUM(b.cs * r2.r2) AS BIGINT) AS s2
        |        FROM (SELECT bucket, m, CAST(count(*) AS BIGINT) AS cs
        |              FROM asg GROUP BY 1, 2) b
        |        JOIN r2 USING (m) GROUP BY b.bucket),
        |j AS (SELECT a.n AS n_a, a.s2 AS s2_a, bb.n AS n_b,
        |             a.s2 - a.n * (a.n + 1) AS u2_a
        |      FROM (SELECT * FROM per WHERE bucket = 0) a
        |      CROSS JOIN (SELECT * FROM per WHERE bucket = 1) bb)
        |SELECT n_a, n_b, CAST(u2_a AS BIGINT) AS u2_a,
        |       CAST(((u2_a - n_a * n_b) * 1000) // (n_a * n_b) AS BIGINT) AS delta_milli,
        |       CASE WHEN abs(((u2_a - n_a * n_b) * 1000) // (n_a * n_b)) < 147 THEN 'negligible'
        |            WHEN abs(((u2_a - n_a * n_b) * 1000) // (n_a * n_b)) < 330 THEN 'small'
        |            WHEN abs(((u2_a - n_a * n_b) * 1000) // (n_a * n_b)) < 474 THEN 'medium'
        |            ELSE 'large' END AS magnitude
        |FROM j
        |ORDER BY n_a""".stripMargin,

    // same per-source and pooled CDF grids, same min{x : 10·cum ≥ q·n}
    // decile rule
    "q366_quantile_normalize" ->
      """WITH docs AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
        |sc AS (SELECT source, x, CAST(count(*) AS BIGINT) AS ct FROM docs GROUP BY 1, 2),
        |sn AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM docs GROUP BY 1),
        |scum AS (SELECT sc.source, sc.x, sn.n,
        |                CAST(SUM(sc.ct) OVER (PARTITION BY sc.source ORDER BY sc.x
        |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |         FROM sc JOIN sn USING (source)),
        |qs AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS q),
        |sd AS (SELECT s.source, q.q, CAST(MIN(s.x) AS BIGINT) AS src_val
        |       FROM scum s CROSS JOIN qs q
        |       WHERE s.cum * 10 >= q.q * s.n
        |       GROUP BY 1, 2),
        |pc AS (SELECT x, CAST(count(*) AS BIGINT) AS ct FROM docs GROUP BY 1),
        |pn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
        |pcum AS (SELECT pc.x, pn.n,
        |                CAST(SUM(pc.ct) OVER (ORDER BY pc.x
        |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |         FROM pc CROSS JOIN pn),
        |pd AS (SELECT q.q, CAST(MIN(p.x) AS BIGINT) AS pooled_val
        |       FROM pcum p CROSS JOIN qs q
        |       WHERE p.cum * 10 >= q.q * p.n
        |       GROUP BY 1)
        |SELECT sd.source, CAST(sd.q AS INT) AS decile, sd.src_val,
        |       pd.pooled_val,
        |       CAST(sd.src_val - pd.pooled_val AS BIGINT) AS shift
        |FROM sd JOIN pd USING (q)
        |ORDER BY sd.source, decile""".stripMargin,

    // same tokenization and w-gram construction (ASCII corpus — the
    // QueryPack oracle-layer note), same ppm floor-divisions
    "q367_shingle_uniqueness" ->
      s"""WITH tok AS (
        |  SELECT doc_id,
        |         ${tokensSql("text")} AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT 2 AS w, array_to_string(ts[g.i:g.i+1], ' ') AS sgl
        |  FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 1, 0))) AS g(i)
        |  UNION ALL
        |  SELECT 3, array_to_string(ts[g.i:g.i+2], ' ')
        |  FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 2, 0))) AS g(i)
        |  UNION ALL
        |  SELECT 4, array_to_string(ts[g.i:g.i+3], ' ')
        |  FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 3, 0))) AS g(i)),
        |counts AS (SELECT w, sgl, CAST(count(*) AS BIGINT) AS ct FROM sh GROUP BY 1, 2)
        |SELECT CAST(w AS INT) AS w,
        |       CAST(SUM(ct) AS BIGINT) AS n_total,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(SUM(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
        |       CAST(((SUM(ct) - count(*)) * 1000000) // SUM(ct) AS BIGINT) AS dup_mass_ppm,
        |       CAST((SUM(CASE WHEN ct = 1 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS singleton_ppm
        |FROM counts GROUP BY w ORDER BY w""".stripMargin,

    // same vocabulary CDF, same full-precision ln(40) literal inside
    // the one-sqrt ε, same clamped inverse-CDF rank rule
    "q368_dkw_median_band" ->
      """WITH docs AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
        |cnt AS (SELECT source, x, CAST(count(*) AS BIGINT) AS ct FROM docs GROUP BY 1, 2),
        |sn AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM docs GROUP BY 1),
        |cum AS (
        |  SELECT c.source, c.x, sn.n,
        |         CAST(SUM(c.ct) OVER (PARTITION BY c.source ORDER BY c.x
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(floor(1000000.0 * sqrt(3.6888794541139363 / (2.0 * cast(sn.n as double)))) AS BIGINT) AS eps_ppm
        |  FROM cnt c JOIN sn USING (source)),
        |cl AS (SELECT source, x, n, cum, eps_ppm,
        |              greatest(500000 - eps_ppm, 0) AS f_lo,
        |              least(500000 + eps_ppm, 1000000) AS f_hi
        |       FROM cum),
        |med AS (SELECT source, CAST(MIN(x) AS BIGINT) AS median_len FROM cl
        |        WHERE cum * 2 >= n GROUP BY 1),
        |lo AS (SELECT source, CAST(MIN(x) AS BIGINT) AS lo_val FROM cl
        |       WHERE cum * 1000000 >= f_lo * n GROUP BY 1),
        |hi AS (SELECT source, CAST(MIN(x) AS BIGINT) AS hi_val FROM cl
        |       WHERE cum * 1000000 >= f_hi * n GROUP BY 1),
        |base AS (SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        |                CAST(MAX(eps_ppm) AS BIGINT) AS eps_ppm
        |         FROM cl GROUP BY 1)
        |SELECT b.source, b.n_docs, b.eps_ppm, m.median_len, l.lo_val, h.hi_val
        |FROM base b JOIN med m USING (source) JOIN lo l USING (source)
        |JOIN hi h USING (source)
        |ORDER BY b.source""".stripMargin,

    // the Spark side runs the SAME string on a temp view — exact
    // DECIMAL power sums, identical double formula text
    "q369_jarque_bera" -> jarqueBeraSql,

    // same shared string: exact S / 18·Var(S), one sqrt
    "q370_mann_kendall" -> mannKendallSql,

    // the shared weekday-stratified text; only the epoch-day token differs
    "q418_seasonal_mk" ->
      seasonalMkSql("epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000"),

    // same PrefixSum-rank deciles (oracle replays with row_number),
    // same exact T and variance products, identical z text
    "q419_cochran_armitage" ->
      """WITH spend AS (
        |  SELECT o_custkey AS c_custkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         CAST(o_orderdate AS TIMESTAMP) AS od
        |  FROM orders),
        |pre AS (SELECT c_custkey, CAST(SUM(cents) AS BIGINT) AS x
        |        FROM spend WHERE od < TIMESTAMP '1998-01-01' GROUP BY 1),
        |post AS (SELECT DISTINCT c_custkey, CAST(1 AS BIGINT) AS y
        |         FROM spend WHERE od >= TIMESTAMP '1998-01-01'),
        |u AS (
        |  SELECT c.c_custkey, COALESCE(p.x, 0) AS x, COALESCE(q.y, 0) AS y
        |  FROM customer c
        |  LEFT JOIN pre p ON p.c_custkey = c.c_custkey
        |  LEFT JOIN post q ON q.c_custkey = c.c_custkey),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY x DESC, c_custkey) AS BIGINT) AS rk,
        |             CAST(count(*) OVER () AS BIGINT) AS n
        |      FROM u),
        |dec AS (
        |  SELECT ((rk - 1) * 10) // n AS w,
        |         CAST(count(*) AS BIGINT) AS ni, CAST(SUM(y) AS BIGINT) AS yi
        |  FROM r GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(ni) AS BIGINT) AS nn, CAST(SUM(yi) AS BIGINT) AS yy,
        |         CAST(SUM(w * ni) AS BIGINT) AS swn,
        |         CAST(SUM(w * w * ni) AS BIGINT) AS swwn
        |  FROM dec),
        |tt AS (
        |  SELECT CAST(SUM(d.w * (d.yi * t.nn - d.ni * t.yy)) AS BIGINT) AS t,
        |         MAX(t.nn) AS nn, MAX(t.yy) AS yy, MAX(t.swn) AS swn, MAX(t.swwn) AS swwn
        |  FROM dec d CROSS JOIN tot t),
        |fin AS (
        |  SELECT nn AS n_users, yy AS n_converted, t AS t_stat,
        |         yy * (nn - yy) AS ybin, nn * swwn - swn * swn AS wvar_n,
        |         CASE WHEN yy > 0 AND yy < nn AND nn * swwn - swn * swn > 0 THEN
        |           CAST(floor(1000.0 * CAST(t AS DOUBLE) /
        |                sqrt(CAST(yy * (nn - yy) AS DOUBLE) *
        |                     CAST(nn * swwn - swn * swn AS DOUBLE) / CAST(nn AS DOUBLE))) AS BIGINT)
        |           ELSE 0 END AS z_milli
        |  FROM tt)
        |SELECT n_users, n_converted, t_stat, CAST(ybin AS BIGINT) AS ybin,
        |       CAST(wvar_n AS BIGINT) AS wvar_n, z_milli,
        |       CASE WHEN z_milli > 1960 THEN 'increasing'
        |            WHEN z_milli < -1960 THEN 'decreasing'
        |            ELSE 'none' END AS trend
        |FROM fin
        |ORDER BY n_users""".stripMargin,

    // identical template; only the micros extractor differs
    "q382_wilson_intervals" -> wilsonSql("epoch_us(CAST(ts AS TIMESTAMP))"),

    // identical template; engine-specific micros extractor + md5 hash
    "q384_sprt_srm" -> sprtSql("epoch_us(CAST(ts AS TIMESTAMP))",
      hex64Sql("md5('sprt:' || CAST(user_id AS VARCHAR))")),

    // same md5 coin, same pre/post split and exact decile counts; the
    // oracle's row_number replays the distributed prefix-sum rank
    "q397_qini_uplift" ->
      s"""WITH spend AS (
        |  SELECT o_custkey AS c_custkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         CAST(o_orderdate AS TIMESTAMP) AS od
        |  FROM orders),
        |pre AS (SELECT c_custkey, CAST(SUM(cents) AS BIGINT) AS x
        |        FROM spend WHERE od < TIMESTAMP '1998-01-01' GROUP BY 1),
        |post AS (SELECT DISTINCT c_custkey, 1 AS y
        |         FROM spend WHERE od >= TIMESTAMP '1998-01-01'),
        |u AS (
        |  SELECT c.c_custkey, COALESCE(p.x, 0) AS x, COALESCE(q.y, 0) AS y,
        |         ${hex64Sql("md5('qini:' || CAST(c.c_custkey AS VARCHAR))")} % 2 AS arm
        |  FROM customer c
        |  LEFT JOIN pre p ON p.c_custkey = c.c_custkey
        |  LEFT JOIN post q ON q.c_custkey = c.c_custkey),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY x DESC, c_custkey) AS BIGINT) AS rk,
        |             CAST(count(*) OVER () AS BIGINT) AS n
        |      FROM u),
        |dec AS (
        |  SELECT ((rk - 1) * 10) // n AS decile,
        |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |         CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS rt,
        |         CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS rc
        |  FROM r GROUP BY 1),
        |cum AS (
        |  SELECT *,
        |         CAST(SUM(nt) OVER w AS BIGINT) AS nt_cum,
        |         CAST(SUM(nc) OVER w AS BIGINT) AS nc_cum,
        |         CAST(SUM(rt) OVER w AS BIGINT) AS rt_cum,
        |         CAST(SUM(rc) OVER w AS BIGINT) AS rc_cum
        |  FROM dec
        |  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(decile AS INT) AS decile, nt, nc, rt, rc,
        |       nt_cum, nc_cum, rt_cum, rc_cum,
        |       CASE WHEN nc_cum > 0
        |            THEN CAST(floor(1000.0 * (CAST(rt_cum AS DOUBLE)
        |                 - CAST(rc_cum AS DOUBLE) * CAST(nt_cum AS DOUBLE) / CAST(nc_cum AS DOUBLE))) AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS qini_milli
        |FROM cum
        |ORDER BY decile""".stripMargin,

    // same dense category grid with zero cells, same exact
    // micro-quantized cell terms (HUGEINT mirrors DECIMAL(38,0)),
    // identical sqrt text and 119.871 literal
    "q411_cramers_v" ->
      """WITH base AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg
        |  FROM customer),
        |cells AS (SELECT nat, seg, CAST(count(*) AS BIGINT) AS o FROM base GROUP BY 1, 2),
        |rows0 AS (SELECT nat, CAST(count(*) AS BIGINT) AS rt FROM base GROUP BY 1),
        |cols0 AS (SELECT seg, CAST(count(*) AS BIGINT) AS ct FROM base GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |grid AS (
        |  SELECT r.nat, c.seg, r.rt, c.ct, COALESCE(x.o, 0) AS o, nn.n
        |  FROM rows0 r CROSS JOIN cols0 c
        |  LEFT JOIN cells x ON x.nat = r.nat AND x.seg = c.seg
        |  CROSS JOIN nn),
        |terms AS (
        |  SELECT n,
        |         CAST((CAST(o * n - rt * ct AS HUGEINT) * (o * n - rt * ct) * 1000000)
        |              // (CAST(rt AS HUGEINT) * ct * n) AS BIGINT) AS term_micro,
        |         nat, seg
        |  FROM grid),
        |agg AS (
        |  SELECT MAX(n) AS n,
        |         CAST(count(DISTINCT nat) AS BIGINT) AS r,
        |         CAST(count(DISTINCT seg) AS BIGINT) AS c,
        |         CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
        |  FROM terms)
        |SELECT n AS n_rows, r AS n_cats_a, c AS n_cats_b,
        |       (r - 1) * (c - 1) AS dof, chi2_micro,
        |       CAST(floor(1000.0 * sqrt(CAST(chi2_micro AS DOUBLE) /
        |            (1000000.0 * CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))) AS BIGINT) AS v_milli,
        |       chi2_micro > 119871000 AS reject_indep
        |FROM agg
        |ORDER BY n_rows""".stripMargin,

    // same 64 salted md5 coins, same exact cross-multiplied compare
    // (HUGEINT mirrors Spark's DECIMAL products), same add-one p
    "q402_perm_test" ->
      s"""WITH conv AS (
        |  SELECT DISTINCT user_id AS c_custkey, CAST(1 AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase'),
        |users AS (
        |  SELECT c.c_custkey, COALESCE(v.y, 0) AS y
        |  FROM customer c LEFT JOIN conv v ON v.c_custkey = c.c_custkey),
        |bs AS (SELECT UNNEST(generate_series(0, 63)) AS b),
        |ex AS (
        |  SELECT u.c_custkey, u.y, bs.b,
        |         ${hex64Sql("md5('perm:' || CAST(bs.b AS VARCHAR) || ':' || CAST(u.c_custkey AS VARCHAR))")} % 2 AS arm
        |  FROM users u CROSS JOIN bs),
        |per AS (
        |  SELECT b,
        |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |         CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS rt,
        |         CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS rc
        |  FROM ex GROUP BY b),
        |per2 AS (SELECT *, rt * nc - rc * nt AS diff, nt * nc AS den FROM per),
        |obs AS (SELECT diff AS diff0, den AS den0 FROM per2 WHERE b = 0),
        |fl AS (
        |  SELECT p.*,
        |         CAST(abs(p.diff) AS HUGEINT) * o.den0 >= CAST(abs(o.diff0) AS HUGEINT) * p.den AS exceeds
        |  FROM per2 p CROSS JOIN obs o),
        |pc AS (SELECT CAST(count(*) AS BIGINT) AS n_exceed FROM fl WHERE b >= 1 AND exceeds)
        |SELECT CAST(f.b AS BIGINT) AS b, f.nt, f.nc, f.rt, f.rc, f.diff, f.den, f.exceeds,
        |       CAST((1000 * (1 + pc.n_exceed)) // 64 AS BIGINT) AS p_milli
        |FROM fl f CROSS JOIN pc
        |ORDER BY b""".stripMargin,

    // same md5 coin, same nation strata, same sign/abs integer ppm
    "q403_ipw_ate" ->
      s"""WITH conv AS (
        |  SELECT DISTINCT user_id AS c_custkey, CAST(1 AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase'),
        |users AS (
        |  SELECT c.c_custkey, CAST(c.c_nationkey AS INT) AS nat, COALESCE(v.y, 0) AS y,
        |         ${hex64Sql("md5('ipw:' || CAST(c.c_custkey AS VARCHAR))")} % 2 AS arm
        |  FROM customer c LEFT JOIN conv v ON v.c_custkey = c.c_custkey),
        |strata AS (
        |  SELECT nat, CAST(count(*) AS BIGINT) AS n,
        |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |         CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS rt,
        |         CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS rc
        |  FROM users GROUP BY nat),
        |st2 AS (
        |  SELECT *,
        |         CASE WHEN nt > 0 AND nc > 0 THEN
        |           CASE WHEN rt * nc - rc * nt >= 0
        |                THEN (1000000 * (rt * nc - rc * nt)) // (nt * nc)
        |                ELSE -((1000000 * (rc * nt - rt * nc)) // (nt * nc)) END
        |           ELSE 0 END AS dd_ppm
        |  FROM strata),
        |st3 AS (SELECT *, n * dd_ppm AS contrib FROM st2),
        |tot AS (SELECT CAST(SUM(contrib) AS BIGINT) AS sc, CAST(SUM(n) AS BIGINT) AS nn FROM st3)
        |SELECT s.nat, s.n, s.nt, s.nc, s.rt, s.rc, CAST(s.dd_ppm AS BIGINT) AS dd_ppm,
        |       CAST(CASE WHEN t.sc >= 0 THEN t.sc // t.nn ELSE -((-t.sc) // t.nn) END AS BIGINT) AS ate_ppm
        |FROM st3 s CROSS JOIN tot t
        |ORDER BY nat""".stripMargin
  )
}
