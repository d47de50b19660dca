package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.core.Tables.views

/** Second relational wave: grouping sets, pivot, nested subqueries, exact
  * median, string-function spread, full-outer join, conditional
  * aggregation. Same determinism rules as RelationalPack.
  */
object RelationalPack2 extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- explicit grouping sets (SQL surface) ----
    "q80_grouping_sets" -> { (s, d) =>
      views(s, d, "lineitem")
      s.sql("""
        SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rflag, lstatus
      """)
    },

    // ---- pivot (wide aggregation) ----
    "q81_pivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .select(col("l_linestatus"), col("A").as("rf_a"), col("N").as("rf_n"),
                col("R").as("rf_r"))
        .orderBy("l_linestatus")
    },

    // ---- scalar + IN subqueries (SQL surface) ----
    "q82_subqueries" -> { (s, d) =>
      views(s, d, "orders", "customer", "nation")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                                  FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0))
        ORDER BY o_orderkey
      """)
    },

    // ---- exact median per group (window + midpoint, no approx) ----
    "q83_median" -> { (s, d) =>
      views(s, d, "customer")
      s.sql("""
        WITH r AS (
          SELECT c_mktsegment, c_acctbal,
                 row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
                 count(*) OVER (PARTITION BY c_mktsegment) AS cnt
          FROM customer)
        SELECT c_mktsegment,
               SUM(CASE WHEN rn = (cnt + 1) div 2 OR rn = (cnt + 2) div 2 THEN c_acctbal END) /
                 count(CASE WHEN rn = (cnt + 1) div 2 OR rn = (cnt + 2) div 2 THEN c_acctbal END) AS median_bal
        FROM r
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """)
    },

    // ---- exact grouped median WITHOUT a per-row sort: build the
    // per-group VALUE HISTOGRAM (one map-side-combining shuffle of
    // (group, value) partial counts), then select the median ranks from
    // the running count over DISTINCT values only. q83 sorts every row
    // inside each group (rows-scale window state); this plan's window
    // runs over the histogram — at 100 TB with a bounded value domain
    // (cents, ratings, token counts) that is orders of magnitude fewer
    // rows, and the histogram partials re-aggregate across files/days
    // like q153/q170. Degenerates to q83's cost only when all values
    // are distinct. Same doubled-midpoint rank formula as q83/q115;
    // cents quantization keeps everything int64 until one final IEEE
    // division. ----
    "q171_median_histogram" -> { (s, d) =>
      views(s, d, "customer")
      s.sql("""
        WITH c AS (
          SELECT c_mktsegment AS grp,
                 CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          FROM customer),
        h AS (SELECT grp, cents, CAST(count(*) AS BIGINT) AS cnt
              FROM c GROUP BY grp, cents),
        t AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY grp),
        p AS (SELECT h.grp, h.cents, h.cnt, t.n,
                     sum(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.cents) AS cum
              FROM h JOIN t ON t.grp = h.grp),
        sel AS (SELECT grp, n,
                       max(CASE WHEN cum - cnt < (n + 1) div 2 AND (n + 1) div 2 <= cum
                                THEN cents END) AS lo,
                       max(CASE WHEN cum - cnt < (n + 2) div 2 AND (n + 2) div 2 <= cum
                                THEN cents END) AS hi
                FROM p GROUP BY grp, n)
        SELECT grp AS c_mktsegment, n, lo AS lo_cents, hi AS hi_cents,
               CAST(lo + hi AS DOUBLE) / 200.0 AS median_bal
        FROM sel ORDER BY c_mktsegment
      """)
    },

    // ---- string function spread ----
    "q84_string_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").like("%a%"))
        .select(col("p_partkey"),
          upper(col("p_name")).as("name_up"),
          expr("split_part(p_type, ' ', 1)").as("type_head"),
          translate(col("p_brand"), "#", "").as("brand_clean"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad"),
          reverse(col("p_name")).as("name_rev"),
          expr("repeat('*', cast(p_size % 5 as int))").as("stars"),
          length(col("p_name")).cast("bigint").as("name_len"))
        .orderBy("p_partkey")
    },

    // ---- full outer join with null-preserving group counts ----
    "q85_full_outer" -> { (s, d) =>
      val n = Tables.nation(s, d)
      val sup = Tables.supplier(s, d)
      n.join(sup, n("n_nationkey") === sup("s_nationkey"), "full_outer")
        .groupBy(coalesce(col("n_name"), lit("<no-nation>")).as("nation"))
        .agg(count(col("s_suppkey")).as("n_suppliers"))
        .orderBy("nation")
    },

    // ---- deterministic array aggregation (sorted collect) ----
    // The collected set is emitted as a ','-joined string, not an
    // array<string>: the driver's comparator row-sorts with pandas, which
    // cannot hash ndarray cells (round-1 q87 failure) — the string form is
    // hashable in every comparator while keeping the sorted-collect
    // semantics observable.
    "q87_collect_sorted" -> { (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"),
             count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    },

    // ---- ntile bucketing (decile stats over order value) ----
    "q88_ntile" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("decile", ntile(10).over(w))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
             min(col("o_totalprice")).as("min_price"),
             max(col("o_totalprice")).as("max_price"))
        .orderBy("decile")
    },

    // ---- date/interval arithmetic ----
    "q89_date_arith" -> { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          col("o_orderdate"),
          add_months(col("o_orderdate"), 3).cast("timestamp").as("plus_3m"),
          (col("o_orderdate") + expr("INTERVAL 45 DAYS")).as("plus_45d"),
          last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
          // ISO day-of-week (Mon=1..Sun=7): Spark dayofweek counts Sun=1
          // but DuckDB counts Sun=0, so both sides use the ISO form
          (weekday(col("o_orderdate")) + 1).as("dow"),
          quarter(col("o_orderdate")).as("qtr"),
          weekofyear(col("o_orderdate")).as("wk"))
        .orderBy("o_orderkey")
    },

    // ---- conditional aggregation ----
    "q86_conditional_agg" -> { (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("c_acctbal") < 0, 1)).as("n_negative"),
          count(when(col("c_mktsegment") === "BUILDING", 1)).as("n_building"),
          sum(when(col("c_acctbal") > 0, col("c_acctbal").cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("pos_balance"))
        .orderBy("c_nationkey")
    }
  )

  override def oracle: Map[String, String] = Map(
    "q80_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rflag, lstatus""".stripMargin,

    "q81_pivot" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS rf_a,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS rf_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS rf_r
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q82_subqueries" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                          FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0))
        |ORDER BY o_orderkey""".stripMargin,

    "q83_median" ->
      """WITH r AS (
        |  SELECT c_mktsegment, c_acctbal,
        |         row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
        |         count(*) OVER (PARTITION BY c_mktsegment) AS cnt
        |  FROM customer)
        |SELECT c_mktsegment,
        |       SUM(CASE WHEN rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 THEN c_acctbal END) /
        |         count(CASE WHEN rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 THEN c_acctbal END) AS median_bal
        |FROM r
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // identical histogram construction; div is //
    "q171_median_histogram" ->
      """WITH c AS (
        |  SELECT c_mktsegment AS grp,
        |         CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |h AS (SELECT grp, cents, CAST(count(*) AS BIGINT) AS cnt
        |      FROM c GROUP BY grp, cents),
        |t AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY grp),
        |p AS (SELECT h.grp, h.cents, h.cnt, t.n,
        |             sum(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.cents) AS cum
        |      FROM h JOIN t ON t.grp = h.grp),
        |sel AS (SELECT grp, n,
        |               max(CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum
        |                        THEN cents END) AS lo,
        |               max(CASE WHEN cum - cnt < (n + 2) // 2 AND (n + 2) // 2 <= cum
        |                        THEN cents END) AS hi
        |        FROM p GROUP BY grp, n)
        |SELECT grp AS c_mktsegment, n, lo AS lo_cents, hi AS hi_cents,
        |       CAST(lo + hi AS DOUBLE) / 200.0 AS median_bal
        |FROM sel ORDER BY c_mktsegment""".stripMargin,

    "q84_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_up,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  translate(p_brand, '#', '') AS brand_clean,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad,
        |  reverse(p_name) AS name_rev,
        |  repeat('*', CAST(p_size % 5 AS INT)) AS stars,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part
        |WHERE p_name LIKE '%a%'
        |ORDER BY p_partkey""".stripMargin,

    "q85_full_outer" ->
      """SELECT COALESCE(n_name, '<no-nation>') AS nation,
        |       CAST(count(s_suppkey) AS BIGINT) AS n_suppliers
        |FROM nation n FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
        |GROUP BY COALESCE(n_name, '<no-nation>')
        |ORDER BY nation""".stripMargin,

    "q87_collect_sorted" ->
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q88_ntile" ->
      """WITH t AS (
        |  SELECT o_totalprice,
        |         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        |  FROM orders)
        |SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS BIGINT) AS n,
        |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM t
        |GROUP BY decile
        |ORDER BY decile""".stripMargin,

    "q89_date_arith" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3m,
        |  CAST(o_orderdate + INTERVAL 45 DAY AS TIMESTAMP) AS plus_45d,
        |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
        |  CAST(isodow(o_orderdate) AS INT) AS dow,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(weekofyear(o_orderdate) AS INT) AS wk
        |FROM orders
        |WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "q86_conditional_agg" ->
      """SELECT c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN c_acctbal < 0 THEN 1 END) AS BIGINT) AS n_negative,
        |  CAST(count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS BIGINT) AS n_building,
        |  CAST(SUM(CASE WHEN c_acctbal > 0 THEN CAST(c_acctbal AS DECIMAL(18,2))
        |            ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS pos_balance
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin
  )
}
