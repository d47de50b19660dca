package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryPack, Tables}
import graft.core.Tables.views

/** Fourth relational wave: the remaining TPC-H classics expressible on
  * the driver schema — Q2 (argmin cheapest supplier), Q4 (EXISTS late
  * orders), Q6 (scan-aggregate), Q7 (nation-pair volume), Q8 (market
  * share), Q10 (returned items), Q11 (HAVING share), Q13 (order-count
  * distribution), Q14 (promo share), Q15 (top supplier), Q17
  * (correlated-avg threshold), Q18 (large-volume HAVING), Q22
  * (anti-join opportunity) — plus referential DQ (order-total
  * reconciliation) and market-basket lift.
  *
  * Q9/Q12/Q16/Q19/Q20/Q21 reference columns/tables this schema doesn't
  * carry (partsupp, shipmode, commit/receipt dates, containers), so they
  * appear as SHAPE-PRESERVING ADAPTATIONS (q316–q321): the join topology,
  * subquery pattern and aggregate structure of the spec query, with the
  * missing column replaced by a semantically-equivalent stand-in on this
  * schema — ship-lag-vs-orderdate for commit/receipt lateness (Q21) and
  * shipmode buckets (Q12), min-observed-unit-price for ps_supplycost
  * (Q9), negative account balance for the complaint filter (Q16),
  * size/brand/quantity bands for the container disjunction (Q19), and
  * shipped-quantity dominance for availqty excess (Q20).
  *
  * All are declared as SQL over temp views and share one body
  * between the Spark query and the DuckDB oracle (only the integer
  * division token differs: Spark `div`, DuckDB `//` — identical on the
  * provably-nonnegative revenue cents used here). Revenue follows the
  * repo-wide decimal-exact discipline: DOUBLE prices cast to
  * DECIMAL(18,2) BEFORE multiply/sum so the aggregate is exact and
  * order-independent in both engines; shares are integer ppm over exact
  * bigint cents, never a float divide.
  *
  * Scale notes (the plans Catalyst picks here are the 100 TB plans):
  * nation/region are broadcast dims; customer and supplier broadcast at
  * gate scale and degrade to shuffled hash joins at cluster scale; the
  * orders⋈lineitem spine is the one genuinely shuffled join, with the
  * date-range predicates pushed to the parquet scans.
  */
object RelationalPack4 extends QueryPack {

  /** Exact line revenue: decimal before arithmetic (see RelationalPack). */
  private val revDec =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))"

  /** A [[revDec]] SUM in exact integer 10⁻⁴-dollar units: the product
    * DECIMAL(18,2) × DECIMAL(4,2) carries scale 4, so ×10000 (not ×100!)
    * is what lands on an integer-valued decimal — a ×100 cast would
    * truncate on Spark but ROUND on DuckDB (observed one-off on q302's
    * first gate). */
  private def cents(sumExpr: String) = s"CAST(($sumExpr) * 10000 AS BIGINT)"

  // ---- TPC-H Q7: volume shipping between two trading nations, by
  // direction and ship year. Reference semantics: revenue of lineitems
  // whose supplier sits in one nation and ordering customer in the
  // other, either direction, over a two-year ship window. ----
  private def q7Sql =
    s"""SELECT supp_nation, cust_nation, l_year,
       |       CAST(SUM(rev) AS DOUBLE) AS revenue,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |         CAST(year(l.l_shipdate) AS INT) AS l_year,
       |         $revDec AS rev
       |  FROM supplier s
       |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
       |  JOIN orders o   ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
       |  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
       |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
       |) shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ---- TPC-H Q8: market share of NATION_2 suppliers within ASIA-customer
  // orders of STANDARD parts, per order year. Share as integer ppm over
  // exact cents (numerator/denominator both nonnegative). ----
  private def q8Sql(div: String) =
    s"""SELECT o_year,
       |       CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
       |       CAST(SUM(rev) AS DOUBLE) AS total_rev,
       |       ${cents(s"SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev ELSE CAST(0.00 AS DECIMAL(18,2)) END)")} * 1000000
       |         $div ${cents("SUM(rev)")} AS share_ppm
       |FROM (
       |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       |         n1.n_name AS supp_nation,
       |         $revDec AS rev
       |  FROM part p
       |  JOIN lineitem l ON p.p_partkey = l.l_partkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN orders o   ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
       |  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
       |  JOIN region r   ON r.r_regionkey = n2.n_regionkey
       |  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
       |) all_nations
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin

  // ---- TPC-H Q10: returned-item revenue by customer over one order
  // quarter-pair — the classic "which customers returned the most"
  // top-20. DESC order on an exact-decimal-summed double is
  // cross-engine-stable; c_custkey breaks ties. ----
  private def q10Sql =
    s"""SELECT c.c_custkey, c.c_name,
       |       CAST(SUM($revDec) AS DOUBLE) AS revenue,
       |       n.n_name,
       |       CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
       |FROM customer c
       |JOIN orders o   ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |JOIN nation n   ON n.n_nationkey = c.c_nationkey
       |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
       |  AND l.l_returnflag = 'R'
       |GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
       |ORDER BY revenue DESC, c.c_custkey
       |LIMIT 20""".stripMargin

  // ---- TPC-H Q14: promotion revenue share, one row per ship month of
  // 1997. p_type = 'PROMO' is the promo flag on this schema's flat type
  // domain. Share in ppm over exact cents. ----
  private def q14Sql(div: String) =
    s"""SELECT ym,
       |       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
       |       CAST(SUM(rev) AS DOUBLE) AS total_rev,
       |       ${cents(s"SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0.00 AS DECIMAL(18,2)) END)")} * 1000000
       |         $div ${cents("SUM(rev)")} AS promo_share_ppm
       |FROM (
       |  SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS INT) AS ym,
       |         p.p_type, $revDec AS rev
       |  FROM lineitem l
       |  JOIN part p ON p.p_partkey = l.l_partkey
       |  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
       |) promo
       |GROUP BY ym
       |ORDER BY ym""".stripMargin

  // ---- TPC-H Q2 flavor on this schema: for each part, the supplier
  // with the lowest observed unit price (exact integer cents per unit).
  // Greatest-1-per-group WITHOUT a row-scale window: a per-part min
  // aggregate (map-side combined), an equi-join back on the min, and a
  // second min over the tied suppliers — deterministic ties, no
  // partition-by-part sort, the 100 TB shape for argmin-per-key. ----
  private def q2Sql(div: String) =
    s"""WITH offers AS (
       |  SELECT l.l_partkey, l.l_suppkey,
       |         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |           $div CAST(l.l_quantity AS BIGINT) AS unit_cents
       |  FROM lineitem l),
       |best AS (
       |  SELECT l_partkey, MIN(unit_cents) AS min_unit_cents
       |  FROM offers GROUP BY l_partkey),
       |winner AS (
       |  SELECT o.l_partkey, b.min_unit_cents, MIN(o.l_suppkey) AS best_suppkey
       |  FROM offers o JOIN best b
       |    ON b.l_partkey = o.l_partkey AND o.unit_cents = b.min_unit_cents
       |  GROUP BY o.l_partkey, b.min_unit_cents),
       |cnt AS (
       |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_offers
       |  FROM offers GROUP BY l_partkey)
       |SELECT w.l_partkey AS p_partkey, p.p_name, p.p_brand,
       |       w.min_unit_cents, w.best_suppkey, s.s_name, c.n_offers
       |FROM winner w
       |JOIN part p ON p.p_partkey = w.l_partkey
       |JOIN supplier s ON s.s_suppkey = w.best_suppkey
       |JOIN cnt c ON c.l_partkey = w.l_partkey
       |ORDER BY p_partkey""".stripMargin

  // ---- TPC-H Q4 shape (order-priority checking): orders of one
  // half-year with at least one SLOW line — shipped more than 60 days
  // after the order date — counted by priority. The EXISTS decorrelates
  // to a left-semi join on l_orderkey with the date predicate pushed to
  // both scans; no new lineitem column needed on this schema (commitdate/
  // receiptdate are absent — ship-lag vs order date carries the same
  // "late fulfilment" semantics). ----
  private def q4Sql =
    s"""SELECT o.o_orderpriority,
       |       CAST(COUNT(*) AS BIGINT) AS n_orders
       |FROM orders o
       |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
       |GROUP BY o.o_orderpriority
       |ORDER BY o.o_orderpriority""".stripMargin

  // ---- TPC-H Q6 (forecasting revenue change): pure scan-side
  // filter + aggregate — no join at all. The POINT is the plan: every
  // predicate (ship-year, discount band, quantity cap) must reach the
  // parquet scan as a pushed filter, and the aggregate is a two-phase
  // partial → final over whatever survives. Exact decimal product
  // l_extendedprice × l_discount per the repo-wide discipline. ----
  private def q6Sql =
    s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       |               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  // ---- ORDER-TOTAL RECONCILIATION (referential data quality): per
  // order status, how many orders' header total matches the sum of
  // their line prices — the cross-table consistency check a warehouse
  // runs after every load (q142 audits keys; this audits MONEY). All
  // arithmetic in exact integer cents off decimal casts; orders with no
  // lines surface as their own counter instead of vanishing into an
  // inner join. One aggregate per table + one equi-join on orderkey. ----
  private def reconSql =
    s"""WITH lines AS (
       |  SELECT l_orderkey,
       |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS line_cents
       |  FROM lineitem GROUP BY l_orderkey),
       |o AS (
       |  SELECT o_orderkey, o_orderstatus,
       |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_cents
       |  FROM orders),
       |j AS (
       |  SELECT o.o_orderstatus, o.total_cents, l.line_cents
       |  FROM o LEFT JOIN lines l ON l.l_orderkey = o.o_orderkey)
       |SELECT o_orderstatus,
       |       CAST(count(*) AS BIGINT) AS n_orders,
       |       CAST(sum(CASE WHEN line_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
       |       CAST(sum(CASE WHEN line_cents = total_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |       CAST(sum(CASE WHEN line_cents > total_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
       |       CAST(sum(CASE WHEN line_cents < total_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
       |       CAST(max(CASE WHEN line_cents IS NOT NULL THEN abs(line_cents - total_cents) ELSE 0 END) AS BIGINT) AS max_abs_diff_cents
       |FROM j
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  // ---- MARKET-BASKET BRAND LIFT (association rules over order
  // baskets): for brand pairs co-purchased in ≥ 10 orders, lift =
  // P(A∧B)/(P(A)·P(B)) in integer ppm — the co-merchandising signal.
  // The basket frame is one DISTINCT (order, brand) projection; the
  // pair table is an order-keyed self-join whose OUTPUT is brands²-
  // bounded (≤ 300 rows) with map-side-combining counts, so the only
  // corpus-scale shuffle is the distinct. Top-30 by exact-integer
  // lift. int64-exact while n_ab·N ≤ 9·10¹²·10⁶ (through ~3·10⁶-order
  // co-occurrence on 10⁶ baskets — wide of any gate corpus;
  // DECIMAL(38) past that). ----
  private def basketSql(div: String) =
    s"""WITH ob AS (
       |  SELECT DISTINCT l.l_orderkey, p.p_brand
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
       |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob),
       |bs AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS nb FROM ob GROUP BY 1),
       |pr AS (
       |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
       |         CAST(count(*) AS BIGINT) AS n_ab
       |  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
       |  GROUP BY 1, 2)
       |SELECT pr.brand_a, pr.brand_b, pr.n_ab,
       |       ba.nb AS n_a, bb.nb AS n_b, n.n_orders,
       |       CAST(pr.n_ab * n.n_orders * 1000000 $div (ba.nb * bb.nb) AS BIGINT) AS lift_ppm
       |FROM pr
       |JOIN bs ba ON ba.p_brand = pr.brand_a
       |JOIN bs bb ON bb.p_brand = pr.brand_b
       |CROSS JOIN n
       |WHERE pr.n_ab >= 10
       |ORDER BY lift_ppm DESC, brand_a, brand_b
       |LIMIT 30""".stripMargin

  // ---- TPC-H Q11 flavor (important stock → important suppliers):
  // each nation's suppliers whose revenue share of their nation exceeds
  // 1.5% — the HAVING-over-derived-aggregate classic. Two stacked
  // aggregates (supplier grain, then nation grain) + a broadcast nation
  // dim; the share is exact integer ppm over exact cents so the
  // threshold and ordering are engine-portable. ----
  private def q11Sql(div: String) =
    s"""WITH sr AS (
       |  SELECT s.s_nationkey, l.l_suppkey,
       |         ${cents(s"SUM($revDec)")} AS cents
       |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  GROUP BY 1, 2),
       |nt AS (SELECT s_nationkey, CAST(sum(cents) AS BIGINT) AS nat_cents
       |       FROM sr GROUP BY 1)
       |SELECT n.n_name, sr.l_suppkey AS s_suppkey, sr.cents AS rev_c4,
       |       CAST(sr.cents * 1000000 $div nt.nat_cents AS BIGINT) AS share_ppm
       |FROM sr
       |JOIN nt ON nt.s_nationkey = sr.s_nationkey
       |JOIN nation n ON n.n_nationkey = sr.s_nationkey
       |WHERE sr.cents * 1000000 $div nt.nat_cents >= 15000
       |ORDER BY n.n_name, share_ppm DESC, s_suppkey""".stripMargin

  // ---- TPC-H Q18 (large-volume customers): orders whose total line
  // quantity exceeds 250, with their customers — HAVING over a fact-
  // grain aggregate, then dim joins on the (small) surviving set. The
  // quantity sum is decimal-exact; the top-100 order is value-stable. ----
  private def q18Sql =
    s"""WITH big AS (
       |  SELECT l_orderkey,
       |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |  FROM lineitem
       |  GROUP BY l_orderkey
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
       |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       |       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice, b.sum_qty
       |FROM big b
       |JOIN orders o ON o.o_orderkey = b.l_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |ORDER BY o_totalprice DESC, o.o_orderkey
       |LIMIT 100""".stripMargin

  // ---- TPC-H Q17 (small-quantity-order revenue): lines whose quantity
  // is below 20% of their part's average quantity — the correlated-
  // average threshold pattern, decorrelated into a per-part aggregate
  // joined back to the fact (exactly what Catalyst produces for the
  // correlated subquery). avg enters as the single exact-decimal-sum /
  // count double division, so the 0.2·avg threshold is bit-identical
  // in both engines. ----
  private def q17SmallQtySql =
    s"""WITH pa AS (
       |  SELECT l_partkey,
       |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
       |  FROM lineitem GROUP BY l_partkey)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
       |FROM lineitem l
       |JOIN pa ON pa.l_partkey = l.l_partkey
       |WHERE l.l_quantity < 0.2 * pa.avg_qty""".stripMargin

  // ---- TPC-H Q13 (customer order-count distribution): LEFT join so
  // zero-order customers keep their c_count = 0 bucket, then the
  // distribution-of-counts second aggregate. ----
  private def q13Sql =
    s"""WITH co AS (
       |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
       |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
       |  GROUP BY c.c_custkey)
       |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       |FROM co
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---- TPC-H Q15 (top supplier): each supplier's revenue over one
  // quarter; emit every supplier achieving the maximum (the spec's
  // view + WHERE total = MAX shape, decorrelated to a broadcast scalar).
  // Exact integer 10⁻⁴-dollar units make the MAX equality portable. ----
  private def q15Sql =
    s"""WITH sr AS (
       |  SELECT l_suppkey, ${cents(s"SUM($revDec)")} AS rev_c4
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
       |  GROUP BY l_suppkey),
       |mx AS (SELECT CAST(max(rev_c4) AS BIGINT) AS m FROM sr)
       |SELECT s.s_suppkey, s.s_name, sr.rev_c4
       |FROM sr JOIN mx ON sr.rev_c4 = mx.m
       |JOIN supplier s ON s.s_suppkey = sr.l_suppkey
       |ORDER BY s.s_suppkey""".stripMargin

  // ---- TPC-H Q22 (global sales opportunity): customers with
  // above-average positive account balance and NO RECENT orders (none
  // since 1999 — on this corpus every customer has SOME order, so the
  // spec's lifetime-anti-join arm would be empty; the recency window
  // keeps the identical scalar-correlated-average + NOT EXISTS shape
  // with a populated answer). The average is one exact-decimal sum /
  // count double; the anti-join decorrelates to a left-anti. ----
  private def q22Sql =
    s"""WITH avgbal AS (
       |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS a
       |  FROM customer WHERE c_acctbal > 0.0),
       |cand AS (
       |  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
       |  FROM customer c CROSS JOIN avgbal
       |  WHERE c.c_acctbal > avgbal.a
       |    AND NOT EXISTS (
       |      SELECT 1 FROM orders o
       |      WHERE o.o_custkey = c.c_custkey
       |        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
       |SELECT n.n_name,
       |       CAST(count(*) AS BIGINT) AS numcust,
       |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
       |FROM cand JOIN nation n ON n.n_nationkey = cand.c_nationkey
       |GROUP BY n.n_name
       |ORDER BY n.n_name""".stripMargin

  // ---- TPC-H Q21 shape (suppliers who kept orders waiting): for
  // finished ('F') orders, count per supplier the lines where THIS
  // supplier shipped late (> 45 days after the order date) while every
  // OTHER supplier on the same order shipped on time — the classic
  // EXISTS (someone else was on the order) + NOT EXISTS (no one else
  // was late) double-correlation, decorrelated by Catalyst into a
  // left-semi and a left-anti join on l_orderkey. Ship-lag stands in
  // for the spec's receipt-vs-commit lateness (columns absent here);
  // the subquery topology is the spec's. ----
  private def q21Sql =
    s"""WITH lx AS (
       |  SELECT l.l_orderkey, l.l_suppkey,
       |         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
       |              THEN 1 ELSE 0 END AS is_late
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  WHERE o.o_orderstatus = 'F')
       |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
       |FROM lx l1
       |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
       |WHERE l1.is_late = 1
       |  AND EXISTS (
       |    SELECT 1 FROM lx l2
       |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM lx l3
       |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.is_late = 1)
       |GROUP BY s.s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 100""".stripMargin

  // ---- TPC-H Q19 shape (discounted revenue, disjunctive predicate):
  // an OR of three (brand, size-band, quantity-band) conjunctions
  // spanning BOTH sides of the part⋈lineitem join — the planner test is
  // that the disjunction still prunes at both scans (each disjunct's
  // part-side and line-side conjuncts push independently) and the join
  // stays a broadcast. Size/brand/quantity bands stand in for the
  // spec's container/shipmode literals (absent columns). ----
  private def q19Sql =
    s"""SELECT CAST(SUM($revDec) AS DOUBLE) AS revenue,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM lineitem l
       |JOIN part p ON p.p_partkey = l.l_partkey
       |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       |       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       |       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       |       AND l.l_quantity >= 20 AND l.l_quantity <= 30)""".stripMargin

  // ---- TPC-H Q17 shape: engine-portable SQL (identical text runs on
  // Spark and DuckDB — no div/// divergence to parameterize). ----
  private def q17Sql =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_cents,
       |       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 700.0 AS avg_yearly
       |FROM lineitem l
       |JOIN part p ON p.p_partkey = l.l_partkey
       |WHERE p.p_brand = 'Brand#1' AND p.p_size <= 10
       |  AND CAST(l.l_quantity AS DOUBLE) < (
       |    SELECT 0.2 * AVG(CAST(l2.l_quantity AS DOUBLE))
       |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin

  // ---- TPC-H Q16 shape (parts/supplier relationship): distinct
  // suppliers per (brand, type, size) bucket over a size IN-list,
  // excluding one brand and one type, and excluding "complaint"
  // suppliers — negative account balance standing in for the spec's
  // comment-LIKE filter. The NOT IN decorrelates to a broadcast
  // left-anti join; count(DISTINCT) is the two-phase expand+agg. ----
  private def q16Sql =
    s"""SELECT p.p_brand, p.p_type, CAST(p.p_size AS INT) AS p_size,
       |       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
       |FROM lineitem l
       |JOIN part p ON p.p_partkey = l.l_partkey
       |WHERE p.p_brand <> 'Brand#5'
       |  AND p.p_type <> 'PROMO'
       |  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
       |  AND l.l_suppkey NOT IN (
       |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
       |GROUP BY p.p_brand, p.p_type, p.p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---- TPC-H Q9 shape (product-type profit by nation and year):
  // profit = line revenue minus quantity × part cost, cost proxied by
  // the part's MINIMUM OBSERVED unit price (exact integer cents — the
  // q2 offers aggregate) since partsupp.ps_supplycost is absent. Keeps
  // Q9's topology: fact ⋈ filtered part ⋈ supplier ⋈ nation ⋈ cost
  // side-aggregate, grouped by (nation, year). All line profit in exact
  // int64 10⁻⁴-dollar units (can be NEGATIVE — discounted revenue may
  // dip below the undiscounted min-price cost; no integer division
  // touches it). Per-group sums stay well under int64 at any gate
  // corpus (|line| ≤ 10⁹ c4-units, lines ≤ 10⁷). ----
  private def q9Sql(div: String) =
    s"""WITH offers AS (
       |  SELECT l_partkey,
       |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |           $div CAST(l_quantity AS BIGINT) AS unit_cents
       |  FROM lineitem),
       |cost AS (
       |  SELECT l_partkey, CAST(MIN(unit_cents) AS BIGINT) AS min_unit_cents
       |  FROM offers GROUP BY l_partkey)
       |SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS o_year,
       |       CAST(SUM(CAST(($revDec) * 10000 AS BIGINT)
       |                - CAST(l.l_quantity AS BIGINT) * c.min_unit_cents * 100)
       |            AS BIGINT) AS profit_c4,
       |       CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM lineitem l
       |JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
       |JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |JOIN nation n   ON n.n_nationkey = s.s_nationkey
       |JOIN cost c     ON c.l_partkey = l.l_partkey
       |GROUP BY n.n_name, year(l.l_shipdate)
       |ORDER BY nation, o_year DESC""".stripMargin

  // ---- TPC-H Q12 shape (shipping priority by mode): ship-lag buckets
  // (FAST ≤ 30 d, MEDIUM ≤ 60 d, SLOW beyond) stand in for the absent
  // l_shipmode; per bucket, the spec's high-priority vs low-priority
  // line counts over one ship year. Interval comparisons (not datediff
  // — its argument order differs across engines) keep the predicate
  // engine-portable. ----
  private def q12Sql =
    s"""SELECT lag_mode,
       |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       |FROM (
       |  SELECT o.o_orderpriority,
       |         CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY THEN 'FAST'
       |              WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY THEN 'MEDIUM'
       |              ELSE 'SLOW' END AS lag_mode
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
       |GROUP BY lag_mode
       |ORDER BY lag_mode""".stripMargin

  // ---- TPC-H Q20 shape (potential part promotion): suppliers holding
  // a DOMINANT position in some contested promo part — shipped more
  // than half of that part's 1997 volume against at least one
  // competitor (shipped-quantity dominance standing in for the absent
  // partsupp availqty excess). The spec's nested IN-subquery chain
  // becomes two stacked aggregates + a DISTINCT semi-join into the
  // supplier dim; quantities are exact int64. ----
  private def q20Sql =
    s"""WITH pq AS (
       |  SELECT l.l_partkey, l.l_suppkey,
       |         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sq
       |  FROM lineitem l
       |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
       |  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY l.l_partkey, l.l_suppkey),
       |tot AS (
       |  SELECT l_partkey, CAST(SUM(sq) AS BIGINT) AS tq,
       |         CAST(count(*) AS BIGINT) AS n_supp
       |  FROM pq GROUP BY l_partkey),
       |dom AS (
       |  SELECT DISTINCT pq.l_suppkey
       |  FROM pq JOIN tot ON tot.l_partkey = pq.l_partkey
       |  WHERE 2 * pq.sq > tot.tq AND tot.n_supp >= 2)
       |SELECT s.s_suppkey, s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
       |FROM supplier s
       |JOIN dom ON dom.l_suppkey = s.s_suppkey
       |ORDER BY s.s_suppkey""".stripMargin

  // ---- BENFORD FIRST-DIGIT AUDIT (Benford 1938; the books-cooking /
  // synthetic-data forensic every financial DQ suite runs): the
  // distribution of leading digits of order totals vs Benford's law
  // log10(1+1/d). First digit extracted by a pure-integer power-of-ten
  // CASE ladder on exact cents (no log10/float — a float log at an
  // exact power-of-ten boundary could flip the digit on one engine);
  // expected shares are precomputed integer ppm literals (they sum to
  // exactly 1 000 000). One scan + a 9-row aggregate; excess_ppm is a
  // plain subtraction (may be negative — no division touches it). ----
  private def benfordSql(div: String) = {
    val pows = (14 to 1 by -1).map(p => math.pow(10, p).toLong)
      .map(p => s"WHEN x >= $p THEN x $div $p").mkString("\n       |    ")
    val exp = "CASE first_digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 " +
      "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 " +
      "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END"
    s"""WITH c AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
       |  FROM orders WHERE o_totalprice > 0.0),
       |d AS (
       |  SELECT CAST(CASE
       |    $pows
       |    ELSE x END AS INT) AS first_digit
       |  FROM c),
       |g AS (
       |  SELECT first_digit, CAST(count(*) AS BIGINT) AS n_orders
       |  FROM d GROUP BY first_digit),
       |n AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_tot FROM g)
       |SELECT g.first_digit, g.n_orders,
       |       CAST(g.n_orders * 1000000 $div n.n_tot AS BIGINT) AS observed_ppm,
       |       CAST($exp AS BIGINT) AS benford_ppm,
       |       CAST(g.n_orders * 1000000 $div n.n_tot AS BIGINT)
       |         - CAST($exp AS BIGINT) AS excess_ppm
       |FROM g CROSS JOIN n
       |ORDER BY first_digit""".stripMargin
  }

  // ---- ZONE-MAP SKIP EFFECTIVENESS (the min/max file-pruning audit
  // behind every lakehouse format's file skipping — Moerkotte's
  // small materialized aggregates, VLDB 1998): bucket orders into
  // monthly "files", keep each file's (min, max) zone maps for
  // o_orderdate and o_totalprice, and evaluate a panel of range
  // predicates against the maps — a file is skippable iff its max
  // falls below the predicate bound. On insertion-ordered data the
  // date predicates prune almost everything and the value predicates
  // almost nothing; this query MEASURES that contrast (the q154
  // Z-order layout's motivation) in exact integer ppm. One scan +
  // a months-sized zone-map frame × a constant predicate panel. ----
  private def zonemapSql(div: String) =
    s"""WITH f AS (
       |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
       |         CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS mx_cents,
       |         CAST(count(*) AS BIGINT) AS n_rows
       |  FROM orders GROUP BY ym),
       |thr AS (
       |  SELECT 'date>=1996-07' AS pred, 'date' AS kind, CAST(199607 AS BIGINT) AS bound
       |  UNION ALL SELECT 'date>=1997-01', 'date', 199701
       |  UNION ALL SELECT 'date>=1997-07', 'date', 199707
       |  UNION ALL SELECT 'date>=1998-01', 'date', 199801
       |  UNION ALL SELECT 'total>=10000.00', 'value', 1000000
       |  UNION ALL SELECT 'total>=100000.00', 'value', 10000000),
       |j AS (
       |  SELECT t.pred, f.n_rows,
       |         CASE WHEN (t.kind = 'date' AND f.ym < t.bound)
       |                OR (t.kind = 'value' AND f.mx_cents < t.bound)
       |              THEN 1 ELSE 0 END AS skipped
       |  FROM f CROSS JOIN thr t)
       |SELECT pred,
       |       CAST(count(*) AS BIGINT) AS n_files,
       |       CAST(SUM(skipped) AS BIGINT) AS n_skipped,
       |       CAST(SUM(skipped) * 1000000 $div count(*) AS BIGINT) AS file_skip_ppm,
       |       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       |       CAST(SUM(skipped * n_rows) AS BIGINT) AS rows_skipped,
       |       CAST(SUM(skipped * n_rows) * 1000000 $div SUM(n_rows) AS BIGINT) AS row_skip_ppm
       |FROM j
       |GROUP BY pred
       |ORDER BY pred""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- REVENUE CONCENTRATION: Herfindahl–Hirschman index + CR10 over
    // customer revenue shares — the "how dependent are we on whales"
    // numbers (HHI is the antitrust standard; CR10 the account-risk
    // one), the relational twin of q248's source-concentration Pareto.
    // Exact cents; shares as truncated ppm (Σ share_ppm² div 10⁶ — each
    // term ≤ 10¹², the sum bounded by 10⁶·max share). The top-10 is a
    // TakeOrderedAndProject, never a global sort. ----
    "q344_revenue_hhi" -> { (s, d) =>
      val cust = graft.core.Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")).as("cents"))
      import org.apache.spark.sql.functions._
      val tot = cust.agg(sum("cents").as("tot"), count(lit(1)).as("n_customers"))
      val hhi = cust.crossJoin(broadcast(tot))
        .select(expr("(cents * 1000000) div tot").as("sp"))
        .agg(sum(expr("sp * sp")).as("s2"))
      val top10 = cust.orderBy(col("cents").desc, col("o_custkey")).limit(10)
        .agg(sum("cents").as("c10"))
      hhi.crossJoin(broadcast(tot)).crossJoin(broadcast(top10))
        .select(col("n_customers").cast("bigint").as("n_customers"),
          col("tot").cast("bigint").as("total_cents"),
          expr("s2 div 1000000").cast("bigint").as("hhi_ppm"),
          expr("(c10 * 1000000) div tot").cast("bigint").as("cr10_ppm"))
    },
    // ---- REPEAT-PURCHASE INTERVAL BY SEGMENT: per market segment, the
    // exact lower-median and truncated-mean day gap between a
    // customer's consecutive orders — the reorder-cadence number
    // behind replenishment campaigns (and the priors for q38/q345's
    // as-of tolerances). Shapes: one per-customer lag window (bounded
    // by a customer's own orders), (segment, gap) counts map-side,
    // the CDF window over the GAP vocabulary (calendar-bounded). ----
    "q349_repeat_interval" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ords = graft.core.Tables.orders(s, d)
        .select(col("o_custkey"),
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"),
          col("o_orderkey"))
      val w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
      val gaps = ords.withColumn("prev", lag(col("day"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("o_custkey"), (col("day") - col("prev")).as("gap"))
      val seg = graft.core.Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment"))
      val gs = gaps.join(seg, "o_custkey")
      val cnt = gs.groupBy("segment", "gap").agg(count(lit(1)).as("ct"))
      val wv = Window.partitionBy("segment").orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = cnt.withColumn("cum", sum("ct").over(wv))
      val tot = gs.groupBy("segment").agg(count(lit(1)).as("n"), sum("gap").as("sg"))
      val med = cum.join(tot, "segment")
        .filter(col("cum") * 2 >= col("n"))
        .groupBy("segment").agg(min("gap").as("median_gap_days"))
      tot.join(med, "segment")
        .select(col("segment"),
          col("n").cast("bigint").as("n_gaps"),
          expr("sg div n").cast("bigint").as("mean_gap_days"),
          col("median_gap_days").cast("bigint").as("median_gap_days"))
        .orderBy("segment")
    },
    "q329_zonemap_skip" -> { (s, d) =>
      views(s, d, "orders")
      s.sql(zonemapSql("div"))
    },
    "q322_benford_audit" -> { (s, d) =>
      views(s, d, "orders")
      s.sql(benfordSql("div"))
    },
    "q316_sql_q21_waiting" -> { (s, d) =>
      views(s, d, "lineitem", "orders", "supplier")
      val result = s.sql(q21Sql)
      // the whole point of the Q21 shape: both correlated subqueries
      // must DECORRELATE (a per-row re-execution would be quadratic at
      // scale) — pin the semi/anti join pair at plan time
      val plan = result.queryExecution.executedPlan.toString
      require(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
        s"q316: EXISTS/NOT EXISTS must decorrelate to semi/anti joins; got:\n${plan.take(1500)}")
      result
    },
    "q317_sql_q19_disjunct" -> { (s, d) =>
      views(s, d, "lineitem", "part")
      s.sql(q19Sql)
    },

    // ---- TPC-H Q17 shape (small-quantity-order revenue): the
    // CORRELATED SCALAR AGGREGATE subquery — each line compares its
    // quantity against 0.2·avg(quantity) of ITS OWN part. The planner
    // question this gates: the subquery must DECORRELATE into one
    // per-part aggregate joined back (RewriteCorrelatedScalarSubquery),
    // never a per-row re-execution — quadratic at 100 TB. Determinism:
    // quantities are integer-valued doubles, so the partial sums are
    // EXACT (< 2^53, order-free), and count/divide/×0.2/compare are
    // single IEEE ops both engines share bit-for-bit; revenue follows
    // the decimal-before-SUM cents discipline. ----
    "q445_sql_q17" -> { (s, d) =>
      views(s, d, "lineitem", "part")
      val result = s.sql(q17Sql)
      val plan = result.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"),
        s"q445: the correlated scalar subquery must decorrelate to an " +
          s"aggregate + equi-join; got:\n${plan.take(1500)}")
      result
    },
    "q318_sql_q16_suppcnt" -> { (s, d) =>
      views(s, d, "lineitem", "part", "supplier")
      s.sql(q16Sql)
    },
    "q319_sql_q9_margin" -> { (s, d) =>
      views(s, d, "lineitem", "part", "supplier", "nation")
      val result = s.sql(q9Sql("div"))
      // five-way join spine: every join must stay equi-planned (the
      // q12 scale-independent require — a nested-loop anywhere here is
      // quadratic at 100 TB)
      val plan = result.queryExecution.executedPlan.toString
      require(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
        s"q319: joins must stay equi-planned; got:\n${plan.take(1500)}")
      result
    },
    "q320_sql_q12_lagmode" -> { (s, d) =>
      views(s, d, "lineitem", "orders")
      s.sql(q12Sql)
    },
    "q321_sql_q20_dominant" -> { (s, d) =>
      views(s, d, "lineitem", "part", "supplier")
      s.sql(q20Sql)
    },
    "q308_sql_q13_custdist" -> { (s, d) =>
      views(s, d, "customer", "orders")
      s.sql(q13Sql)
    },
    "q309_sql_q15_topsupp" -> { (s, d) =>
      views(s, d, "lineitem", "supplier")
      s.sql(q15Sql)
    },
    "q310_sql_q22_opportunity" -> { (s, d) =>
      views(s, d, "customer", "orders", "nation")
      s.sql(q22Sql)
    },
    "q306_sql_q18_bigorders" -> { (s, d) =>
      views(s, d, "lineitem", "orders", "customer")
      s.sql(q18Sql)
    },
    "q307_sql_q17_smallqty" -> { (s, d) =>
      views(s, d, "lineitem")
      s.sql(q17SmallQtySql)
    },
    "q302_sql_q11_share" -> { (s, d) =>
      views(s, d, "lineitem", "supplier", "nation")
      s.sql(q11Sql("div"))
    },
    "q298_basket_lift" -> { (s, d) =>
      views(s, d, "lineitem", "part")
      s.sql(basketSql("div"))
    },
    "q293_order_total_recon" -> { (s, d) =>
      views(s, d, "orders", "lineitem")
      s.sql(reconSql)
    },

    // ---- ORDER-BACKLOG AGING CURVE: for every month-start snapshot,
    // the orders already placed but not yet shipped (no lineitem
    // shipped before the snapshot), with exact open value and 30/90-day
    // aging buckets — the point-in-time open-inventory read every
    // warehouse publishes (the FACT-side companion to q177's SCD2
    // point-in-time audit, which probes the dimension). The snapshot
    // grid is the calendar-bounded month vocabulary derived from the
    // data, so the placed-before-snapshot join expands the fact table
    // by at most #months (the q167 bounded-explode rationale) and
    // collapses map-side into months × buckets groups. Day ages are
    // exact integer micros arithmetic (no engine datediff semantics);
    // money is cents-exact. ----
    "q387_backlog_aging" -> { (s, d) =>
      views(s, d, "orders", "lineitem")
      // o_orderdate reads as TIMESTAMP_NTZ; the session is UTC-pinned,
      // so the cast to TIMESTAMP is instant-preserving
      s.sql(backlogSql("div", c => s"unix_micros(CAST($c AS TIMESTAMP))"))
    },
    "q291_sql_q6" -> { (s, d) =>
      views(s, d, "lineitem")
      s.sql(q6Sql)
    },
    "q289_sql_q4_exists" -> { (s, d) =>
      views(s, d, "orders", "lineitem")
      s.sql(q4Sql)
    },
    "q284_sql_q2_argmin" -> { (s, d) =>
      views(s, d, "lineitem", "part", "supplier")
      s.sql(q2Sql("div"))
    },
    "q273_sql_q7" -> { (s, d) =>
      views(s, d, "supplier", "lineitem", "orders", "customer", "nation")
      s.sql(q7Sql)
    },
    "q274_sql_q8" -> { (s, d) =>
      views(s, d, "part", "supplier", "lineitem", "orders", "customer", "nation", "region")
      s.sql(q8Sql("div"))
    },
    "q275_sql_q10" -> { (s, d) =>
      views(s, d, "customer", "orders", "lineitem", "nation")
      s.sql(q10Sql)
    },
    "q276_sql_q14" -> { (s, d) =>
      views(s, d, "lineitem", "part")
      s.sql(q14Sql("div"))
    },

    // ---- LATERAL correlated top-N (SQL:2003 lateral derived tables,
    // the "top 2 per group" idiom): per-nation two highest account
    // balances via `, LATERAL (... ORDER BY ... LIMIT 2)` — ONE SQL
    // text shared verbatim between Spark 4's lateral-join surface and
    // DuckDB, exercising correlated-subquery planning that none of the
    // window-based top-k queries (q22/q124) touch. Exact cents
    // ordering with the custkey tiebreak makes the LIMIT
    // deterministic. Scale: the OUTER side is the nation vocabulary
    // (bounded — 25 rows fan out to 25 correlated probes); for a
    // row-scale outer the WindowGroupLimit partial top-k (q124) is the
    // right plan, not LATERAL. ----
    "q416_lateral_topn" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(lateralTopnSql)
    },

    // ---- 2-D SKYLINE / PARETO FRONTIER (Börzsönyi 2001 "The Skyline
    // Operator"): parts no other part beats on BOTH price (minimize)
    // and size (maximize) — the catalog-curation query behind "best
    // value at every price point". The textbook single-pass algorithm
    // is a full sort + running max (one task at cluster scale); here
    // the decomposition keeps every stage parallel: (1) per-price max
    // size — a map-side-combining groupBy on the price vocabulary;
    // (2) the EXCLUSIVE running max over strictly-cheaper prices via
    // the distributed two-phase [[graft.functions.PrefixSum.exclusiveMax]]
    // (max is associative + idempotent, so partition offsets are raw
    // maxima); (3) one equi-join back on price. A part survives iff it
    // attains its price's max size AND that max strictly beats every
    // cheaper price's. Exact int64 cents (decimal-cast discipline);
    // duplicate (price, size) pairs are mutually non-dominating and
    // both kept. Plan REQUIRE: every window is either __pid-partitioned
    // (the scan's phase-1/2) — a global-sort row-scale window must not
    // creep back. ----
    "q399_skyline" -> { (s, d) =>
      val p = Tables.table(s, d, "part").select(
        col("p_partkey"),
        expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"),
        col("p_size").cast("bigint").as("size"))
      val g = p.groupBy("cents").agg(max("size").as("gmax"))
      val scanned = graft.functions.PrefixSum.exclusiveMax(
        g, Seq(col("cents")), col("gmax"), "prevmax", -1L)
      val result = p.join(scanned, "cents")
        .filter(col("size") === col("gmax") && col("gmax") > col("prevmax"))
        .select(col("p_partkey"), col("cents").as("price_cents"), col("size"))
      locally {
        import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
        val wins = result.queryExecution.optimizedPlan.collect { case w: LWindow => w }
        require(wins.forall(w => (w.partitionSpec ++ w.orderSpec)
            .flatMap(_.references.toSeq).exists(_.name == "__pid")),
          "q399: a non-PrefixSum row-scale window appeared")
      }
      result.orderBy("price_cents", "p_partkey")
    }
  )

  /** q387 template: `div` is the integer-division token; `us` maps a
    * timestamp expression to epoch micros (`unix_micros` / `epoch_us`).
    * Everything else — month grid, open predicate, cents, age buckets —
    * is character-identical. */
  private def backlogSql(div: String, us: String => String): String =
    s"""WITH fs AS (SELECT l_orderkey AS ok, MIN(l_shipdate) AS first_ship
       |            FROM lineitem GROUP BY 1),
       |o AS (SELECT o_orderkey, o_orderdate,
       |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |             ${us("o_orderdate")} AS od_us
       |      FROM orders),
       |ms AS (SELECT snap, ${us("snap")} AS snap_us
       |       FROM (SELECT DISTINCT date_trunc('month', o_orderdate) AS snap FROM orders)),
       |open0 AS (
       |  SELECT m.snap, o.cents,
       |         (m.snap_us - o.od_us) $div 86400000000 AS age_days
       |  FROM ms m JOIN o ON o.od_us < m.snap_us
       |  LEFT JOIN fs ON fs.ok = o.o_orderkey AND ${us("fs.first_ship")} < m.snap_us
       |  WHERE fs.ok IS NULL)
       |SELECT CAST(snap AS TIMESTAMP) AS snap,
       |       CAST(count(*) AS BIGINT) AS n_open,
       |       CAST(SUM(cents) AS BIGINT) AS open_value_cents,
       |       CAST(SUM(CASE WHEN age_days < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_age_lt30,
       |       CAST(SUM(CASE WHEN age_days >= 30 AND age_days < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_age_30_90,
       |       CAST(SUM(CASE WHEN age_days >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_age_ge90
       |FROM open0
       |GROUP BY snap
       |ORDER BY snap""".stripMargin

  /** q416: ONE text, both engines (no tokens differ). */
  private val lateralTopnSql: String =
    """WITH c AS (
      |  SELECT c_custkey, CAST(c_nationkey AS INT) AS nat,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |nats AS (SELECT DISTINCT nat FROM c)
      |SELECT n.nat, x.c_custkey, x.cents
      |FROM nats n, LATERAL (
      |  SELECT c_custkey, cents FROM c WHERE c.nat = n.nat
      |  ORDER BY cents DESC, c_custkey LIMIT 2) x
      |ORDER BY nat, cents DESC, c_custkey""".stripMargin

  override def oracle: Map[String, String] = Map(

    // the identical shared text
    "q416_lateral_topn" -> lateralTopnSql,
    "q349_repeat_interval" ->
      """WITH ords AS (
        |  SELECT o_custkey, epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
        |         o_orderkey
        |  FROM orders),
        |gaps AS (
        |  SELECT o_custkey,
        |         day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS gap
        |  FROM ords),
        |gs AS (SELECT c.c_mktsegment AS segment, g.gap
        |       FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
        |       WHERE g.gap IS NOT NULL),
        |cnt AS (SELECT segment, gap, CAST(count(*) AS BIGINT) AS ct FROM gs GROUP BY 1, 2),
        |cum AS (SELECT segment, gap,
        |               CAST(SUM(ct) OVER (PARTITION BY segment ORDER BY gap
        |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |        FROM cnt),
        |tot AS (SELECT segment, CAST(count(*) AS BIGINT) AS n, CAST(SUM(gap) AS BIGINT) AS sg
        |        FROM gs GROUP BY 1),
        |med AS (SELECT c.segment, CAST(MIN(c.gap) AS BIGINT) AS median_gap_days
        |        FROM cum c JOIN tot t USING (segment)
        |        WHERE c.cum * 2 >= t.n
        |        GROUP BY c.segment)
        |SELECT t.segment, t.n AS n_gaps,
        |       CAST(t.sg // t.n AS BIGINT) AS mean_gap_days,
        |       m.median_gap_days
        |FROM tot t JOIN med m USING (segment)
        |ORDER BY segment""".stripMargin,

    "q344_revenue_hhi" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot,
        |               CAST(count(*) AS BIGINT) AS n_customers FROM cust),
        |sp AS (SELECT (c.cents * 1000000) // t.tot AS sp FROM cust c CROSS JOIN tot t),
        |hhi AS (SELECT CAST(SUM(sp * sp) AS BIGINT) AS s2 FROM sp),
        |t10 AS (SELECT CAST(SUM(cents) AS BIGINT) AS c10
        |        FROM (SELECT cents, o_custkey FROM cust
        |              QUALIFY row_number() OVER (ORDER BY cents DESC, o_custkey) <= 10))
        |SELECT t.n_customers, t.tot AS total_cents,
        |       CAST(h.s2 // 1000000 AS BIGINT) AS hhi_ppm,
        |       CAST((x.c10 * 1000000) // t.tot AS BIGINT) AS cr10_ppm
        |FROM hhi h CROSS JOIN tot t CROSS JOIN t10 x""".stripMargin,
    "q329_zonemap_skip"     -> zonemapSql("//"),
    "q322_benford_audit"    -> benfordSql("//"),
    "q316_sql_q21_waiting"  -> q21Sql,
    "q445_sql_q17"          -> q17Sql,
    "q317_sql_q19_disjunct" -> q19Sql,
    "q318_sql_q16_suppcnt"  -> q16Sql,
    "q319_sql_q9_margin"    -> q9Sql("//"),
    "q320_sql_q12_lagmode"  -> q12Sql,
    "q321_sql_q20_dominant" -> q20Sql,
    "q308_sql_q13_custdist" -> q13Sql,
    "q309_sql_q15_topsupp" -> q15Sql,
    "q310_sql_q22_opportunity" -> q22Sql,
    "q306_sql_q18_bigorders" -> q18Sql,
    "q307_sql_q17_smallqty" -> q17SmallQtySql,
    "q302_sql_q11_share" -> q11Sql("//"),
    "q298_basket_lift" -> basketSql("//"),
    "q293_order_total_recon" -> reconSql,
    "q387_backlog_aging" -> backlogSql("//", c => s"epoch_us(CAST($c AS TIMESTAMP))"),
    "q291_sql_q6" -> q6Sql,
    "q289_sql_q4_exists" -> q4Sql,
    "q284_sql_q2_argmin" -> q2Sql("//"),
    "q273_sql_q7"  -> q7Sql,
    "q274_sql_q8"  -> q8Sql("//"),
    "q275_sql_q10" -> q10Sql,
    "q276_sql_q14" -> q14Sql("//"),

    // same per-price max + exclusive running max over cheaper prices;
    // the oracle's plain window replays the distributed two-phase scan
    "q399_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         CAST(p_size AS BIGINT) AS size
        |  FROM part),
        |g AS (SELECT cents, MAX(size) AS gmax FROM p GROUP BY 1),
        |x AS (SELECT cents, gmax,
        |             COALESCE(MAX(gmax) OVER (ORDER BY cents
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS prevmax
        |      FROM g)
        |SELECT p.p_partkey, p.cents AS price_cents, p.size
        |FROM p JOIN x ON x.cents = p.cents
        |WHERE p.size = x.gmax AND x.gmax > x.prevmax
        |ORDER BY price_cents, p_partkey""".stripMargin
  )
}
