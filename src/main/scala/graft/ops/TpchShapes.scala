package graft.ops

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.2 — TPC-H-flavored relational rollups (Q4/Q12/Q14 shapes,
  * banded dimensional rollups, CUBE). Shared discipline: dims project to
  * the join columns and broadcast, EXISTS is left_semi, revenue sums in
  * DECIMAL (§5) with double only at the final ratio -> round(.,4).
  * (Consolidated r9 from the r8 chronology files.)
  */
object TpchShapes {

  private val kProp = get_json_object(col("props"), "$.k").cast(LongType)
  private val centsL =
    (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
  private val big = DecimalType(38, 0)
  private val epochDay = datediff(col("ts").cast(DateType),
    to_date(lit("1970-01-01"))).cast(LongType)

  val defs: Map[String, OpDef] = Map(
    // ---- #152 CUBE aggregation ---------------------------------------------
    // The full 2-D OLAP cube over (returnflag, ship_year) — all four
    // grouping sets in ONE pass: Spark's Expand feeds the same partial
    // aggregate as a plain groupBy, so the cube costs one exchange of
    // (4 × grain) pre-aggregated rows, never four scans. Quantities sum
    // as DECIMAL(18,2) (exact) and cast to double only at the boundary;
    // NULL grouping cells take the 'ALL' sentinel so the driver comparator
    // never sees engine-specific null ordering.
    "cube_agg" -> OpDef(
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(CAST(y AS VARCHAR), 'ALL') AS ship_year,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(2 * GROUPING(l_returnflag) + GROUPING(y) AS BIGINT) AS gid
        |FROM (SELECT l_returnflag,
        |        date_part('year', CAST(l_shipdate AS DATE)) AS y,
        |        l_quantity FROM lineitem)
        |GROUP BY CUBE(l_returnflag, y)
        |ORDER BY returnflag, ship_year""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_returnflag"),
          year(col("l_shipdate").cast(DateType)).cast(LongType).as("y"),
          col("l_quantity"))
        .cube("l_returnflag", "y")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"),
          (lit(2) * grouping(col("l_returnflag")) + grouping(col("y")))
            .cast(LongType).as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("y").cast(StringType), lit("ALL")).as("ship_year"),
          col("n"), col("sum_qty"), col("gid"))
        .orderBy("returnflag", "ship_year")
    },

    // ---- #193 TPC-H Q4 shape: priority count with EXISTS semi-join ---------
    // Orders per priority that have at least one line shipped > 60 days
    // after the order date — the EXISTS pattern. The semi-join keeps the
    // probe side at ONE row per qualifying order (never a row-multiplying
    // inner join + distinct); the date predicate rides the join condition
    // so non-qualifying lines never survive the build side. Exact integer
    // date arithmetic.
    "q4_priority_slowship" -> OpDef(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND datediff('day', CAST(o.o_orderdate AS DATE),
        |          CAST(l.l_shipdate AS DATE)) > 60)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(l,
          o("o_orderkey") === l("l_orderkey") &&
            datediff(l("l_shipdate").cast(DateType),
              o("o_orderdate").cast(DateType)) > 60,
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).cast(LongType).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // ---- #194 TPC-H Q12 shape: priority-class counts per line status -------
    // Per l_linestatus: how many lines belong to URGENT/HIGH-priority
    // orders vs the rest — the join + dual conditional count. The
    // priority flag projects to ONE boolean BEFORE the join (column
    // pruning: the join carries 2 columns, not the orders row); both
    // counts ride ONE conditional partial agg.
    "q12_priority_class" -> OpDef(
      """SELECT l.l_linestatus,
        |  CAST(COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS BIGINT) AS high_line_count,
        |  CAST(COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("hi"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linestatus"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(count(when(col("hi"), 1)).cast(LongType).as("high_line_count"),
          count(when(!col("hi"), 1)).cast(LongType).as("low_line_count"))
        .orderBy("l_linestatus")
    },

    // ---- #195 TPC-H Q14 shape: promo revenue share -------------------------
    // Revenue share of ECONOMY-type parts — the broadcast-dim conditional
    // revenue ratio. The part dim projects to (key, flag) and broadcasts
    // (constant-size at any fact scale); revenue = price·(1−disc) sums
    // EXACTLY in DECIMAL (the §5 rule: a double fold here hash-diverges),
    // double only at the final ratio → round(·,4).
    "q14_promo_share" -> OpDef(
      """SELECT
        |  round(100.0 * CAST(SUM(CASE WHEN p.p_type = 'ECONOMY'
        |      THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l.l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
        |    AS promo_share_pct,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part")
        .select(col("p_partkey"), (col("p_type") === "ECONOMY").as("promo"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_partkey"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
            .as("rev"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .agg(
          round(lit(100.0) *
            sum(when(col("promo"), col("rev"))).cast(DoubleType)
            / sum(col("rev")).cast(DoubleType), 4).as("promo_share_pct"),
          count(lit(1)).cast(LongType).as("n_lines"))
    },

    // ---- #198 delivery-lag quantiles per priority --------------------------
    // Exact p50/p90 of ship-lag days (l_shipdate − o_orderdate) per order
    // priority — the fact⋈fact join feeding the bank's value-grain
    // quantile discipline: the join carries 2 pruned columns per side,
    // lags collapse to the (priority, lag-day) grain, and rank selection
    // rides per-priority grain windows. Integer day arithmetic end to
    // end.
    "delivery_lag_quantiles" -> OpDef(
      """WITH j AS (
        |  SELECT o.o_orderpriority AS pri,
        |    datediff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) AS lag_d
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |g AS (SELECT pri, lag_d, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM j GROUP BY 1, 2),
        |w AS (
        |  SELECT pri, lag_d, cnt,
        |    SUM(cnt) OVER (PARTITION BY pri ORDER BY lag_d) AS cum,
        |    SUM(cnt) OVER (PARTITION BY pri) AS n
        |  FROM g)
        |SELECT pri AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n_lines,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.50 * n) THEN lag_d END) AS BIGINT)
        |    AS p50_lag_days,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.90 * n) THEN lag_d END) AS BIGINT)
        |    AS p90_lag_days
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
          col("o_orderdate"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      val g = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(col("pri"),
          datediff(col("l_shipdate").cast(DateType),
            col("o_orderdate").cast(DateType)).cast(LongType).as("lag_d"))
        .groupBy("pri", "lag_d").agg(count(lit(1)).as("cnt"))
      val part = Window.partitionBy("pri")
      val w = g
        .withColumn("cum", sum("cnt").over(part.orderBy("lag_d")))
        .withColumn("n", sum("cnt").over(part))
      def sel(q: Double): Column =
        min(when(col("cum") >= ceil(lit(q) * col("n")), col("lag_d")))
          .cast(LongType)
      w.groupBy("pri").agg(max("n").cast(LongType).as("n_lines"),
          sel(0.50).as("p50_lag_days"), sel(0.90).as("p90_lag_days"))
        .select(col("pri").as("o_orderpriority"), col("n_lines"),
          col("p50_lag_days"), col("p90_lag_days"))
        .orderBy("o_orderpriority")
    },

    // ---- #199 banded revenue by brand --------------------------------------
    // Revenue per (p_brand, quantity band ≤10 / 11-25 / >25) — the
    // TPC-H-Q19-flavored banded dimensional rollup. The part dim projects
    // to (key, brand) and broadcasts; the band is a scan-riding integer
    // CASE; revenue sums EXACTLY in DECIMAL (§5), double at the boundary.
    "brand_band_revenue" -> OpDef(
      """WITH j AS (
        |  SELECT p.p_brand,
        |    CASE WHEN l.l_quantity <= 10 THEN 'a_low'
        |         WHEN l.l_quantity <= 25 THEN 'b_mid'
        |         ELSE 'c_high' END AS band,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS rev
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT p_brand, band, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(rev) AS DOUBLE) AS revenue
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).as("rev"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .select(col("p_brand"),
          when(col("l_quantity") <= 10, "a_low")
            .when(col("l_quantity") <= 25, "b_mid")
            .otherwise("c_high").as("band"),
          col("rev"))
        .groupBy("p_brand", "band")
        .agg(count(lit(1)).cast(LongType).as("n_lines"),
          sum("rev").cast(DoubleType).as("revenue"))
        .orderBy("p_brand", "band")
    },

    // ---- #200 order-status revenue rollup ----------------------------------
    // Count + exact decimal revenue + share per order status — the
    // simplest possible rollup, kept §5-clean: totals sum in
    // DECIMAL(18,2), the share divides doubles cast from exact decimals
    // over a 3-row grain window → round(·,4).
    "status_revenue_rollup" -> OpDef(
      """WITH g AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, n_orders,
        |  CAST(total AS DOUBLE) AS revenue,
        |  round(CAST(total AS DOUBLE) / CAST(SUM(total) OVER () AS DOUBLE), 4)
        |    AS share
        |FROM g ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast(LongType).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total"))
      g.select(col("o_orderstatus"), col("n_orders"),
          col("total").cast(DoubleType).as("revenue"),
          round(col("total").cast(DoubleType)
            / sum("total").over(Window.partitionBy()).cast(DoubleType), 4)
            .as("share"))
        .orderBy("o_orderstatus")
    },

    // ---- #203 TPC-H Q7 shape: volume shipping between nation pair ----------
    // Revenue by (supplier nation, customer nation, ship year) for the
    // NATION_1/NATION_2 pair, both directions. The nation filter applies
    // to the DIMS before any fact join (each side of the fact⋈fact join
    // arrives pre-filtered to ~2/25 of suppliers/customers), so the big
    // orderkey shuffle carries only qualifying lines. nation (25 rows,
    // constant at any SF) broadcasts with a hint; supplier/customer scale
    // with SF and stay AQE-decided (the #14 rule). Revenue sums in
    // DECIMAL (§5), double at the boundary.
    "q7_volume_shipping" -> OpDef(
      """WITH sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |cn AS (
        |  SELECT c_custkey, n_name AS cust_nation
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |j AS (
        |  SELECT sn.supp_nation, cn.cust_nation,
        |    date_part('year', CAST(l.l_shipdate AS DATE)) AS l_year,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS rev
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN sn ON l.l_suppkey = sn.s_suppkey
        |  JOIN cn ON o.o_custkey = cn.c_custkey
        |  WHERE sn.supp_nation <> cn.cust_nation)
        |SELECT supp_nation, cust_nation, CAST(l_year AS BIGINT) AS l_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(rev) AS DOUBLE) AS revenue
        |FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    ) { (s, dir) =>
      val nations = broadcast(Tables(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2")))
      val sn = Tables(s, dir, "supplier")
        .join(nations, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cn = Tables(s, dir, "customer")
        .join(nations, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(cn, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate").cast(DateType)).cast(LongType).as("l_year"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).as("rev"))
        .join(sn, col("l_suppkey") === col("s_suppkey"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(count(lit(1)).cast(LongType).as("n_lines"),
          sum("rev").cast(DoubleType).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // ---- #204 TPC-H Q10 shape: returned-item top customers -----------------
    // Top-20 customers by revenue from returned ('R') lines. The revenue
    // COLLAPSES to the customer grain before any dim join (the fact⋈dim
    // join sees one row per customer, never per line); nation broadcasts;
    // the top-20 is orderBy+limit = TakeOrderedAndProject (no global
    // sort), ties at the cut pinned by c_custkey. Revenue exact in
    // DECIMAL; acctbal passes through untouched (bit-identical).
    "q10_returned_items" -> OpDef(
      """WITH rev AS (
        |  SELECT o.o_custkey,
        |    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |  GROUP BY 1)
        |SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
        |  CAST(r.revenue AS DOUBLE) AS revenue
        |FROM rev r
        |JOIN customer c ON r.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY r.revenue DESC, c.c_custkey LIMIT 20""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val rev = Tables(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).as("rev"))
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .groupBy("o_custkey").agg(sum("rev").as("revenue"))
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
      val n = broadcast(Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")))
      rev.join(c, rev("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("c_acctbal"), col("revenue").cast(DoubleType).as("revenue"))
    },

    // ---- #205 TPC-H Q15 shape: top supplier by quarter revenue -------------
    // Supplier(s) achieving the MAX Q1-1996 revenue — the scalar-subquery
    // = window-max-on-the-grain pattern: revenue collapses to the
    // supplier grain (one shuffle), the max rides a partition-less window
    // over that pinned-small grain (suppliers, not lines), and the
    // equality filter is EXACT because revenue stays DECIMAL until after
    // the comparison.
    "q15_top_supplier" -> OpDef(
      """WITH r AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
        |FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_rev = (SELECT MAX(total_rev) FROM r)
        |ORDER BY s.s_suppkey""".stripMargin
    ) { (s, dir) =>
      val r = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate").cast(DateType) >= lit("1996-01-01") &&
          col("l_shipdate").cast(DateType) < lit("1996-04-01"))
        .select(col("l_suppkey"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).as("rev"))
        .groupBy("l_suppkey").agg(sum("rev").as("total_rev"))
      val top = r
        .withColumn("mx", max("total_rev").over(Window.partitionBy()))
        .filter(col("total_rev") === col("mx"))
      val sup = Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      top.join(sup, top("l_suppkey") === sup("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast(DoubleType).as("total_rev"))
        .orderBy("s_suppkey")
    },

    // ---- #206 TPC-H Q19 shape: disjunctive bracket predicate ---------------
    // Revenue under an OR of (brand, quantity-range, size-range) brackets
    // — the disjunctive-pushdown exercise. The derived envelope
    // (quantity ≤ 30, size ≤ 15, brand ∈ {…}) pushes into EACH side's
    // scan (PushedFilters prunes rows before the join); the exact
    // disjunction evaluates after the broadcast-pruned part join. One
    // global row out.
    "q19_disjunctive_pred" -> OpDef(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11
        |        AND p.p_size BETWEEN 1 AND 5)
        |   OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20
        |        AND p.p_size BETWEEN 1 AND 10)
        |   OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30
        |        AND p.p_size BETWEEN 1 AND 15)""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
          col("p_size").between(1, 15))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val l = Tables(s, dir, "lineitem")
        .filter(col("l_quantity").between(1, 30))
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).as("rev"))
      def bracket(b: String, qLo: Int, qHi: Int, szHi: Int): Column =
        col("p_brand") === b && col("l_quantity").between(qLo, qHi) &&
          col("p_size").between(1, szHi)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .filter(bracket("Brand#1", 1, 11, 5) ||
          bracket("Brand#2", 10, 20, 10) ||
          bracket("Brand#3", 20, 30, 15))
        .agg(count(lit(1)).cast(LongType).as("n_lines"),
          sum("rev").cast(DoubleType).as("revenue"))
    },

    // ---- #207 TPC-H Q16 shape: supplier count with NOT IN ------------------
    // Distinct suppliers per (brand, size) excluding "complaint" suppliers
    // (s_acctbal < 0) — the NOT-IN-subquery = left_anti pattern. The
    // complaint set is a filtered dim (anti side broadcasts under AQE);
    // the distinct collapses (brand, size, suppkey) BEFORE the count so
    // the final agg sees grain rows, not lines.
    "q16_supplier_cnt" -> OpDef(
      """WITH pl AS (
        |  SELECT DISTINCT p.p_brand, p.p_size, l.l_suppkey
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand <> 'Brand#1'
        |    AND l.l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(COUNT(*) AS BIGINT) AS supplier_cnt
        |FROM pl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1")
        .select(col("p_partkey"), col("p_brand"),
          col("p_size").cast(LongType).as("p_size"))
      val complaints = Tables(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .join(complaints, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === p("p_partkey"))
        .select("p_brand", "p_size", "l_suppkey").distinct()
        .groupBy("p_brand", "p_size")
        .agg(count(lit(1)).cast(LongType).as("supplier_cnt"))
        .orderBy("p_brand", "p_size")
    },

    // ---- #208 TPC-H Q18 shape: large-volume orders (HAVING subquery) -------
    // Orders whose total quantity exceeds 250, with their customer — the
    // group-HAVING-then-join-back pattern. Quantities sum EXACTLY in
    // DECIMAL so the >250 cut is identical on both engines; the filter
    // runs at the order grain BEFORE the customer join (the dim join sees
    // only qualifying orders); top-100 by totalprice with the orderkey
    // tie-break = TakeOrderedAndProject.
    "q18_large_orders" -> OpDef(
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
        |  CAST(b.sum_qty AS DOUBLE) AS sum_qty
        |FROM big b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin
    ) { (s, dir) =>
      val big = Tables(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = Tables(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty").cast(DoubleType).as("sum_qty"))
    },

    // ---- #209 TPC-H Q21 shape: suppliers who kept orders waiting -----------
    // Suppliers with a late line (shipped >90 days after order date) in a
    // finished multi-supplier order where they were the ONLY late
    // supplier. The classic EXISTS + NOT-EXISTS double self-join
    // re-expressed with ZERO fact-fact joins: lines collapse to the
    // (order, supplier, was-late) grain, then n_supp / n_late become
    // plain count/sum WINDOWS over the orderkey partition — the order-
    // grain statistics and the per-supplier filter read off the same
    // rows, so no aggregation-then-join-back round trip exists to
    // sort-merge. The supplier name join is a dim join at the qualifying
    // (supplier, order) grain.
    "q21_waiting_supplier" -> OpDef(
      """WITH l2 AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |    CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
        |        CAST(l.l_shipdate AS DATE)) > 90 THEN 1 ELSE 0 END AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |os AS (
        |  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp,
        |    COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
        |  FROM l2 GROUP BY 1),
        |q AS (
        |  SELECT DISTINCT l2.l_suppkey, l2.l_orderkey
        |  FROM l2 JOIN os ON l2.l_orderkey = os.l_orderkey
        |  WHERE l2.late = 1 AND os.n_supp > 1 AND os.n_late = 1)
        |SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM q JOIN supplier s ON q.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val g = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(datediff(col("l_shipdate").cast(DateType),
          col("o_orderdate").cast(DateType)) > 90).as("late"))
      val ow = Window.partitionBy("l_orderkey")
      val q = g
        .withColumn("n_supp", count(lit(1)).over(ow))
        .withColumn("n_late",
          sum(when(col("late"), 1L).otherwise(0L)).over(ow))
        .filter(col("late") && col("n_supp") > 1 && col("n_late") === 1)
      val sup = Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      q.join(sup, q("l_suppkey") === sup("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).cast(LongType).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(25)
    },

    // ---- #210 TPC-H Q22 shape: idle high-balance customers -----------------
    // Customers above the average positive balance with NO orders since
    // 1999, rolled up by nation — scalar-subquery broadcast + anti-join.
    // (The original's "no orders at all" is empty at every test SF — the
    // generator gives every customer early orders — so the recency cut is
    // the non-degenerate form; it also pushes a date filter into the
    // anti side's scan.) The average is an exact decimal sum over one
    // double division (bit-identical both engines), broadcast as a 1-row
    // frame; the NOT EXISTS is left_anti on the date-filtered orders key
    // projection; nation broadcasts.
    "q22_idle_customers" -> OpDef(
      """WITH stats AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / COUNT(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0),
        |idle AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        |  FROM customer c, stats
        |  WHERE c.c_acctbal > stats.avg_bal
        |    AND NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |         AND o.o_orderdate >= TIMESTAMP '1999-01-01'))
        |SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM idle JOIN nation n ON idle.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val stats = c.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 2)))
          .cast(DoubleType) / count(lit(1))).as("avg_bal"))
      val okeys = Tables(s, dir, "orders")
        .filter(col("o_orderdate").cast(DateType) >= lit("1999-01-01"))
        .select(col("o_custkey"))
      val n = broadcast(Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")))
      c.crossJoin(broadcast(stats))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(okeys, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).cast(LongType).as("numcust"),
          sum(col("c_acctbal").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("totacctbal"))
        .orderBy("n_name")
    },

    // ---- #222 TPC-H Q6 shape: forecast revenue (pure pushdown agg) ---------
    // Revenue delta from a (year, discount band, quantity cap) slice —
    // the canonical predicate-pushdown probe: every filter is a plain
    // column comparison that must reach the parquet scan (PushedFilters),
    // no join, one partial-agg row per task. Discount compares in exact
    // 2-dp DECIMAL (a double BETWEEN on 0.05/0.07 would be
    // representation-dependent); revenue = price·disc sums in DECIMAL.
    "q6_forecast_revenue" -> OpDef(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(18,2))
        |        BETWEEN CAST(0.05 AS DECIMAL(18,2)) AND CAST(0.07 AS DECIMAL(18,2))
        |  AND l_quantity < 24""".stripMargin
    ) { (s, dir) =>
      val disc = col("l_discount").cast(DecimalType(18, 2))
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate").cast(DateType) >= lit("1996-01-01") &&
          col("l_shipdate").cast(DateType) < lit("1997-01-01") &&
          disc >= lit(BigDecimal("0.05")) && disc <= lit(BigDecimal("0.07")) &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).cast(LongType).as("n_lines"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) * disc)
            .cast(DoubleType).as("revenue"))
    },

    // ---- #223 TPC-H Q17 shape: small-quantity revenue per brand ------------
    // Revenue from lines under 20% of their part's average quantity — the
    // correlated-average subquery as a part-grain collapse + join-back:
    // per-part thresholds are exact decimal sums over ONE shuffle
    // (20·Σqty vs count·qty cross-multiplied in integers — no float
    // threshold drift), the fact side re-joins on the SAME partkey
    // clustering, and the brand dim prunes to ECONOMY-brand keys before
    // the threshold join.
    "q17_small_qty_revenue" -> OpDef(
      """WITH pq AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS small_qty_revenue
        |FROM lineitem l
        |JOIN pq ON l.l_partkey = pq.l_partkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_type = 'ECONOMY'
        |  AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pq.cnt < pq.sq""".stripMargin
    ) { (s, dir) =>
      val pq = Tables(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"),
          count(lit(1)).as("cnt"))
        .select(col("l_partkey").as("pk"), col("sq"), col("cnt"))
      val p = Tables(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      // qty < sq/(5·cnt) cross-multiplied: qty·5·cnt < sq — exact decimal
      l.join(pq, l("l_partkey") === pq("pk"))
        .filter(col("l_quantity").cast(DecimalType(18, 2)) * 5 * col("cnt")
          < col("sq"))
        .agg(count(lit(1)).cast(LongType).as("n_lines"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("small_qty_revenue"))
    },

    // ---- #224 TPC-H Q20 shape: suppliers with surplus of promo parts -------
    // Suppliers whose shipped quantity of some ECONOMY part in 1997
    // exceeds 50 (impossible for a single line — max quantity is 50 — so only
    // repeat-shipment pairs qualify) — the nested-semi-join chain (supplier ← qualifying
    // (part, supplier) pairs ← part filter). The pair aggregation
    // collapses lines to the (supp, part) grain FIRST; the >40 cut runs
    // on the exact decimal grain sums; the supplier dim sees a left_semi
    // of qualifying suppkeys (one row each, no blowup).
    "q20_surplus_suppliers" -> OpDef(
      """WITH qual AS (
        |  SELECT l.l_suppkey
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_type = 'ECONOMY'
        |    AND date_part('year', CAST(l.l_shipdate AS DATE)) = 1997
        |  GROUP BY l.l_suppkey, l.l_partkey
        |  HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 50)
        |SELECT s.s_suppkey, s.s_name
        |FROM supplier s
        |WHERE s.s_suppkey IN (SELECT l_suppkey FROM qual)
        |ORDER BY s.s_suppkey""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      val qual = Tables(s, dir, "lineitem")
        .filter(year(col("l_shipdate").cast(DateType)) === 1997)
        .select(col("l_suppkey"), col("l_partkey"), col("l_quantity"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"))
        .filter(col("sq") > 50)
        .select(col("l_suppkey"))
      Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
        .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .orderBy("s_suppkey")
    },

    // ---- #231 TPC-H Q13 shape: customer order-count distribution -----------
    // How many customers placed 0, 1, 2… qualifying orders — the LEFT
    // OUTER JOIN + count(NULL)=0 distribution (zero-order customers MUST
    // appear, which no inner-join shape can produce). Orders pre-filter
    // (non-URGENT) BEFORE the join; the per-customer count collapses on
    // the custkey shuffle; the final histogram is a ≤max-orders grain
    // collapse. Pure integers.
    "q13_customer_distribution" -> OpDef(
      """WITH co AS (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT CAST(c_count AS BIGINT) AS c_count,
        |  CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      val c = Tables(s, dir, "customer").select(col("c_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).cast(LongType).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).cast(LongType).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // ---- #232 TPC-H Q9 shape: product profit by nation and year ------------
    // Profit per (supplier nation, order year) for blue parts (an adjective both the driver and probe generators emit) —
    // Q9 with the one schema liberty documented: partsupp does not exist
    // here, so supply cost proxies as 60% of p_retailprice (a constant
    // per part, preserving the join topology: lineitem⋈part⋈supplier⋈
    // nation⋈orders). Profit = rev − qty·cost sums EXACTLY in DECIMAL;
    // the part/supplier dims project to (key, needed columns) before the
    // fact joins; nation broadcasts.
    "q9_product_profit" -> OpDef(
      """WITH profit AS (
        |  SELECT sn.n_name AS nation,
        |    date_part('year', CAST(o.o_orderdate AS DATE)) AS o_year,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
        |      - CAST(ROUND(0.6 * p.p_retailprice, 2) AS DECIMAL(18,2))
        |        * CAST(l.l_quantity AS DECIMAL(18,2)) AS amount
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |    AND p.p_name LIKE '%blue%'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT nation, CAST(o_year AS BIGINT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(amount) AS DOUBLE) AS sum_profit
        |FROM profit GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part")
        .filter(col("p_name").like("%blue%"))
        .select(col("p_partkey"),
          round(lit(0.6) * col("p_retailprice"), 2)
            .cast(DecimalType(18, 2)).as("cost"))
      val sup = Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = broadcast(Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")))
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate").cast(DateType)).cast(LongType).as("o_year"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(p), col("l_partkey") === p("p_partkey"))
        .join(sup, col("l_suppkey") === sup("s_suppkey"))
        .join(n, col("s_nationkey") === n("n_nationkey"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(col("n_name").as("nation"), col("o_year"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))) -
            col("cost") * col("l_quantity").cast(DecimalType(18, 2)))
            .as("amount"))
        .groupBy("nation", "o_year")
        .agg(count(lit(1)).cast(LongType).as("n_lines"),
          sum("amount").cast(DoubleType).as("sum_profit"))
        .orderBy("nation", "o_year")
    },

    // ---- #211 TPC-H Q2 shape: min-cost supplier per part -------------------
    // For each small part (size ≤ 10), the supplier with the lowest
    // realized unit price — the correlated-min-subquery pattern as a
    // window rank on the COLLAPSED (part, supplier) grain: exact decimal
    // price/quantity sums per pair ride one shuffle, one double division
    // each, then row_number ordered by (unit_cost, suppkey) picks the
    // minimum with a deterministic tie-break. Dims join at the winner
    // grain (one row per part). unit_cost ships RAW (one IEEE division of
    // exact decimals is bit-identical on both engines; a round(·,4) here
    // hash-diverged at sf1 — engines disagree within 1 ulp of the .xxxx5
    // boundary, and 40k winner rows hit it ~3 times).
    "q2_min_price_supplier" -> OpDef(
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS unit_cost
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_partkey, l_suppkey, unit_cost,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY unit_cost, l_suppkey) AS rn
        |  FROM ps)
        |SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name,
        |  m.unit_cost
        |FROM m
        |JOIN part p ON m.l_partkey = p.p_partkey AND p.p_size <= 10
        |JOIN supplier s ON m.l_suppkey = s.s_suppkey
        |WHERE m.rn = 1 ORDER BY p.p_partkey""".stripMargin
    ) { (s, dir) =>
      val ps = Tables(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DoubleType) /
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType)).as("unit_cost"))
      // r17: the rn=1 window became a min(struct) agg — struct comparison
      // is lexicographic, so min((unit_cost, suppkey)) IS the window's
      // (unit_cost, l_suppkey) orderBy winner (ties to the lower suppkey;
      // doubles here are never NaN). The agg replaces Sort +
      // WindowGroupLimit + Window with a map-side partial min riding the
      // same exchange — fewer operators, and the partial agg collapses
      // rows before the shuffle at any scale (guide §2.3).
      val m = ps
        .groupBy("l_partkey")
        .agg(min(struct(col("unit_cost"), col("l_suppkey"))).as("w"))
        .select(col("l_partkey"), col("w.l_suppkey").as("l_suppkey"),
          col("w.unit_cost").as("unit_cost"))
      val p = Tables(s, dir, "part")
        .filter(col("p_size") <= 10)
        .select(col("p_partkey"), col("p_brand"))
      val sup = Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      m.join(p, m("l_partkey") === p("p_partkey"))
        .join(sup, m("l_suppkey") === sup("s_suppkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_suppkey"),
          col("s_name"), col("unit_cost"))
        .orderBy("p_partkey")
    },

    // ---- #212 TPC-H Q11 shape: top parts by value share --------------------
    // The 50 parts carrying the most lineitem value, with their share of
    // the grand total — Q11's "important stock" as a top-k (the fixed
    // fraction cut degenerates as parts scale; top-k is the
    // SF-invariant form). Value collapses to the part grain in DECIMAL,
    // the grand total is ONE broadcast row off that same grain (no
    // second fact scan), share = one double division → round(·,6).
    "q11_important_parts" -> OpDef(
      """WITH pv AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT SUM(val) AS total FROM pv)
        |SELECT pv.l_partkey, CAST(pv.val AS DOUBLE) AS part_value,
        |  round(CAST(pv.val AS DOUBLE) / CAST(tot.total AS DOUBLE), 6)
        |    AS value_share
        |FROM pv, tot
        |ORDER BY pv.val DESC, pv.l_partkey LIMIT 50""".stripMargin
    ) { (s, dir) =>
      val pv = Tables(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("val"))
      val tot = pv.agg(sum("val").as("total"))
      pv.crossJoin(broadcast(tot))
        .orderBy(col("val").desc, col("l_partkey"))
        .limit(50)
        .select(col("l_partkey"), col("val").cast(DoubleType).as("part_value"),
          round(col("val").cast(DoubleType)
            / col("total").cast(DoubleType), 6).as("value_share"))
    },

    // ---- #213 TPC-H Q8 shape: national market share ------------------------
    // NATION_2's share of supplier revenue within ASIA-customer orders,
    // per order year — the conditional-ratio star join. Customer-side
    // region filter prunes facts via the dim chain (customer⋈nation⋈
    // region, nation/region broadcast); the supplier side needs only a
    // boolean (nation == target) projected BEFORE the fact join; both
    // revenue sums ride one conditional decimal agg → round(·,4).
    "q8_market_share" -> OpDef(
      """WITH cust_asia AS (
        |  SELECT c.c_custkey
        |  FROM customer c
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN region r ON cn.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'ASIA'),
        |supp_flag AS (
        |  SELECT s.s_suppkey, sn.n_name = 'NATION_2' AS is_target
        |  FROM supplier s JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
        |j AS (
        |  SELECT date_part('year', CAST(o.o_orderdate AS DATE)) AS o_year,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS rev,
        |    sf.is_target
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN cust_asia ca ON o.o_custkey = ca.c_custkey
        |  JOIN supp_flag sf ON l.l_suppkey = sf.s_suppkey)
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  round(CAST(SUM(CASE WHEN is_target THEN rev END) AS DOUBLE)
        |    / CAST(SUM(rev) AS DOUBLE), 4) AS mkt_share
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val n = broadcast(Tables(s, dir, "nation"))
      val r = broadcast(Tables(s, dir, "region")
        .filter(col("r_name") === "ASIA"))
      val custAsia = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppFlag = Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), (col("n_name") === "NATION_2").as("is_target"))
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate").cast(DateType)).cast(LongType).as("o_year"))
        .join(custAsia, col("o_custkey") === col("c_custkey"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).as("rev"))
        .join(suppFlag, col("l_suppkey") === col("s_suppkey"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_year")
        .agg(count(lit(1)).cast(LongType).as("n_lines"),
          round(sum(when(col("is_target"), col("rev"))).cast(DoubleType)
            / sum("rev").cast(DoubleType), 4).as("mkt_share"))
        .orderBy("o_year")
    },

    // ---- #254 open-orders backlog series -----------------------------------
    // Daily count of orders placed but not yet fully shipped — the
    // operations backlog curve. The #93 sweep discipline on the fact
    // side: each order collapses to ONE interval [orderdate, last
    // shipdate] on the orderkey shuffle, intervals become ±1 deltas that
    // AGGREGATE to the calendar-bounded day grain BEFORE the inherently
    // sequential prefix sum — the sweep runs over ≤ days rows, never
    // orders. Pure integers.
    "open_orders_daily" -> OpDef(
      """WITH iv AS (
        |  SELECT o.o_orderkey,
        |    datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
        |      AS lo,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(MAX(l.l_shipdate) AS DATE)) AS hi
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |deltas AS (
        |  SELECT lo AS d, 1 AS x FROM iv
        |  UNION ALL SELECT hi + 1, -1 FROM iv),
        |by_day AS (SELECT d, SUM(x) AS dx FROM deltas GROUP BY d)
        |SELECT strftime(DATE '1970-01-01' + to_days(CAST(d AS INTEGER)),
        |    '%Y-%m-%d') AS day,
        |  CAST(SUM(dx) OVER (ORDER BY d) AS BIGINT) AS n_open
        |FROM by_day ORDER BY d""".stripMargin
    ) { (s, dir) =>
      def dayNum(c: Column) =
        datediff(c.cast(DateType), to_date(lit("1970-01-01")))
      val o = Tables(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"))
      val l = Tables(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_shipdate"))
      val iv = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"), dayNum(col("o_orderdate")).as("lo"))
        .agg(dayNum(max("l_shipdate")).as("hi"))
      val deltas = iv.select(col("lo").as("d"), lit(1).as("x"))
        .unionAll(iv.select((col("hi") + 1).as("d"), lit(-1).as("x")))
      deltas.groupBy("d").agg(sum("x").as("dx"))
        .withColumn("n_open", sum("dx").over(Window.orderBy("d"))
          .cast(LongType))
        .orderBy("d")
        .select(date_format(date_add(to_date(lit("1970-01-01")),
          col("d").cast(IntegerType)), "yyyy-MM-dd").as("day"),
          col("n_open"))
    },

    // ---- #255 supplier reliability with a Wilson lower bound ---------------
    // Worst-50 suppliers by late-shipment rate (> 60 days after order),
    // ranked by the Wilson score LOWER bound — the ranking-under-
    // uncertainty correction that keeps a 1-for-1 supplier from topping a
    // 480-for-500 one. One fact⋈fact join carrying 2 pruned columns,
    // ONE supplier collapse to exact integer (n, late); the Wilson chain
    // is a single identical IEEE expression over those integers (z =
    // 1.96), so ordering by it is engine-identical (suppkey tie-break);
    // top-50 = TakeOrderedAndProject, no global sort.
    "supplier_reliability_ci" -> OpDef(
      """WITH j AS (
        |  SELECT l.l_suppkey AS sk,
        |    CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) > 60 THEN 1 ELSE 0 END AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |g AS (
        |  SELECT sk, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(late) AS BIGINT) AS n_late
        |  FROM j GROUP BY 1),
        |w AS (
        |  SELECT sk, n, n_late,
        |    round(CAST(n_late AS DOUBLE) / n, 4) AS late_rate,
        |    round((CAST(n_late AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
        |      - 1.96 * sqrt((CAST(n_late AS DOUBLE) / n)
        |          * (1 - CAST(n_late AS DOUBLE) / n) / n
        |          + 1.96 * 1.96 / (4.0 * n * n)))
        |      / (1 + 1.96 * 1.96 / n), 4) AS wilson_lb
        |  FROM g)
        |SELECT sk AS l_suppkey, n, n_late, late_rate, wilson_lb
        |FROM w ORDER BY wilson_lb DESC, sk LIMIT 50""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate"))
      val l = Tables(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"), col("l_shipdate"))
      val g = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          when(datediff(col("l_shipdate").cast(DateType),
            col("o_orderdate").cast(DateType)) > 60, 1).otherwise(0)
            .as("late"))
        .groupBy("sk")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum("late").cast(LongType).as("n_late"))
      val p = col("n_late").cast(DoubleType) / col("n")
      val z2 = lit(1.96) * lit(1.96)
      val wilson = (p + z2 / (lit(2) * col("n"))
        - lit(1.96) * sqrt(p * (lit(1) - p) / col("n")
          + z2 / (lit(4.0) * col("n") * col("n"))))
        ./(lit(1) + z2 / col("n"))
      g.select(col("sk").as("l_suppkey"), col("n"), col("n_late"),
          round(p, 4).as("late_rate"), round(wilson, 4).as("wilson_lb"))
        .orderBy(col("wilson_lb").desc, col("l_suppkey"))
        .limit(50)
    },

    // ---- #256 revenue trend by customer segment ----------------------------
    // Revenue and within-year share per (order year, market segment) —
    // the star-join trend read-out. The customer dim projects to 2
    // columns before the join (AQE decides broadcast vs shuffle — the #14
    // scaling rule); totals sum EXACTLY in DECIMAL on the (year, segment)
    // collapse AND through the ≤(years×5)-cell grain window (a DOUBLE
    // window sum would accumulate in engine/partition order — exactness
    // must survive to the single final divide → round(·,4)).
    "segment_revenue_trend" -> OpDef(
      """WITH j AS (
        |  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
        |    c.c_mktsegment AS seg,
        |    CAST(o.o_totalprice AS DECIMAL(18,2)) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |g AS (
        |  SELECT yr, seg, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    SUM(rev) AS revd
        |  FROM j GROUP BY 1, 2)
        |SELECT yr, seg AS c_mktsegment, n_orders,
        |  CAST(revd AS DOUBLE) AS revenue,
        |  round(CAST(revd AS DOUBLE)
        |    / CAST(SUM(revd) OVER (PARTITION BY yr) AS DOUBLE), 4)
        |    AS yr_share
        |FROM g ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "customer").select(col("c_custkey"),
        col("c_mktsegment"))
      val o = Tables(s, dir, "orders").select(col("o_custkey"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("rev"))
      val g = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("yr"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).cast(LongType).as("n_orders"),
          sum("rev").as("revd"))
      g.select(col("yr"), col("seg").as("c_mktsegment"), col("n_orders"),
          col("revd").cast(DoubleType).as("revenue"),
          round(col("revd").cast(DoubleType)
            / sum("revd").over(Window.partitionBy("yr")).cast(DoubleType), 4)
            .as("yr_share"))
        .orderBy("yr", "c_mktsegment")
    }
  )
}
