package graft.ops

import graft.{CapacityPins, OpDef}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import parity._

/** SURVEY §2.2 — the analytic query surface a user of the reference sink
  * runs against the synced store, re-expressed Spark-first.
  *
  * Scale notes are inline per query: every dim join is broadcast, every agg
  * is partial-aggregated map-side by Catalyst, and every output is
  * deterministically ordered (unique tie-break) for oracle hash parity.
  */
object Relational {

  private val ts19980902 = lit("1998-09-02 00:00:00").cast(TimestampType)
  private val ts19980101 = lit("1998-01-01 00:00:00").cast(TimestampType)

  val defs: Map[String, OpDef] = Map(
    // ---- #12 scan → filter → groupBy agg (TPC-H Q1 shape) ----------------
    "q1_agg" -> OpDef(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts19980902) // pushed to parquet scan
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumDec2(col("l_quantity")).as("sum_qty"),
          sumDec2(col("l_extendedprice")).as("sum_base_price"),
          sumDec4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          (sumDec2(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- #13 fact⋈fact⋈dim + top-k (TPC-H Q3 shape) ----------------------
    // customer SCALES with SF (billions of rows at 100 TB) so it gets no
    // broadcast hint — AQE + autoBroadcastJoinThreshold decide at runtime
    // (it still broadcasts at small SF, where it fits). orderBy().limit()
    // plans as TakeOrderedAndProject (no global sort at scale).
    "q3_join_topk" -> OpDef(
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin
    ) { (s, dir) =>
      val cust = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord  = Tables(s, dir, "orders").filter(col("o_orderdate") < ts19980101)
      val li   = Tables(s, dir, "lineitem").filter(col("l_shipdate") > ts19980101)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sumDec4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select(col("o_orderkey"), col("revenue"), to_date(col("o_orderdate")).as("orderdate"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- #14 5-way star join (TPC-H Q5 shape) ----------------------------
    // region/nation are constant-size → explicit broadcast hints;
    // customer/supplier scale with SF, so they carry NO hint — at test SF
    // AQE still broadcasts them (under the size threshold), at 100 TB they
    // become shuffle joins instead of a driver OOM.
    "q5_multi_join" -> OpDef(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin
    ) { (s, dir) =>
      val region = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables(s, dir, "nation")
      val cust   = Tables(s, dir, "customer")
      val supp   = Tables(s, dir, "supplier")
      val ord    = Tables(s, dir, "orders")
      val li     = Tables(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp,
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sumDec4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("n_name")
    },

    // ---- #15 running window aggregate ------------------------------------
    // Single shuffle on user_id; decimal running sum for parity.
    "window_running" -> OpDef(
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |       OVER (PARTITION BY user_id ORDER BY event_id) AS DOUBLE) AS running_value
        |FROM events
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, dir, "events")
        .select(
          col("event_id"), col("user_id"),
          sum(col("value").cast(DecimalType(18, 2))).over(w).cast(DoubleType).as("running_value"))
        .orderBy("event_id")
    },

    // ---- #16 top-k per group (window + filter, no global sort) -----------
    "topk_per_group" -> OpDef(
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) q
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast(LongType).as("rn"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rn")
    },

    // ---- #17 exact distinct aggregation ----------------------------------
    "agg_distinct" -> OpDef(
      """SELECT o_orderstatus,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(*) AS n_orders,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("o_orderstatus")
    },

    // ---- #18 semi + anti join ---------------------------------------------
    "semi_anti_join" -> OpDef(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin
    ) { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      val ord  = Tables(s, dir, "orders")
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
        .join(ord.filter(col("o_orderstatus") === "F"),
          cust("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- #19 ROLLUP grouping sets -----------------------------------------
    "rollup_agg" -> OpDef(
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sumDec2(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast(LongType).as("g_flag"),
          grouping(col("l_linestatus")).cast(LongType).as("g_status"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"), col("g_flag"), col("g_status"))
        .orderBy("returnflag", "linestatus")
    },

    // ---- #20 pivot ----------------------------------------------------------
    // Pivot values are fixed → no extra distinct pass over the data.
    "pivot_events" -> OpDef(
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view')     AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id")
    },

    // ---- #21 as-of join -----------------------------------------------------
    // "Most recent strictly-earlier order of the same customer." Spark has no
    // ASOF JOIN; instead of dedup + lag + join-back (3 shuffles) this is two
    // stacked windows over ONE shuffle on custkey: the per-date max orderkey,
    // then its last value over the strictly-earlier date range (RANGE frame
    // on epoch days, upper bound -1 day). Scales linearly, no join at all.
    // Oracle uses DuckDB's native ASOF JOIN.
    "asof_join" -> OpDef(
      """WITH ord AS (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS okey
        |  FROM orders GROUP BY o_custkey, o_orderdate
        |)
        |SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate, p.okey AS prev_orderkey
        |FROM orders o
        |ASOF LEFT JOIN ord p
        |  ON o.o_custkey = p.o_custkey AND o.o_orderdate > p.o_orderdate
        |ORDER BY o.o_orderkey""".stripMargin
    ) { (s, dir) =>
      // Same partitioning AND ordering for both windows → one shuffle, one
      // sort, a single WindowExec pass. RANGE [0,0] = the current date's
      // peer rows (per-date max); RANGE [-∞,-1] = strictly-earlier dates.
      val byDate = Window.partitionBy("o_custkey").orderBy("dd").rangeBetween(0, 0)
      val asOf = Window.partitionBy("o_custkey").orderBy("dd")
        .rangeBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "orders")
        .withColumn("dd", datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
        .withColumn("date_okey", max("o_orderkey").over(byDate))
        .withColumn("prev_orderkey", last("date_okey").over(asOf))
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("orderdate"),
          col("prev_orderkey"))
        .orderBy("o_orderkey")
    },

    // ---- #22 time-bucketed range aggregation --------------------------------
    "range_group" -> OpDef(
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumDec2(col("value")).as("sum_value"))
        .orderBy("day", "event_type")
    },

    // ---- #23 exact percentiles ----------------------------------------------
    "percentiles" -> OpDef(
      """SELECT event_type,
        |  round(CAST(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value) AS DOUBLE), 4) AS p50,
        |  round(CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS DOUBLE), 4) AS p95
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5D)"), 4).as("p50"),
          round(expr("percentile(value, 0.95D)"), 4).as("p95"))
        .orderBy("event_type")
    },

    // ---- #24 JSON extraction --------------------------------------------------
    "json_extract" -> OpDef(
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
        |       THEN 'even' ELSE 'odd' END AS k_parity
        |FROM events
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      Tables(s, dir, "events")
        .select(
          col("event_id"), k.as("k"),
          when(k % 2 === 0, "even").otherwise("odd").as("k_parity"))
        .orderBy("event_id")
    },

    // ---- #25 string functions ---------------------------------------------------
    "string_ops" -> OpDef(
      """SELECT p_brand,
        |  COUNT(*) AS n_parts,
        |  COUNT(*) FILTER (WHERE p_type IN ('PROMO', 'ECONOMY')) AS n_promo_eco,
        |  MIN(upper(substr(p_name, 1, 8))) AS min_name8,
        |  CAST(SUM(length(p_name)) AS BIGINT) AS total_name_len
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "part")
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_parts"),
          count(when(col("p_type").isin("PROMO", "ECONOMY"), 1)).as("n_promo_eco"),
          min(upper(substring(col("p_name"), 1, 8))).as("min_name8"),
          sum(length(col("p_name"))).cast(LongType).as("total_name_len"))
        .orderBy("p_brand")
    },

    // ---- #26 set operations --------------------------------------------------
    "set_ops" -> OpDef(
      """WITH pos AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0),
        |     ord AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
        |     only_pos AS (SELECT c_custkey FROM pos EXCEPT SELECT c_custkey FROM ord),
        |     both_ AS (SELECT c_custkey FROM pos INTERSECT SELECT c_custkey FROM ord)
        |SELECT c_custkey, src FROM (
        |  SELECT c_custkey, 'no_orders' AS src FROM only_pos
        |  UNION ALL
        |  SELECT c_custkey, 'has_orders' AS src FROM both_) q
        |ORDER BY src, c_custkey""".stripMargin
    ) { (s, dir) =>
      val pos = Tables(s, dir, "customer").filter(col("c_acctbal") > 0).select("c_custkey")
      val ord = Tables(s, dir, "orders").select(col("o_custkey").as("c_custkey")).distinct()
      val onlyPos = pos.except(ord).withColumn("src", lit("no_orders"))
      val both    = pos.intersect(ord).withColumn("src", lit("has_orders"))
      onlyPos.unionAll(both).select("c_custkey", "src").orderBy("src", "c_custkey")
    },

    // ---- #27 skew-safe salted join ---------------------------------------------
    // Same answer as a plain join; the implementation demonstrates the
    // deterministic salting pattern for a skewed fact key: fact side gets a
    // salt from a row-unique column, dim side is replicated SALT times, and
    // the join key becomes (key, salt) — splitting a hot key across SALT
    // reducers. AQE skew-join handles this automatically; this is the
    // explicit form for engines/plans where it can't.
    "skew_join_salted" -> OpDef(
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
    ) { (s, dir) =>
      val salts = 8
      val ev = Tables(s, dir, "events").withColumn("salt", pmod(col("event_id"), lit(salts)))
      val cust = Tables(s, dir, "customer")
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      ev.join(cust, ev("user_id") === cust("c_custkey") && ev("salt") === cust("salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"), sumDec2(col("value")).as("sum_value"))
        .orderBy("c_mktsegment")
    },

    // ---- #28 approximate distinct (HLL) — rows-only (approx is engine-specific)
    "approx_distinct" -> OpDef.rowsOnly { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy("event_type")
    },

    // ---- #45 ordered array aggregation (ClickHouse groupArray surface) ---
    // One shuffle on user_id; the per-group sort happens on the collected
    // array (bounded by the group), not as a global sort.
    "group_array" -> OpDef(
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY event_id) AS types,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(
          // .getField on the struct array = GetArrayStructFields (codegen);
          // a transform() lambda here would run interpreted per group
          concat_ws(",",
            sort_array(collect_list(struct(col("event_id"), col("event_type"))))
              .getField("event_type")).as("types"),
          count(lit(1)).as("n"))
        .orderBy("user_id")
    },

    // ---- #46 argMax (ClickHouse argMax surface) ---------------------------
    // Pure aggregation — no window shuffle; tie-broken by event_id so both
    // engines agree deterministically.
    "arg_max" -> OpDef(
      """SELECT user_id, event_type AS top_type, value AS top_value FROM (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events) q
        |WHERE rn = 1 ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(
          max_by(col("event_type"), struct(col("value"), col("event_id"))).as("top_type"),
          max(struct(col("value"), col("event_id"))).getField("value").as("top_value"))
        .orderBy("user_id")
    },

    // ---- #47 ordered funnel (ClickHouse windowFunnel surface) -------------
    // signup → later purchase per user, as conditional aggregation (one
    // shuffle, no self-join, no window).
    "funnel" -> OpDef(
      """WITH u AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |    MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
        |  FROM events GROUP BY user_id)
        |SELECT
        |  COUNT(*) AS n_users,
        |  COUNT(first_signup) AS n_signup,
        |  COUNT(*) FILTER (WHERE last_purchase > first_signup) AS n_converted
        |FROM u""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
          max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase"))
        .agg(
          count(lit(1)).as("n_users"),
          count(col("first_signup")).as("n_signup"),
          count(when(col("last_purchase") > col("first_signup"), 1)).as("n_converted"))
    },

    // ---- #53 cohort retention (ClickHouse retention surface) --------------
    // Cohort day = the user's first signup day; activity at day offsets
    // 0..7 counted per cohort. The events⋈cohort join keys on user_id —
    // the SAME key the cohort aggregation just shuffled on, so Catalyst
    // reuses the exchange (co-partitioned); only the final (cohort, offset)
    // agg adds a shuffle, whose cardinality is days×8.
    "retention" -> OpDef(
      """WITH cohort AS (
        |  SELECT user_id,
        |    CAST(MIN(CASE WHEN event_type = 'signup' THEN ts END) AS DATE) AS d0
        |  FROM events GROUP BY user_id),
        |act AS (
        |  SELECT e.user_id, c.d0, date_diff('day', c.d0, CAST(e.ts AS DATE)) AS off
        |  FROM events e JOIN cohort c ON e.user_id = c.user_id
        |  WHERE c.d0 IS NOT NULL)
        |SELECT d0 AS cohort_day, off AS day_offset,
        |  COUNT(DISTINCT user_id) AS n_active
        |FROM act WHERE off BETWEEN 0 AND 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val cohort = ev.groupBy("user_id")
        .agg(to_date(min(when(col("event_type") === "signup", col("ts")))).as("d0"))
        .filter(col("d0").isNotNull)
      ev.select(col("user_id"), to_date(col("ts")).as("d"))
        .join(cohort, "user_id")
        .withColumn("day_offset", datediff(col("d"), col("d0")).cast(LongType))
        .filter(col("day_offset").between(0, 7))
        .groupBy(col("d0").as("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_day", "day_offset")
    },

    // ---- #54 ordered sequence match (ClickHouse sequenceMatch surface) ----
    // signup → later click → later purchase, per user, via THREE stacked
    // running-min windows over ONE shuffle on user_id (same partitioning
    // and ordering ⇒ a single WindowExec pass; no self-joins, no state
    // blowup). Strict time order; (ts, event_id) breaks ties identically
    // in both engines.
    "seq_match" -> OpDef(
      """WITH w1 AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER w AS t_signup
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |w2 AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'click' AND ts > t_signup THEN ts END)
        |      OVER w AS t_click
        |  FROM w1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' AND ts > t_click
        |             THEN 1 ELSE 0 END) AS hit
        |  FROM w2 GROUP BY user_id)
        |SELECT COUNT(*) AS n_users, CAST(SUM(hit) AS BIGINT) AS n_matched
        |FROM m""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .withColumn("t_signup",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_signup"),
            col("ts"))).over(w))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("ts") > col("t_click"), 1)
          .otherwise(0)).as("hit"))
        .agg(count(lit(1)).as("n_users"), sum("hit").cast(LongType).as("n_matched"))
    },

    // ---- #56 heavy hitters (ClickHouse topK surface) ----------------------
    // Space-saving aggregate ([[graft.functions.TopKAgg]]): O(capacity)
    // memory per group at any scale. capacity = CapacityPins.TopKCap ≥ the
    // distinct users per type at every LOCAL SF including the sf1/sf3/sf10
    // probes (45,000 users/type at sf3; 1024 silently left the exact
    // regime at sf0.1 in r5, 16384 at sf3 in r10 — now pinned permanently
    // by graft.CapacityPins / CapacityRegimeSpec, sharing the constant
    // with every call site), so space-saving is EXACT and the oracle can
    // pin the result while the same plan caps memory on a 100 TB corpus.
    // Ties break by (count desc, value asc) — binary string order, both
    // engines. Output is the rank-ordered list joined with "," (the
    // group_array pattern): scalar strings hash identically in every
    // comparator, where raw arrays do not.
    "topk_approx" -> OpDef(
      """WITH c AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS u, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, u,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY cnt DESC, u) AS rn
        |  FROM c)
        |SELECT event_type, string_agg(u, ',' ORDER BY rn) AS top_users
        |FROM r WHERE rn <= 5
        |GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(concat_ws(",", call_function("topk_approx",
          col("user_id").cast(StringType), lit(5), lit(CapacityPins.TopKCap))).as("top_users"))
        .orderBy("event_type")
    },

    // ---- #86 topK -State/-Merge re-aggregation (CH topKState/topKMerge) ---
    // The store-partials-merge-later pattern with the CUSTOM sketch (the
    // bank already proves it for HLL in #57 with Spark's native pair):
    // fine-grain (type, day) `topk_state` binary cells — what a rollup
    // table would persist — re-aggregate per type via `topk_merge` WITHOUT
    // rescanning events. Same wire format + conservative union as the
    // in-query shuffle partials, so in the exact regime the two-level
    // result is bit-identical to one-pass topK and the #56 oracle pins it.
    "topk_reagg" -> OpDef(
      """WITH c AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS u, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, u,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY cnt DESC, u) AS rn
        |  FROM c)
        |SELECT event_type, string_agg(u, ',' ORDER BY rn) AS top_users
        |FROM r WHERE rn <= 5
        |GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val cells = Tables(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(call_function("topk_state",
          col("user_id").cast(StringType), lit(CapacityPins.TopKCap)).as("st"))
      cells
        .groupBy("event_type")
        .agg(concat_ws(",", call_function("topk_merge",
          col("st"), lit(5), lit(CapacityPins.TopKCap))).as("top_users"))
        .orderBy("event_type")
    },

    // ---- #87 per-group running-sum array (CH groupArrayMovingSum) ---------
    // The window shares ONE user_id shuffle with the collapse; the ordered
    // array materializes via the codegen group_array pattern (sort_array on
    // (event_id, run) structs + GetArrayStructFields — no lambda HOF), and
    // joins with "," for a scalar-hashable cell. Integer running sums
    // (floor → BIGINT) render identically in both engines.
    "group_array_moving_sum" -> OpDef(
      """WITH r AS (
        |  SELECT user_id, event_id,
        |    SUM(CAST(FLOOR(value) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY event_id) AS run
        |  FROM events)
        |SELECT user_id, string_agg(CAST(run AS VARCHAR), ',' ORDER BY event_id) AS moving_sum
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          sum(floor(col("value")).cast(LongType)).over(w).as("run"))
        .groupBy("user_id")
        .agg(concat_ws(",",
          sort_array(collect_list(struct(col("event_id"), col("run"))))
            .getField("run").cast(ArrayType(StringType))).as("moving_sum"))
        .orderBy("user_id")
    },

    // ---- #88 bounded-memory modal value (CH anyHeavy) ---------------------
    // The space-saving state at k=1: O(capacity) memory per group returns
    // the heaviest value (deterministic ties: count desc, value asc as
    // STRINGS — the #56 convention both engines share). Exact regime at
    // every local SF via the same capacity pin as topK.
    "any_heavy" -> OpDef(
      """WITH c AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS u, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, u, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY cnt DESC, u) AS rn
        |  FROM c)
        |SELECT event_type, u AS heavy_user FROM r WHERE rn = 1
        |ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(element_at(call_function("topk_approx",
          col("user_id").cast(StringType), lit(1), lit(CapacityPins.TopKCap)), 1)
          .as("heavy_user"))
        .orderBy("event_type")
    },

    // ---- #57 mergeable HLL sketch column (ClickHouse uniqCombined surface)
    // Datasketches HLL via Spark's native hll_sketch_agg: per-type sketch
    // BYTES are the aggregation state (re-aggregable at coarser grain
    // without rescanning — the uniqCombinedState/-Merge pattern), union-
    // merged into the __all__ roll-up row. Rows-only: estimates are
    // algorithm-specific; the spec pins accuracy and exact merge identity.
    "uniq_hll" -> OpDef.rowsOnly { (s, dir) =>
      val sk = Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val per = sk.select(col("event_type"), hll_sketch_estimate(col("sk")).as("uniq_users"))
      val all = sk.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("uniq_users"))
        .select(lit("__all__").as("event_type"), col("uniq_users"))
      per.unionByName(all).orderBy("event_type")
    },

    // ---- #58 mergeable approximate quantiles (CH quantileTDigest surface)
    // percentile_approx is Spark's mergeable quantile sketch (GK-style):
    // bounded memory per group at any scale, partials merge map-side —
    // unlike exact percentile_cont (#23), which buffers the group. Rows-only
    // (sketch values are engine-specific); the spec pins rank-error bounds
    // against the exact distribution.
    "quantiles_approx" -> OpDef.rowsOnly { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(percentile_approx(col("value"),
          array(lit(0.5), lit(0.95), lit(0.99)), lit(1000)).as("q"))
        .select(col("event_type"),
          col("q")(0).as("p50"), col("q")(1).as("p95"), col("q")(2).as("p99"))
        .orderBy("event_type")
    },

    // ---- #59 argMin (CH argMin — the #46 mirror) --------------------------
    "arg_min" -> OpDef(
      """SELECT user_id, event_type AS bottom_type, value AS bottom_value FROM (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value ASC, event_id ASC) AS rn
        |  FROM events) q
        |WHERE rn = 1 ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(
          min_by(col("event_type"), struct(col("value"), col("event_id"))).as("bottom_type"),
          min(struct(col("value"), col("event_id"))).getField("value").as("bottom_value"))
        .orderBy("user_id")
    },

    // ---- #60 bitwise aggregates (CH groupBitAnd/Or/Xor) -------------------
    // Pure partial-mergeable aggregates: one shuffle of 3 longs per group.
    "group_bit_agg" -> OpDef(
      """SELECT event_type,
        |  bit_and(user_id) AS b_and,
        |  bit_or(user_id) AS b_or,
        |  bit_xor(user_id) AS b_xor
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          bit_and(col("user_id")).as("b_and"),
          bit_or(col("user_id")).as("b_or"),
          bit_xor(col("user_id")).as("b_xor"))
        .orderBy("event_type")
    },

    // ---- #61 weighted heavy hitters (CH topKWeighted) ---------------------
    // Same space-saving aggregate as #56 with per-row weights (floor(value)
    // — integral on both engines, so exact-capacity runs hash-match).
    "topk_weighted" -> OpDef(
      """WITH c AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
        |    SUM(CAST(floor(value) AS BIGINT)) AS w
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, u,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY w DESC, u) AS rn
        |  FROM c)
        |SELECT event_type, string_agg(u, ',' ORDER BY rn) AS top_users
        |FROM r WHERE rn <= 5
        |GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(concat_ws(",", call_function("topk_weighted",
          col("user_id").cast(StringType), floor(col("value")).cast(LongType),
          lit(5), lit(CapacityPins.TopKCap))).as("top_users"))
        .orderBy("event_type")
    },

    // ---- #64 per-key map aggregation (CH sumMap) --------------------------
    // The map-state merge as two levels: a partial-mergeable (group, key)
    // decimal sum — map-side combine does the heavy lifting — then an
    // O(keys)-per-group collect into the ([keys], [sums]) shape CH returns.
    // Never a map-typed shuffle: the per-key sums ride the first shuffle as
    // scalar rows. Both parallel arrays are emitted ","-joined (keys as-is,
    // sums in DECIMAL(18,2)'s fixed 2-dp rendering — identical in Spark and
    // DuckDB) so the result is scalar-hashable by any comparator.
    "sum_map" -> OpDef(
      """WITH per AS (
        |  SELECT user_id, event_type,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY event_type) AS map_keys,
        |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY event_type) AS map_sums
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val per = Tables(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("v"))
      per.groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("event_type"), col("v")))).as("kv"))
        // array-of-struct field access (GetArrayStructFields) + array cast:
        // both codegen'd, unlike transform() lambdas
        .select(col("user_id"),
          concat_ws(",", col("kv.event_type")).as("map_keys"),
          concat_ws(",", col("kv.v").cast(ArrayType(StringType))).as("map_sums"))
        .orderBy("user_id")
    },

    // ---- #67 windowed funnel levels (CH windowFunnel surface) -------------
    // Max step reached per user through signup → click → purchase with the
    // chain anchored at the user's FIRST signup and every later step bounded
    // by that anchor + 7 days (the deterministic anchored variant of CH's
    // windowFunnel; documented difference: CH scans every candidate chain).
    // Plan: ONE shuffle on user_id — the three chained window passes and the
    // per-user collapse all reuse the same hash partitioning — then a 4-row
    // level count.
    "funnel_window" -> OpDef(
      """WITH t AS (
        |  SELECT user_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM events),
        |tt AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1
        |                      AND ts <= t1 + INTERVAL 7 DAY THEN ts END)
        |             OVER (PARTITION BY user_id) AS t2 FROM t),
        |ttt AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2
        |                      AND ts <= t1 + INTERVAL 7 DAY THEN ts END)
        |             OVER (PARTITION BY user_id) AS t3 FROM tt),
        |u AS (SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
        |      FROM ttt GROUP BY user_id)
        |SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS level,
        |  COUNT(*) AS n_users
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id")
      val horizon = col("t1") + expr("INTERVAL 7 DAY")
      Tables(s, dir, "events")
        .withColumn("t1",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" &&
            col("ts") > col("t1") && col("ts") <= horizon, col("ts"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" &&
            col("ts") > col("t2") && col("ts") <= horizon, col("ts"))).over(w))
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .select(
          when(col("t3").isNotNull, 3)
            .when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1)
            .otherwise(0).as("level"))
        .groupBy("level").agg(count(lit(1)).as("n_users"))
        .orderBy("level")
    },

    // ---- #71 range join: daily active users (point-in-interval) -----------
    // Each user's activity interval [first day, last day] joined against the
    // distinct-day series via [[RangeJoin.pointInInterval]] (bucketed
    // equi-join rewrite, width 16 days) — never a nested-loop; the plan pin
    // asserts no cartesian/BNLJ node appears.
    "range_join" -> OpDef(
      """WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events),
        |iv AS (
        |  SELECT user_id, date_trunc('day', MIN(ts)) AS lo,
        |    date_trunc('day', MAX(ts)) AS hi
        |  FROM events GROUP BY 1)
        |SELECT strftime(d, '%Y-%m-%d') AS day, COUNT(*) AS n_active
        |FROM days JOIN iv ON d BETWEEN lo AND hi
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      def dayNum(c: org.apache.spark.sql.Column) =
        datediff(c.cast(DateType), to_date(lit("1970-01-01")))
      val ev = Tables(s, dir, "events")
      val days = ev.select(dayNum(col("ts")).as("p")).distinct()
      val iv = ev.groupBy("user_id")
        .agg(dayNum(min("ts")).as("lo"), dayNum(max("ts")).as("hi"))
      RangeJoin.pointInInterval(days, "p", iv, "lo", "hi", width = 16L)
        .groupBy("p").agg(count(lit(1)).as("n_active"))
        .select(
          date_format(date_add(to_date(lit("1970-01-01")), col("p")), "yyyy-MM-dd")
            .as("day"),
          col("n_active"))
        .orderBy("day")
    },

    // ---- #72 interval-overlap join: concurrent-activity pairs -------------
    // Users whose activity intervals overlap, counted — the interval ×
    // interval variant of #71, same bucketed rewrite on BOTH sides
    // ([[RangeJoin.intervalOverlap]]).
    "interval_overlap" -> OpDef(
      """WITH iv AS (
        |  SELECT user_id, date_trunc('day', MIN(ts)) AS lo,
        |    date_trunc('day', MAX(ts)) AS hi
        |  FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_pairs
        |FROM iv a JOIN iv b
        |  ON a.lo <= b.hi AND b.lo <= a.hi AND a.user_id < b.user_id""".stripMargin
    ) { (s, dir) =>
      def dayNum(c: org.apache.spark.sql.Column) =
        datediff(c.cast(DateType), to_date(lit("1970-01-01")))
      val iv = Tables(s, dir, "events").groupBy("user_id")
        .agg(dayNum(min("ts")).as("lo"), dayNum(max("ts")).as("hi"))
      val a = iv.select(col("user_id").as("ua"),
        col("lo").as("lo_a"), col("hi").as("hi_a"))
      val b = iv.select(col("user_id").as("ub"),
        col("lo").as("lo_b"), col("hi").as("hi_b"))
      RangeJoin.intervalOverlap(a, "lo_a", "hi_a", b, "lo_b", "hi_b", width = 16L)
        .filter(col("ua") < col("ub"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // ---- #233 overlap-pair COUNT without the pair join ---------------------
    // The same n_pairs as #72, computed WITHOUT enumerating pairs:
    // overlapping = C(n,2) − disjoint, and a disjoint pair has exactly one
    // strict before/after orientation, so disjoint = Σ_b |{a : hi_a <
    // lo_b}| — a prefix-sum over the CALENDAR-DAY grain (the ts_fill /
    // max_intersections discipline) joined back per interval. O(n + days)
    // at any scale where #72's bucket join is Θ(output): the sf3 probe
    // measured #72 at 62 s on ~10⁹ dense-window pairs; this shape counts
    // them in sub-second. The oracle is the NAIVE inequality join — a
    // fully independent derivation of the same number.
    "interval_overlap_count" -> OpDef(
      """WITH iv AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(date_trunc('day', MIN(ts)) AS DATE)) AS lo,
        |    datediff('day', DATE '1970-01-01',
        |      CAST(date_trunc('day', MAX(ts)) AS DATE)) AS hi
        |  FROM events GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM iv a JOIN iv b
        |  ON a.lo <= b.hi AND b.lo <= a.hi AND a.user_id < b.user_id""".stripMargin
    ) { (s, dir) =>
      def dayNum(c: Column) =
        datediff(c.cast(DateType), to_date(lit("1970-01-01"))).cast(LongType)
      val iv = Tables(s, dir, "events").groupBy("user_id")
        .agg(dayNum(min("ts")).as("lo"), dayNum(max("ts")).as("hi"))
      // ends-per-day over the bounded calendar grid, prefix-summed so
      // cum_before(d) = #intervals with hi < d; the grid is a broadcast
      val ends = iv.groupBy("hi").agg(count(lit(1)).as("ch"))
      val span = iv.agg(min("lo").as("dmin"), max("hi").as("dmax"),
        count(lit(1)).as("n"))
      val grid = span.select(explode(sequence(col("dmin"), col("dmax")))
          .as("day"), col("n"))
        .join(ends, col("day") === col("hi"), "left_outer")
        .select(col("day"), col("n"), coalesce(col("ch"), lit(0L)).as("ch"))
        .withColumn("cum_le",
          sum("ch").over(Window.partitionBy().orderBy("day")))
        // strict before: ends up to and including day-1
        .withColumn("cum_before", col("cum_le") - col("ch"))
        .select(col("day"), col("n"), col("cum_before"))
      val disjoint = iv.join(broadcast(grid), col("lo") === col("day"))
        .agg(sum("cum_before").as("disjoint"), max("n").as("n"))
      disjoint.select(
        (col("n") * (col("n") - 1) / 2 - col("disjoint"))
          .cast(LongType).as("n_pairs"))
    },

    // ---- #70 positive-delta sum (CH deltaSum) -----------------------------
    // Per-user sum of INCREASES between consecutive values in (ts, event_id)
    // order — the counter-reset-tolerant rate primitive. One user_id shuffle
    // (lag window + collapse reuse it); deltas exact in decimal(18,2).
    "delta_sum" -> OpDef(
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(value AS DECIMAL(18,2))
        |      - lag(CAST(value AS DECIMAL(18,2)))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dv
        |  FROM events)
        |SELECT user_id,
        |  CAST(COALESCE(SUM(CASE WHEN dv > 0 THEN dv END), 0) AS DOUBLE)
        |    AS delta_sum
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val dec = col("value").cast(DecimalType(18, 2))
      Tables(s, dir, "events")
        .withColumn("dv", dec - lag(dec, 1).over(w))
        .groupBy("user_id")
        .agg(coalesce(sum(when(col("dv") > 0, col("dv"))), lit(0))
          .cast(DoubleType).as("delta_sum"))
        .orderBy("user_id")
    },

    // ---- #68 equi-width histogram w/ data-derived bounds (CH histogram) ---
    // Data profiling at scale: a column-pruned bounds pass (5 rows,
    // broadcast) then one binning scan — bin arithmetic is the same IEEE
    // double expression on both engines, top edge clamped into the last
    // bin, degenerate (lo = hi) groups collapse to bin 0.
    "histogram_eq" -> OpDef(
      """WITH b AS (
        |  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_type,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE CAST(LEAST(floor(((value - lo) * 10.0) / (hi - lo)), 9.0)
        |                 AS INTEGER) END AS bin,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN b USING (event_type)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val bounds = ev.groupBy("event_type")
        .agg(min("value").as("lo"), max("value").as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .withColumn("bin",
          when(col("hi") === col("lo"), 0)
            .otherwise(least(
              floor(((col("value") - col("lo")) * 10.0) / (col("hi") - col("lo"))),
              lit(9.0)).cast(IntegerType)))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), sumDec2(col("value")).as("sum_value"))
        .orderBy("event_type", "bin")
    },

    // ---- #65 deterministic key-sampling (CH SAMPLE BY surface) ------------
    // CH samples by a hash of the sampling key so a row's inclusion is
    // stable across queries and ALL rows of a sampled key appear together.
    // Same here: a cross-engine md5-derived 60-bit hash ([[parity.md5Long]])
    // mod the sampling denominator — a pure codegen'd per-row filter that
    // rides the scan (no shuffle, no state), then aggregates scale up by the
    // denominator. At 100 TB this is the "query 1/10th of the lake,
    // consistently" knob.
    "sample_hash" -> OpDef(
      s"""SELECT event_type,
         |  COUNT(*) AS n_sampled,
         |  COUNT(*) * 10 AS n_est,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events
         |WHERE ${parity.md5LongSql("CAST(user_id AS VARCHAR)")} % 10 = 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .filter(md5Long(col("user_id").cast(StringType)) % 10 === 0)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_sampled"),
          (count(lit(1)) * 10).as("n_est"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },

    // ---- #85 conditional aggregates (the CH -If combinator family) --------
    // countIf / sumIf / avgIf / maxIf / uniqIf as predicate-gated aggregates
    // in ONE pass — Spark's count_if + FILTER-style conditional aggs compile
    // to the same partial-mergeable hash agg as their unconditional twins
    // (no second scan, no join). Decimal-exact conditional sum for float
    // parity; avgIf NULL on empty predicate groups in both engines.
    "agg_if" -> OpDef(
      """SELECT event_type,
        |  COUNT(*) FILTER (WHERE value > 5.0) AS n_big,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE value > 5.0)
        |       AS DOUBLE) AS sum_big,
        |  round(AVG(value) FILTER (WHERE event_type <> 'error'), 4) AS avg_ok,
        |  MAX(value) FILTER (WHERE user_id % 2 = 0) AS max_even_user,
        |  COUNT(DISTINCT user_id) FILTER (WHERE value > 5.0) AS uniq_big
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val big = col("value") > 5.0
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count_if(big).as("n_big"),
          sum(when(big, col("value")).cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_big"),
          round(avg(when(col("event_type") =!= "error", col("value"))), 4)
            .as("avg_ok"),
          max(when(col("user_id") % 2 === 0, col("value"))).as("max_even_user"),
          countDistinct(when(big, col("user_id"))).as("uniq_big"))
        .orderBy("event_type")
    },

    // ---- #79 non-overlapping sequence count (CH sequenceCount surface) ----
    // sequenceCount('(?1).*(?2).*(?3)') = greedy non-overlapping state-machine
    // matches of signup→click→purchase per user. One shuffle on user_id; the
    // per-user ordered event-letter string is built by a single sorted
    // collect (state bounded by one user's history, exactly the per-group
    // buffer CH's sequenceCount keeps), then counted with regexp_count —
    // leftmost-lazy `s.*?c.*?p` scanning is precisely the greedy automaton:
    // first match anchors at the first viable s and closes at the earliest
    // p after the earliest c, then scanning resumes past the match.
    "sequence_count" -> OpDef(
      """WITH m AS (
        |  SELECT user_id, ts, event_id,
        |    CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
        |                    WHEN 'purchase' THEN 'p' ELSE 'x' END AS ch
        |  FROM events),
        |s AS (
        |  SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS str
        |  FROM m GROUP BY user_id)
        |SELECT user_id,
        |  CAST(len(regexp_extract_all(str, 's.*?c.*?p')) AS BIGINT) AS n_seq
        |FROM s ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .select(col("user_id"), struct(col("ts"), col("event_id"),
          when(col("event_type") === "signup", "s")
            .when(col("event_type") === "click", "c")
            .when(col("event_type") === "purchase", "p")
            .otherwise("x").as("ch")).as("e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("user_id"),
          // GetArrayStructFields, not a transform() lambda — stays codegen
          regexp_count(
            concat_ws("", col("es").getField("ch")),
            lit("s.*?c.*?p")).cast(LongType).as("n_seq"))
        .orderBy("user_id")
    },

    // ---- #80 capped distinct count (CH uniqUpTo(N) surface) ---------------
    // [[graft.functions.UniqUpToAgg]]: exact while ≤ N, sentinel N+1 after —
    // with the tracked set FREED at overflow, so per-group state is
    // O(min(distinct, N)) and partials merge map-side. Both regimes
    // exercised: n=10 overflows for every event_type at every SF, n=10^6
    // stays exact — so the oracle (min(count distinct, N+1)) pins both the
    // overflow sentinel and the exact path byte-for-byte.
    "uniq_upto" -> OpDef(
      """SELECT event_type,
        |  CASE WHEN COUNT(DISTINCT user_id) > 10 THEN 11
        |       ELSE COUNT(DISTINCT user_id) END AS uniq_capped,
        |  CASE WHEN COUNT(DISTINCT user_id) > 1000000 THEN 1000001
        |       ELSE COUNT(DISTINCT user_id) END AS uniq_wide
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          call_function("uniq_upto",
            col("user_id").cast(StringType), lit(10)).as("uniq_capped"),
          call_function("uniq_upto",
            col("user_id").cast(StringType), lit(1000000)).as("uniq_wide"))
        .orderBy("event_type")
    },

    // ---- #91 uniqUpTo -State/-Merge re-aggregation ------------------------
    // The [[#86 topk_reagg]] pattern for the EXACT capped distinct: (type,
    // day) `uniq_upto_state` binary cells union per type via
    // `uniq_upto_merge` — set union of exact sets is exact and overflow is
    // sticky, so BOTH regimes re-aggregate to exactly the one-pass answer
    // and the #80 oracle pins them (same capacity-proof CASE caps).
    "uniq_reagg" -> OpDef(
      """SELECT event_type,
        |  CASE WHEN COUNT(DISTINCT user_id) > 10 THEN 11
        |       ELSE COUNT(DISTINCT user_id) END AS uniq_capped,
        |  CASE WHEN COUNT(DISTINCT user_id) > 1000000 THEN 1000001
        |       ELSE COUNT(DISTINCT user_id) END AS uniq_wide
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val cells = Tables(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(
          call_function("uniq_upto_state",
            col("user_id").cast(StringType), lit(10)).as("st_capped"),
          call_function("uniq_upto_state",
            col("user_id").cast(StringType), lit(1000000)).as("st_wide"))
      cells
        .groupBy("event_type")
        .agg(
          call_function("uniq_upto_merge", col("st_capped"), lit(10)).as("uniq_capped"),
          call_function("uniq_upto_merge", col("st_wide"), lit(1000000)).as("uniq_wide"))
        .orderBy("event_type")
    },

    // ---- #81 exact weighted quantiles (CH quantileExactWeighted surface) --
    // Smallest value whose cumulative weight reaches p·total — CH's exact
    // weighted definition. Pre-aggregating to (group, value) first bounds
    // the per-group sort to DISTINCT values (the only inherent cost of an
    // exact quantile), then one window pass computes every level. Threshold
    // tests use cross-multiplied integer weights (cum·4 ≥ 3·tot), never
    // p·total floating-point — no boundary drift between engines.
    "quantiles_exact_weighted" -> OpDef(
      """WITH w AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS wt
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v,
        |    SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |    SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM w)
        |SELECT l_returnflag,
        |  MIN(v) FILTER (WHERE cum * 4 >= tot) AS p25,
        |  MIN(v) FILTER (WHERE cum * 2 >= tot) AS p50,
        |  MIN(v) FILTER (WHERE cum * 4 >= 3 * tot) AS p75,
        |  MIN(v) FILTER (WHERE cum * 10 >= 9 * tot) AS p90
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    ) { (s, dir) =>
      // floor() before the long cast on BOTH engines: Spark's double→long
      // truncates toward zero, DuckDB's rounds half-to-even — floor makes
      // fractional quantities agree (the topk_weighted convention)
      //
      // Cumulative weights via the rfm_segments bucketed two-level prefix
      // (r11): the price grain is ≈ one row per distinct extendedprice —
      // NOT domain-bounded — so a per-flag window over it funnels the
      // whole grain through |flags| tasks (10 s of the sf1 sweep was this
      // op). Bucket into 8192-cent ranges: the only per-flag-sequential
      // window runs on the BUCKET grain (price-range/$81.92 rows,
      // domain-bounded, CapacityPin-audited), and the within-bucket prefix
      // is partitioned by (flag, bucket) with ≤ 8192 distinct cent values
      // per partition BY CONSTRUCTION. (v*100).cast(long) is monotone in
      // v, which is all bucketing needs — boundary truncation slack moves
      // a value between adjacent buckets, never out of order.
      //
      // r11b: the window runs over RAW detail rows with a RANGE frame (all
      // ties of v fold into the same cumulative — the distinct-value cum is
      // read off any tied row). The earlier (flag, v) pre-agg collapsed
      // nothing (extendedprice is near-unique) yet its exchange was paid
      // TWICE (bt branch + detail branch recompute); detail-windowing pays
      // ONE fact-sized exchange. Sub-bucket skew cannot exceed the ≤8192
      // distinct cents per bucket times the per-value tie mass — the same
      // bound the pre-agg form had after its join-back.
      val detail = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("v"),
          floor(col("l_quantity")).cast(LongType).as("wt"))
        .withColumn("bk", expr("CAST(v * 100 AS BIGINT) div 8192"))
      val byFlag = Window.partitionBy("l_returnflag")
      val bt = detail.groupBy(col("l_returnflag"), col("bk"))
        .agg(sum("wt").as("bcnt"))
        .withColumn("boff",
          sum("bcnt").over(byFlag.orderBy("bk")) - col("bcnt"))
        .withColumn("tot", sum("bcnt").over(byFlag))
        .select("l_returnflag", "bk", "boff", "tot")
      detail.join(broadcast(bt), Seq("l_returnflag", "bk"))
        .withColumn("cum", col("boff") +
          sum("wt").over(Window.partitionBy("l_returnflag", "bk").orderBy("v")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("l_returnflag")
        .agg(
          min(when(col("cum") * 4 >= col("tot"), col("v"))).as("p25"),
          min(when(col("cum") * 2 >= col("tot"), col("v"))).as("p50"),
          min(when(col("cum") * 4 >= col("tot") * 3, col("v"))).as("p75"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("v"))).as("p90"))
        .orderBy("l_returnflag")
    },

    // ---- #93 max concurrent intervals (CH maxIntersections surface) -------
    // Sweep line over per-user activity intervals [first day, last day]:
    // +1 at lo, -1 at hi+1, prefix sum, global max + FIRST day reaching it
    // (the maxIntersectionsPosition twin). Scale shape: deltas AGGREGATE to
    // the day grain first (one shuffle, cardinality ≤ 2·|days|), so the
    // inherently-sequential prefix sum runs over the bounded day series, not
    // the interval set — the only correct way to sweep at 100 TB.
    "max_intersections" -> OpDef(
      """WITH iv AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(MIN(ts) AS DATE)) AS lo,
        |    datediff('day', DATE '1970-01-01', CAST(MAX(ts) AS DATE)) AS hi
        |  FROM events GROUP BY 1),
        |deltas AS (
        |  SELECT lo AS d, 1 AS x FROM iv
        |  UNION ALL SELECT hi + 1, -1 FROM iv),
        |by_day AS (SELECT d, SUM(x) AS dx FROM deltas GROUP BY d),
        |run AS (
        |  SELECT d, SUM(dx) OVER (ORDER BY d) AS n_open FROM by_day)
        |SELECT CAST(n_open AS BIGINT) AS max_concurrent,
        |  strftime(DATE '1970-01-01' + to_days(CAST(d AS INTEGER)), '%Y-%m-%d') AS at_day
        |FROM run ORDER BY n_open DESC, d LIMIT 1""".stripMargin
    ) { (s, dir) =>
      def dayNum(c: org.apache.spark.sql.Column) =
        datediff(c.cast(DateType), to_date(lit("1970-01-01")))
      val iv = Tables(s, dir, "events").groupBy("user_id")
        .agg(dayNum(min("ts")).as("lo"), dayNum(max("ts")).as("hi"))
      val deltas = iv.select(col("lo").as("d"), lit(1).as("x"))
        .unionAll(iv.select((col("hi") + 1).as("d"), lit(-1).as("x")))
      deltas.groupBy("d").agg(sum("x").as("dx"))
        .withColumn("n_open",
          sum("dx").over(Window.orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("n_open").cast(LongType).as("max_concurrent"),
          date_format(date_add(to_date(lit("1970-01-01")), col("d")), "yyyy-MM-dd")
            .as("at_day"), col("d"), col("n_open"))
        .orderBy(col("n_open").desc, col("d"))
        .limit(1)
        .select("max_concurrent", "at_day")
    },

    // ---- #94 correlation / regression over exact moments ------------------
    // CH corr/simpleLinearRegression surface: Pearson r + least-squares
    // slope/intercept of value vs the JSON prop k, per event_type. Built
    // from the five EXACT decimal moments (Σx Σy Σxy Σx² Σy² — map-side
    // partial-mergeable, one shuffle of 6 scalars per group), then ONE
    // identical IEEE double formula on both engines — every operation on
    // identical operands, so the result is bit-identical without rounding.
    // The built-in corr() is the float-accumulation shape that can NOT
    // hash-match across engines; moments are the portable (and at 100 TB,
    // the cheaper single-pass) form.
    "corr_moments" -> OpDef(
      """WITH m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(json_extract_string(props, 'k') AS BIGINT)) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))
        |             * CAST(json_extract_string(props, 'k') AS BIGINT)) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(json_extract_string(props, 'k') AS BIGINT)
        |             * CAST(json_extract_string(props, 'k') AS BIGINT)) AS DOUBLE) AS syy
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  (n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_xy,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
        |FROM m ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val x = col("value").cast(DecimalType(18, 2))
      val y = get_json_object(col("props"), "$.k").cast(LongType)
      val m = Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(x).cast(DoubleType).as("sx"),
          sum(y).cast(DoubleType).as("sy"),
          sum(x * y).cast(DoubleType).as("sxy"),
          sum(x * x).cast(DoubleType).as("sxx"),
          sum(y * y).cast(DoubleType).as("syy"))
      val n = col("n"); val sx = col("sx"); val sy = col("sy")
      val cov = n * col("sxy") - sx * sy
      val slope = cov / (n * col("sxx") - sx * sx)
      m.select(col("event_type"), n.cast(LongType).as("n"),
          (cov / (sqrt(n * col("sxx") - sx * sx) * sqrt(n * col("syy") - sy * sy)))
            .as("corr_xy"),
          slope.as("slope"),
          ((sy - slope * sx) / n).as("intercept"))
        .orderBy("event_type")
    },

    // ---- #95 weighted average + bounding ratio (CH avgWeighted /
    // boundingRatio surface) ------------------------------------------------
    // avgWeighted(value, k) = Σ(v·k)/Σk and boundingRatio = Δmax/Δmin slope
    // of the (k, value) point cloud per event_type — both from exact decimal
    // aggregates with ONE final double division each (bit-identical across
    // engines). Single hash-agg pass, 5 scalars per group on the shuffle.
    "weighted_stats" -> OpDef(
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))
        |             * CAST(json_extract_string(props, 'k') AS BIGINT)) AS DOUBLE) AS svw,
        |    CAST(SUM(CAST(json_extract_string(props, 'k') AS BIGINT)) AS DOUBLE) AS sw,
        |    CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vmax,
        |    CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vmin,
        |    CAST(MAX(CAST(json_extract_string(props, 'k') AS BIGINT)) AS DOUBLE) AS kmax,
        |    CAST(MIN(CAST(json_extract_string(props, 'k') AS BIGINT)) AS DOUBLE) AS kmin
        |  FROM events GROUP BY 1)
        |SELECT event_type,
        |  svw / sw AS avg_weighted,
        |  CASE WHEN kmax > kmin THEN (vmax - vmin) / (kmax - kmin) END AS bounding_ratio
        |FROM m ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val v = col("value").cast(DecimalType(18, 2))
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          sum(v * k).cast(DoubleType).as("svw"),
          sum(k).cast(DoubleType).as("sw"),
          max(v).cast(DoubleType).as("vmax"), min(v).cast(DoubleType).as("vmin"),
          max(k).cast(DoubleType).as("kmax"), min(k).cast(DoubleType).as("kmin"))
        .select(col("event_type"),
          (col("svw") / col("sw")).as("avg_weighted"),
          when(col("kmax") > col("kmin"),
            (col("vmax") - col("vmin")) / (col("kmax") - col("kmin")))
            .as("bounding_ratio"))
        .orderBy("event_type")
    },

    // ---- #96 Shannon entropy (CH entropy surface) -------------------------
    // H(user | event_type) = log2(N) − Σ c·log2(c) / N over the per-user
    // counts — the two-level shape (count per (type, user) rides one
    // shuffle; the entropy fold is O(users) per group map-side-combined).
    // log2 + the Σ c·log2(c) double fold are the one genuinely float-order-
    // dependent step, so the output carries the bank's round(·,4) parity
    // clamp (error ~1e-13 ≪ the clamp).
    "entropy_agg" -> OpDef(
      """WITH c AS (
        |  SELECT event_type, user_id, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, SUM(n) AS tot,
        |    SUM(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) AS slog
        |  FROM c GROUP BY 1)
        |SELECT event_type,
        |  round(log2(CAST(tot AS DOUBLE)) - slog / CAST(tot AS DOUBLE), 4) AS entropy,
        |  CAST(tot AS BIGINT) AS n_events
        |FROM m ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      c.groupBy("event_type")
        .agg(sum("n").as("tot"),
          sum(col("n").cast(DoubleType) * log2(col("n").cast(DoubleType))).as("slog"))
        .select(col("event_type"),
          round(log2(col("tot").cast(DoubleType))
            - col("slog") / col("tot").cast(DoubleType), 4).as("entropy"),
          col("tot").cast(LongType).as("n_events"))
        .orderBy("event_type")
    },

    // ---- #97 gap-filled time series (CH WITH FILL surface) ----------------
    // Per-user daily event counts with MISSING DAYS filled as 0 over the
    // user's own [first, last] span — the ORDER BY ... WITH FILL rendering.
    // Day numbers are exact integers: the span explodes via sequence()
    // (bounded by the calendar, not the data), the counts join back as a
    // broadcast hash join — cardinality ≤ |users| × |days|, grain-bounded
    // like histogram_eq's bounds pass. Users capped at id < 40 to keep the
    // oracle output bounded; the operator itself is the general shape.
    "ts_fill" -> OpDef(
      """WITH ev AS (
        |  SELECT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |  FROM events WHERE user_id < 40),
        |cnt AS (SELECT user_id, d, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(d) AS lo, MAX(d) AS hi FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(range(lo, hi + 1)) AS d FROM span)
        |SELECT g.user_id,
        |  strftime(DATE '1970-01-01' + to_days(CAST(g.d AS INTEGER)), '%Y-%m-%d') AS day,
        |  COALESCE(c.n, 0) AS n_events
        |FROM grid g LEFT JOIN cnt c ON g.user_id = c.user_id AND g.d = c.d
        |ORDER BY g.user_id, g.d""".stripMargin
    ) { (s, dir) =>
      def dayNum(c: org.apache.spark.sql.Column) =
        datediff(c.cast(DateType), to_date(lit("1970-01-01")))
      val ev = Tables(s, dir, "events").filter(col("user_id") < 40)
        .select(col("user_id"), dayNum(col("ts")).as("d"))
      val cnt = ev.groupBy("user_id", "d").agg(count(lit(1)).as("n"))
      val grid = ev.groupBy("user_id")
        .agg(min("d").as("lo"), max("d").as("hi"))
        .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("d"))
      grid.join(broadcast(cnt), Seq("user_id", "d"), "left")
        .select(col("user_id"),
          date_format(date_add(to_date(lit("1970-01-01")), col("d")), "yyyy-MM-dd")
            .as("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("user_id", "d")
    },

    // ---- #102 next node after a matched chain (CH sequenceNextNode) -------
    // Per user: the event type FOLLOWING the first signup→click chain
    // (click strictly after the first signup; next = first event strictly
    // after that click, (ts, event_id) tie-break). Three chained window
    // passes + the collapse all ride ONE user_id shuffle — the funnel_window
    // shape with an argmin-by-struct finisher; users without a completed
    // chain emit NULL. The oracle reaches the same row via row_number.
    "sequence_next_node" -> OpDef(
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1
        |  FROM events),
        |tt AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |             OVER (PARTITION BY user_id) AS t2 FROM t),
        |u AS (SELECT user_id, MAX(t2) AS t2 FROM tt GROUP BY user_id),
        |n AS (
        |  SELECT e.user_id, e.event_type,
        |    row_number() OVER (PARTITION BY e.user_id
        |                       ORDER BY e.ts, e.event_id) AS rn
        |  FROM events e JOIN u ON e.user_id = u.user_id AND e.ts > u.t2)
        |SELECT u.user_id, n.event_type AS next_type
        |FROM u LEFT JOIN (SELECT user_id, event_type FROM n WHERE rn = 1) n
        |  ON u.user_id = n.user_id
        |ORDER BY u.user_id""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id")
      Tables(s, dir, "events")
        .withColumn("t1",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1"),
            col("ts"))).over(w))
        // argmin by (ts, event_id): struct min — event_id unique, so the
        // trailing type field never decides the ordering
        .withColumn("nx",
          min(when(col("ts") > col("t2"),
            struct(col("ts"), col("event_id"), col("event_type")))).over(w))
        .groupBy("user_id")
        .agg(min("nx").as("nx"))
        .select(col("user_id"), col("nx.event_type").as("next_type"))
        .orderBy("user_id")
    },

    // ---- #103 per-key min/max map aggregation (CH minMap/maxMap) ----------
    // The #64 sum_map twins in one pass: per-user sorted key list plus the
    // per-key minima and maxima as parallel arrays. Same two-level shape —
    // (user, key) extremes ride the first shuffle as scalars, the O(keys)
    // collect happens per group — and DECIMAL(18,2)'s fixed 2-dp rendering
    // keeps the joined strings byte-identical across engines.
    "minmax_map" -> OpDef(
      """WITH per AS (
        |  SELECT user_id, event_type,
        |    MIN(CAST(value AS DECIMAL(18,2))) AS mn,
        |    MAX(CAST(value AS DECIMAL(18,2))) AS mx
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY event_type) AS map_keys,
        |  string_agg(CAST(mn AS VARCHAR), ',' ORDER BY event_type) AS map_mins,
        |  string_agg(CAST(mx AS VARCHAR), ',' ORDER BY event_type) AS map_maxs
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val per = Tables(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(min(col("value").cast(DecimalType(18, 2))).as("mn"),
          max(col("value").cast(DecimalType(18, 2))).as("mx"))
      per.groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("event_type"), col("mn"), col("mx")))).as("kv"))
        .select(col("user_id"),
          concat_ws(",", col("kv.event_type")).as("map_keys"),
          concat_ws(",", col("kv.mn").cast(ArrayType(StringType))).as("map_mins"),
          concat_ws(",", col("kv.mx").cast(ArrayType(StringType))).as("map_maxs"))
        .orderBy("user_id")
    },

    // ---- #104 sorted distinct array agg (CH groupUniqArray) ---------------
    // collect_set + codegen sort_array, emitted as the ","-joined scalar;
    // per-group state is O(distinct) — here bounded by the event-type
    // vocabulary, the CH use case (tag sets, enum columns).
    "group_uniq_array" -> OpDef(
      """SELECT user_id,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_uniq
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(
          concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
          countDistinct(col("event_type")).as("n_uniq"))
        .orderBy("user_id")
    },

    // ---- #98 exponential moving average (CH exponentialMovingAverage) -----
    // Final EMA (α = 1/2) of value per user in (ts, event_id) order:
    // e_i = α·x_i + (1−α)·e_{i−1}, closed form Σ w_j·x_j with w_j an exact
    // power of two — so each product is an exact double SCALING (exponent
    // shift) of the same input double on both engines, and only the final
    // O(n)-term sum is float-order-dependent (≪ the round(·,4) clamp).
    // Plan: rn + count ride ONE user_id window shuffle, the weighted sum
    // collapses on the same partitioning.
    "ema_decay" -> OpDef(
      """WITH o AS (
        |  SELECT user_id, CAST(value AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id,
        |  round(SUM(x * CASE WHEN rn = 1 THEN power(0.5, n - 1)
        |                     ELSE power(0.5, n - rn + 1) END), 4) AS ema
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wAll = Window.partitionBy("user_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("value").cast(DoubleType).as("x"),
          row_number().over(w).as("rn"), count(lit(1)).over(wAll).as("n"))
        .groupBy("user_id")
        .agg(round(sum(col("x") *
          when(col("rn") === 1, pow(lit(0.5), col("n") - 1))
            .otherwise(pow(lit(0.5), col("n") - col("rn") + 1))), 4).as("ema"))
        .orderBy("user_id")
    },

    // ---- #110 Welch's t-test from exact moments (CH welchTTest) -----------
    // Two-sample unequal-variance t between 'click' and 'view' values, in
    // the corr_moments discipline: one conditional-aggregate pass collects
    // SIX exact scalars (n, Σx, Σx² per side as decimals — map-side
    // partial-mergeable, FILTER-style like #85 so there is no second scan),
    // then t and the Welch–Satterthwaite df are ONE identical IEEE chain on
    // both engines — bit-identical, no rounding clamp. The built-in
    // two-pass/variance route is the float-accumulation shape that cannot
    // hash-match.
    "welch_ttest" -> OpDef(
      """WITH m AS (
        |  SELECT
        |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS nx,
        |    CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS ny,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'click') AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'view') AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'click') AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'view') AS DOUBLE) AS syy
        |  FROM events),
        |v AS (
        |  SELECT nx, ny,
        |    (sxx - sx * sx / nx) / (nx - 1) / nx AS ux,
        |    (syy - sy * sy / ny) / (ny - 1) / ny AS uy,
        |    sx / nx - sy / ny AS dmean
        |  FROM m)
        |SELECT nx AS n_click, ny AS n_view,
        |  dmean / sqrt(ux + uy) AS t_stat,
        |  (ux + uy) * (ux + uy)
        |    / (ux * ux / (nx - 1) + uy * uy / (ny - 1)) AS df
        |FROM v""".stripMargin
    ) { (s, dir) =>
      val d = col("value").cast(DecimalType(18, 2))
      val m = Tables(s, dir, "events").agg(
        count(when(col("event_type") === "click", 1)).as("nx"),
        count(when(col("event_type") === "view", 1)).as("ny"),
        sum(when(col("event_type") === "click", d)).cast(DoubleType).as("sx"),
        sum(when(col("event_type") === "view", d)).cast(DoubleType).as("sy"),
        sum(when(col("event_type") === "click", d * d)).cast(DoubleType).as("sxx"),
        sum(when(col("event_type") === "view", d * d)).cast(DoubleType).as("syy"))
      val nx = col("nx"); val ny = col("ny")
      val v = m.select(nx, ny,
        (((col("sxx") - col("sx") * col("sx") / nx) / (nx - 1)) / nx).as("ux"),
        (((col("syy") - col("sy") * col("sy") / ny) / (ny - 1)) / ny).as("uy"),
        (col("sx") / nx - col("sy") / ny).as("dmean"))
      val ux = col("ux"); val uy = col("uy")
      v.select(nx.as("n_click"), ny.as("n_view"),
        (col("dmean") / sqrt(ux + uy)).as("t_stat"),
        ((ux + uy) * (ux + uy)
          / (ux * ux / (nx - 1) + uy * uy / (ny - 1))).as("df"))
    },

    // ---- #111 Mann-Whitney U from grain-grouped ranks (CH mannWhitneyUTest)
    // Rank-sum test click vs view WITHOUT a global row sort: counts collapse
    // to the 2-dp value grain first (ONE hash shuffle, ≤49k grain rows at
    // any SF — the max_intersections move), average ranks come from a
    // prefix sum over the grain, and the rank-sum Σ cx·r̄ is EXACT in
    // doubles (every term a half-integer < 2^53), so R1 is order-independent
    // and U, the tie-corrected σ, and z are one identical IEEE chain —
    // bit-identical, no clamp.
    "mannwhitney_utest" -> OpDef(
      """WITH vals AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'click' AS isx
        |  FROM events WHERE event_type IN ('click', 'view')),
        |cnt AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(COUNT(*) FILTER (WHERE isx) AS BIGINT) AS cx
        |  FROM vals GROUP BY v),
        |rk AS (
        |  SELECT c, cx, SUM(c) OVER (ORDER BY v) AS cum FROM cnt),
        |m AS (
        |  SELECT CAST(SUM(cx) AS BIGINT) AS nx,
        |    CAST(SUM(c) AS BIGINT) AS n,
        |    SUM(cx * ((cum - c) + (c + 1) / 2.0)) AS r1,
        |    CAST(SUM(c * c * c - c) AS BIGINT) AS t3
        |  FROM rk),
        |u AS (
        |  SELECT nx, n - nx AS ny, n, t3,
        |    r1 - nx * (nx + 1) / 2.0 AS u1
        |  FROM m)
        |SELECT nx AS n_click, ny AS n_view, u1 AS u_stat,
        |  (u1 - nx * ny / 2.0)
        |    / sqrt(nx * ny / 12.0 * ((n + 1) - t3 / (n * (n - 1)))) AS z_score
        |FROM u""".stripMargin
    ) { (s, dir) =>
      val cnt = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("value").cast(DecimalType(18, 2)).as("v"),
          (col("event_type") === "click").as("isx"))
        .groupBy("v")
        .agg(count(lit(1)).as("c"), count(when(col("isx"), 1)).as("cx"))
      val rk = cnt.withColumn("cum",
        sum("c").over(Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val m = rk.agg(
        sum("cx").as("nx"), sum("c").as("n"),
        sum(col("cx") * ((col("cum") - col("c")) + (col("c") + 1) / lit(2.0)))
          .as("r1"),
        sum(col("c") * col("c") * col("c") - col("c")).as("t3"))
      val nx = col("nx"); val n = col("n"); val t3 = col("t3")
      val u = m.select(nx, (n - nx).as("ny"), n, t3,
        (col("r1") - nx * (nx + 1) / lit(2.0)).as("u1"))
      val ny = col("ny"); val u1 = col("u1")
      u.select(nx.as("n_click"), ny.as("n_view"), u1.as("u_stat"),
        ((u1 - nx * ny / lit(2.0))
          / sqrt(nx * ny / lit(12.0) * ((n + 1) - t3 / (n * (n - 1)))))
          .as("z_score"))
    },

    // ---- #112 skewness/kurtosis from exact power sums (CH skewPop/kurtPop)
    // Third/fourth standardized central moments of the JSON prop k per
    // event_type. k ∈ [0,99], so k…k⁴ are small exact integers; the four
    // power sums are DECIMAL(38,0)-exact (overflow-proof at any SF) and
    // partial-mergeable — ONE shuffle of 5 scalars per group. Central
    // moments then skew = m3/(m2·√m2), excess kurt = m4/m2² − 3 are one
    // identical IEEE chain (√ is correctly rounded; no pow(x,1.5), whose
    // libm rounding differs across engines) — bit-identical, no clamp.
    "skew_kurt" -> OpDef(
      """WITH m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(k AS DECIMAL(38,0))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(k * k AS DECIMAL(38,0))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(k * k * k AS DECIMAL(38,0))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(k * k * k * k AS DECIMAL(38,0))) AS DOUBLE) AS s4
        |  FROM (SELECT event_type,
        |          CAST(json_extract_string(props, 'k') AS BIGINT) AS k
        |        FROM events) GROUP BY 1),
        |c AS (
        |  SELECT event_type, n, s1 / n AS mean,
        |    s2 / n - (s1 / n) * (s1 / n) AS m2,
        |    s3 / n - 3 * (s1 / n) * (s2 / n)
        |      + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |    s4 / n - 4 * (s1 / n) * (s3 / n)
        |      + 6 * ((s1 / n) * (s1 / n)) * (s2 / n)
        |      - 3 * (((s1 / n) * (s1 / n)) * ((s1 / n) * (s1 / n))) AS m4
        |  FROM m)
        |SELECT event_type, n, mean,
        |  m3 / (m2 * sqrt(m2)) AS skewness,
        |  m4 / (m2 * m2) - 3 AS kurtosis
        |FROM c ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      val m = Tables(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast(DecimalType(38, 0))).cast(DoubleType).as("s1"),
          sum((col("k") * col("k")).cast(DecimalType(38, 0)))
            .cast(DoubleType).as("s2"),
          sum((col("k") * col("k") * col("k")).cast(DecimalType(38, 0)))
            .cast(DoubleType).as("s3"),
          sum((col("k") * col("k") * col("k") * col("k"))
            .cast(DecimalType(38, 0))).cast(DoubleType).as("s4"))
      val n = col("n")
      val mean = col("s1") / n
      val c = m.select(col("event_type"), n, mean.as("mean"),
        (col("s2") / n - mean * mean).as("m2"),
        (col("s3") / n - lit(3) * mean * (col("s2") / n)
          + lit(2) * mean * mean * mean).as("m3"),
        (col("s4") / n - lit(4) * mean * (col("s3") / n)
          + lit(6) * (mean * mean) * (col("s2") / n)
          - lit(3) * ((mean * mean) * (mean * mean))).as("m4"))
      c.select(col("event_type"), n, col("mean"),
          (col("m3") / (col("m2") * sqrt(col("m2")))).as("skewness"),
          (col("m4") / (col("m2") * col("m2")) - 3).as("kurtosis"))
        .orderBy("event_type")
    },

    // ---- #113 M4 time-series downsampling (Jugel et al., VLDB 2014) -------
    // The published lossless-rendering downsample: per (series, pixel
    // bucket) keep min, max, first, last. Here series = event_type, bucket =
    // day; first/last resolve by (ts, event_id) with the unique event_id
    // tie-break. Plan shape: BOTH row_number windows and the final groupBy
    // share hashpartitioning(event_type, day) — ONE shuffle total, the
    // flags collapse map-side. Values stay DECIMAL(18,2) internally and
    // cast to double only at the output boundary (§5 parity rule: 2-dp
    // cents are exact in a double, and both engines render doubles
    // identically — raw decimal cells hash-diverge in the driver).
    "ts_downsample_m4" -> OpDef(
      """WITH o AS (
        |  SELECT event_type,
        |    strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(value AS DECIMAL(18,2)) AS v,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |                       ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(v) AS DOUBLE) AS v_min, CAST(MAX(v) AS DOUBLE) AS v_max,
        |  CAST(MAX(CASE WHEN rn_a = 1 THEN v END) AS DOUBLE) AS v_first,
        |  CAST(MAX(CASE WHEN rn_d = 1 THEN v END) AS DOUBLE) AS v_last
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val wA = Window.partitionBy("event_type", "day")
        .orderBy(col("ts"), col("event_id"))
      val wD = Window.partitionBy("event_type", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables(s, dir, "events")
        .select(col("event_type"),
          date_format(col("ts").cast(DateType), "yyyy-MM-dd").as("day"),
          col("value").cast(DecimalType(18, 2)).as("v"),
          col("ts"), col("event_id"))
        .withColumn("rn_a", row_number().over(wA))
        .withColumn("rn_d", row_number().over(wD))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          min("v").cast(DoubleType).as("v_min"),
          max("v").cast(DoubleType).as("v_max"),
          max(when(col("rn_a") === 1, col("v"))).cast(DoubleType).as("v_first"),
          max(when(col("rn_d") === 1, col("v"))).cast(DoubleType).as("v_last"))
        .orderBy("event_type", "day")
    },

    // ---- #116 batch sessionization (gap islands) --------------------------
    // The batch twin of stream_sessionize: a new session starts after a
    // >24 h silence. Timestamps are exact epoch MICROS on both engines
    // (events.parquet carries µs precision — no sub-µs to lose), the
    // lag-flag and the running session counter share ONE
    // hashpartitioning(user_id) window exchange, and the per-(user, session)
    // collapse REUSES it (hash(user_id) satisfies the (user_id, session)
    // clustering) — one data exchange total at any SF.
    "sessionize_batch" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
        |f AS (
        |  SELECT user_id, us, event_id,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 86400000000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess
        |  FROM f)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MIN(us) AS BIGINT) AS start_us,
        |  CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = lag(col("us"), 1).over(w)
      Tables(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
        .withColumn("ns",
          when(prev.isNull || col("us") - prev > 86400000000L, 1).otherwise(0))
        .withColumn("sess", sum("ns").over(run))
        .groupBy(col("user_id"), col("sess").cast(LongType).as("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min("us").cast(LongType).as("start_us"),
          (max("us") - min("us")).cast(LongType).as("dur_us"))
        .orderBy("user_id", "session_id")
    },

    // ---- #117 interval union length (CH intervalLengthSum) ----------------
    // Per-user union of overlapping day intervals [day(ts), day(ts) + k%7]
    // (k = the JSON prop — each event an activity span). The classic
    // merged-islands sweep, distributed: running max(hi) over the PRECEDING
    // frame flags island starts, the island counter is a running sum on the
    // SAME hashpartitioning(user_id) window exchange, and both collapses
    // (per-island extent, per-user fold) reuse that partitioning — one data
    // exchange total. All-integer day arithmetic: exact, order-independent.
    "interval_length_sum" -> OpDef(
      """WITH iv AS (
        |  SELECT user_id, event_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS lo,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      + CAST(json_extract_string(props, 'k') AS BIGINT) % 7 AS hi
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, lo, hi,
        |    CASE WHEN MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi, event_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           IS NULL
        |      OR lo > MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi, event_id
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS ni
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, lo, hi,
        |    SUM(ni) OVER (PARTITION BY user_id ORDER BY lo, hi, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |ext AS (
        |  SELECT user_id, island, MAX(hi) - MIN(lo) + 1 AS len,
        |    COUNT(*) AS n_iv
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(len) AS BIGINT) AS union_days
        |FROM ext GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val day = datediff(col("ts").cast(DateType), to_date(lit("1970-01-01")))
      val w = Window.partitionBy("user_id").orderBy("lo", "hi", "event_id")
      val prevMax = max("hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), day.as("lo"),
          (day + get_json_object(col("props"), "$.k").cast(LongType) % 7).as("hi"))
        .withColumn("ni",
          when(prevMax.isNull || col("lo") > prevMax, 1).otherwise(0))
        .withColumn("island", sum("ni").over(run))
        .groupBy("user_id", "island")
        .agg((max("hi") - min("lo") + 1).as("len"), count(lit(1)).as("n_iv"))
        .groupBy("user_id")
        .agg(sum("n_iv").cast(LongType).as("n_intervals"),
          count(lit(1)).cast(LongType).as("n_islands"),
          sum("len").cast(LongType).as("union_days"))
        .orderBy("user_id")
    },

    // ---- #118 bounding ratio (CH boundingRatio) ---------------------------
    // Per-user (last value − first value) / elapsed seconds, first/last
    // resolved by (epoch µs, event_id) — ONE aggregation pass via
    // min_by/max_by over the ordering struct (no window, no second scan).
    // dv is an exact DECIMAL difference and dt an exact BIGINT of µs, so
    // the single double divide is one identical IEEE op on both engines.
    // Degenerate spans (single event / zero elapsed) are excluded on both
    // sides rather than leaning on either engine's x/0 convention.
    "bounding_ratio" -> OpDef(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |a AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    first(v ORDER BY us, event_id) AS v_first,
        |    last(v ORDER BY us, event_id) AS v_last,
        |    CAST(MAX(us) - MIN(us) AS BIGINT) AS dt_us
        |  FROM e GROUP BY 1)
        |SELECT user_id, n,
        |  CAST(v_first AS DOUBLE) AS v_first, CAST(v_last AS DOUBLE) AS v_last,
        |  CAST(v_last - v_first AS DOUBLE) / (CAST(dt_us AS DOUBLE) / 1000000.0)
        |    AS ratio_per_sec
        |FROM a WHERE n >= 2 AND dt_us > 0 ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val ord = struct(col("us"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          min_by(col("v"), ord).as("v_first"),
          max_by(col("v"), ord).as("v_last"),
          (max("us") - min("us")).cast(LongType).as("dt_us"))
        .filter(col("n") >= 2 && col("dt_us") > 0)
        .select(col("user_id"), col("n"),
          col("v_first").cast(DoubleType).as("v_first"),
          col("v_last").cast(DoubleType).as("v_last"),
          (col("v_last").minus(col("v_first")).cast(DoubleType)
            / (col("dt_us").cast(DoubleType) / lit(1000000.0))).as("ratio_per_sec"))
        .orderBy("user_id")
    },

    // ---- #119 Cramér's V (CH cramersV) ------------------------------------
    // Association between event_type and the k-decile: the contingency
    // grain is ≤ 5×10 CELLS at any SF (counts collapse map-side on one tiny
    // shuffle — the max_intersections grain move), margins ride window sums
    // over that grain, and chi² folds ~50 exact-integer-derived terms. The
    // Σ over cells is the one float-order-dependent step, so chi² and V
    // carry the bank's round(·,4) parity clamp (entropy_agg discipline;
    // fold error ~1e-12 ≪ the clamp).
    "cramers_v" -> OpDef(
      """WITH c AS (
        |  SELECT event_type AS t,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) // 10 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT t, b, n,
        |    SUM(n) OVER (PARTITION BY t) AS rm,
        |    SUM(n) OVER (PARTITION BY b) AS cm,
        |    SUM(n) OVER () AS tot
        |  FROM c),
        |x AS (
        |  SELECT CAST(MAX(tot) AS BIGINT) AS n_total,
        |    CAST(COUNT(DISTINCT t) AS BIGINT) AS n_rows,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS n_cols,
        |    SUM((n - CAST(rm AS DOUBLE) * cm / tot)
        |        * (n - CAST(rm AS DOUBLE) * cm / tot)
        |        / (CAST(rm AS DOUBLE) * cm / tot)) AS chi2
        |  FROM m)
        |SELECT n_total, n_rows, n_cols, round(chi2, 4) AS chi2,
        |  round(sqrt(chi2 / (n_total *
        |    (CASE WHEN n_rows < n_cols THEN n_rows ELSE n_cols END - 1))), 4)
        |    AS cramers_v
        |FROM x""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          (get_json_object(col("props"), "$.k").cast(LongType) / 10)
            .cast(LongType).as("b"))
        .agg(count(lit(1)).as("n"))
      val m = c
        .withColumn("rm", sum("n").over(Window.partitionBy("t")))
        .withColumn("cm", sum("n").over(Window.partitionBy("b")))
        .withColumn("tot", sum("n").over(Window.partitionBy()))
      val e = col("rm").cast(DoubleType) * col("cm") / col("tot")
      val x = m.agg(
        max("tot").cast(LongType).as("n_total"),
        countDistinct("t").cast(LongType).as("n_rows"),
        countDistinct("b").cast(LongType).as("n_cols"),
        sum((col("n") - e) * (col("n") - e) / e).as("chi2"))
      x.select(col("n_total"), col("n_rows"), col("n_cols"),
        round(col("chi2"), 4).as("chi2"),
        round(sqrt(col("chi2") / (col("n_total") *
          (least(col("n_rows"), col("n_cols")) - 1))), 4).as("cramers_v"))
    },

    // ---- #120 distributed global rank -------------------------------------
    // Dense global ordering WITHOUT the single-partition WindowExec that a
    // bare row_number() OVER (ORDER BY …) plans (the canonical 100 TB
    // anti-pattern): per-value counts collapse to the ≤49k 2-dp value grain
    // (one tiny shuffle), a prefix sum over that grain yields each value's
    // rank offset, the offsets BROADCAST back onto the fact rows, and ties
    // break by event_id inside hashpartitioning(v) windows. rank = exact
    // integers end to end; output thinned to every 97th rank (+ the top 10)
    // so it stays bounded at any SF while still pinning the whole ordering.
    "global_rank" -> OpDef(
      """WITH e AS (
        |  SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |r AS (
        |  SELECT event_id, v,
        |    row_number() OVER (ORDER BY v DESC, event_id) AS rnk
        |  FROM e)
        |SELECT event_id, CAST(v AS DOUBLE) AS v, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk % 97 = 0 OR rnk <= 10 ORDER BY rnk""".stripMargin
    ) { (s, dir) =>
      val e = Tables(s, dir, "events")
        .select(col("event_id"), col("value").cast(DecimalType(18, 2)).as("v"))
      val grain = e.groupBy("v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(Window.orderBy(col("v").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("v"), (col("cum") - col("c")).as("offset"))
      e.join(broadcast(grain), "v")
        .withColumn("rnk", (col("offset") + row_number().over(
          Window.partitionBy("v").orderBy("event_id"))).cast(LongType))
        .filter(col("rnk") % 97 === 0 || col("rnk") <= 10)
        .select(col("event_id"), col("v").cast(DoubleType).as("v"), col("rnk"))
        .orderBy("rnk")
    },

    // ---- #121 Student's t (equal variance) — welch_ttest's pooled twin ----
    // CH studentTTest. Same single-pass exact-decimal moments as #110 (6
    // scalars on the shuffle); pooled variance then ONE identical IEEE chain
    // on both engines (sqrt correctly rounded) — bit-identical, no clamp.
    "student_ttest" -> OpDef(
      """WITH m AS (
        |  SELECT
        |    CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS nx,
        |    CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS ny,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'click') AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'view') AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'click') AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |         FILTER (WHERE event_type = 'view') AS DOUBLE) AS syy
        |  FROM events),
        |v AS (
        |  SELECT nx, ny,
        |    (sxx - sx * sx / nx) + (syy - sy * sy / ny) AS ss,
        |    sx / nx - sy / ny AS dmean
        |  FROM m)
        |SELECT nx AS n_click, ny AS n_view,
        |  dmean / sqrt(ss / (nx + ny - 2) * (1.0 / nx + 1.0 / ny)) AS t_stat,
        |  CAST(nx + ny - 2 AS BIGINT) AS df
        |FROM v""".stripMargin
    ) { (s, dir) =>
      val d = col("value").cast(DecimalType(18, 2))
      val m = Tables(s, dir, "events").agg(
        count(when(col("event_type") === "click", 1)).as("nx"),
        count(when(col("event_type") === "view", 1)).as("ny"),
        sum(when(col("event_type") === "click", d)).cast(DoubleType).as("sx"),
        sum(when(col("event_type") === "view", d)).cast(DoubleType).as("sy"),
        sum(when(col("event_type") === "click", d * d)).cast(DoubleType).as("sxx"),
        sum(when(col("event_type") === "view", d * d)).cast(DoubleType).as("syy"))
      val nx = col("nx"); val ny = col("ny")
      val v = m.select(nx, ny,
        ((col("sxx") - col("sx") * col("sx") / nx)
          + (col("syy") - col("sy") * col("sy") / ny)).as("ss"),
        (col("sx") / nx - col("sy") / ny).as("dmean"))
      v.select(nx.as("n_click"), ny.as("n_view"),
        (col("dmean") / sqrt(col("ss") / (nx + ny - 2)
          * (lit(1.0) / nx + lit(1.0) / ny))).as("t_stat"),
        (nx + ny - 2).cast(LongType).as("df"))
    },

    // ---- #122 Kolmogorov–Smirnov D between click and view values ----------
    // CH kolmogorovSmirnovTest. No global row sort: both empirical CDFs
    // collapse to the shared 2-dp value grain (ONE hash shuffle, ≤49k grain
    // rows at any SF — the mannwhitney move), and the sup gap is found over
    // EXACT cross-multiplied integers |cumX·ny − cumY·nx| (≤ n² < 2^53), so
    // D and the scaled z are order-independent and bit-identical — no clamp.
    "ks_test" -> OpDef(
      """WITH vals AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    event_type = 'click' AS isx
        |  FROM events WHERE event_type IN ('click', 'view')),
        |cnt AS (
        |  SELECT v,
        |    CAST(COUNT(*) FILTER (WHERE isx) AS BIGINT) AS cx,
        |    CAST(COUNT(*) FILTER (WHERE NOT isx) AS BIGINT) AS cy
        |  FROM vals GROUP BY v),
        |rk AS (
        |  SELECT
        |    SUM(cx) OVER (ORDER BY v) AS cumx,
        |    SUM(cy) OVER (ORDER BY v) AS cumy,
        |    SUM(cx) OVER () AS nx,
        |    SUM(cy) OVER () AS ny
        |  FROM cnt),
        |m AS (
        |  SELECT CAST(MAX(nx) AS BIGINT) AS nx, CAST(MAX(ny) AS BIGINT) AS ny,
        |    CAST(MAX(ABS(cumx * ny - cumy * nx)) AS BIGINT) AS dnum
        |  FROM rk)
        |SELECT nx AS n_click, ny AS n_view,
        |  CAST(dnum AS DOUBLE) / (CAST(nx AS DOUBLE) * ny) AS d_stat,
        |  CAST(dnum AS DOUBLE) / (CAST(nx AS DOUBLE) * ny)
        |    * sqrt(CAST(nx AS DOUBLE) * ny / (nx + ny)) AS ks_z
        |FROM m""".stripMargin
    ) { (s, dir) =>
      val cnt = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("value").cast(DecimalType(18, 2)).as("v"),
          (col("event_type") === "click").as("isx"))
        .groupBy("v")
        .agg(count(when(col("isx"), 1)).as("cx"),
          count(when(!col("isx"), 1)).as("cy"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rk = cnt.select(
        sum("cx").over(w).as("cumx"), sum("cy").over(w).as("cumy"),
        sum("cx").over(Window.partitionBy()).as("nx"),
        sum("cy").over(Window.partitionBy()).as("ny"))
      val m = rk.agg(max("nx").cast(LongType).as("nx"),
        max("ny").cast(LongType).as("ny"),
        max(abs(col("cumx") * col("ny") - col("cumy") * col("nx")))
          .cast(LongType).as("dnum"))
      val nx = col("nx"); val ny = col("ny")
      val dStat = col("dnum").cast(DoubleType) / (nx.cast(DoubleType) * ny)
      m.select(nx.as("n_click"), ny.as("n_view"), dStat.as("d_stat"),
        (dStat * sqrt(nx.cast(DoubleType) * ny / (nx + ny))).as("ks_z"))
    },

    // ---- #123 Spearman rank correlation (CH rankCorr) ---------------------
    // ρ between value and the JSON prop k WITHOUT ranking fact rows: average
    // ranks come from prefix sums over the two tiny value grains (≤49k and
    // ≤100 rows), DOUBLED so ties stay integral (2r̄ = 2·cum − c + 1), and
    // BROADCAST back onto the facts — fact rows are never shuffled, never
    // globally sorted (the global_rank offsets move). The six rank moments
    // are DECIMAL(38,0)/HUGEINT-exact (Σ(2r)² ≤ 4n³ at any SF), cast once to
    // double, then Pearson-on-ranks is ONE identical IEEE chain —
    // bit-identical, no clamp (doubling cancels between num and denom).
    "spearman_corr" -> OpDef(
      """WITH f AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) AS k
        |  FROM events),
        |gv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY v),
        |rv AS (SELECT v, 2 * SUM(c) OVER (ORDER BY v) - c + 1 AS rx2 FROM gv),
        |gk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY k),
        |rw AS (SELECT k, 2 * SUM(c) OVER (ORDER BY k) - c + 1 AS ry2 FROM gk),
        |j AS (SELECT rx2, ry2 FROM f JOIN rv USING (v) JOIN rw USING (k)),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(rx2 AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ry2 AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(rx2 AS HUGEINT) * rx2) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ry2 AS HUGEINT) * ry2) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(rx2 AS HUGEINT) * ry2) AS DOUBLE) AS sxy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  (n * sxy - sx * sy)
        |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |    AS spearman_rho
        |FROM m""".stripMargin
    ) { (s, dir) =>
      // r17: same persist regime as rank_corr_matrix — f is scan-rooted and
      // feeds THREE differently-pruned consumers (v grain, k grain, the
      // rank-attach join), so without it the events scan and the per-row
      // JSON k-prop extraction (the dominant per-row cost) run three times.
      val f = graft.CacheRegistry.track(Tables(s, dir, "events").select(
        col("value").cast(DecimalType(18, 2)).as("v"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // 2·Σc(≤key) − c + 1 ≡ 2·Σc(<key) + c + 1: the doubled mid-rank,
      // computed two-level ([[PrefixRank.doubledMidRank]], r18) so no
      // partition-less window sorts the distinct-value grain in one task —
      // v (amounts) and k (JSON prop) are unbounded domains at 100 TB.
      // Buckets: floor(v/1024) on the decimal (monotone), k >> 16.
      val rv = PrefixRank.doubledMidRank(
        f.groupBy("v").agg(count(lit(1)).as("c")),
        "v", floor(col("v") / 1024).cast(LongType), "rx2")
      val rw = PrefixRank.doubledMidRank(
        f.groupBy("k").agg(count(lit(1)).as("c")),
        "k", shiftright(col("k"), 16), "ry2")
      val j = f.join(broadcast(rv), "v").join(broadcast(rw), "k")
        .select("rx2", "ry2")
      val dec = (c: Column) => c.cast(DecimalType(38, 0))
      val m = j.agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(dec(col("rx2"))).cast(DoubleType).as("sx"),
        sum(dec(col("ry2"))).cast(DoubleType).as("sy"),
        sum(dec(col("rx2")) * col("rx2")).cast(DoubleType).as("sxx"),
        sum(dec(col("ry2")) * col("ry2")).cast(DoubleType).as("syy"),
        sum(dec(col("rx2")) * col("ry2")).cast(DoubleType).as("sxy"))
      val n = col("n")
      m.select(n.cast(LongType).as("n_rows"),
        ((n * col("sxy") - col("sx") * col("sy"))
          / (sqrt(n * col("sxx") - col("sx") * col("sx"))
            * sqrt(n * col("syy") - col("sy") * col("sy"))))
          .as("spearman_rho"))
    },

    // ---- #124 Theil's U (uncertainty coefficient) — CH theilsU ------------
    // Asymmetric association between event_type and the k-decile from ONE
    // cube pass: grouping-sets partial aggregation computes the (t,b) cells
    // AND both margins AND the total in a single fact shuffle (the cramers_v
    // grain without per-branch rescans). U = I(T;B)/H(·) via H(T)+H(B)−H(T,B),
    // all entropy folds over the ≤66-row cube output; the ~50-term float fold
    // is the one order-dependent step → round(·,4) parity clamp (entropy_agg
    // discipline).
    "theils_u" -> OpDef(
      """WITH c AS (
        |  SELECT event_type AS t,
        |    CAST(json_extract_string(props, 'k') AS BIGINT) // 10 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY CUBE (t, b)),
        |s AS (
        |  SELECT
        |    CAST(SUM(n) FILTER (WHERE t IS NULL AND b IS NULL) AS DOUBLE) AS tot,
        |    SUM(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)))
        |      FILTER (WHERE t IS NOT NULL AND b IS NULL) AS slogt,
        |    SUM(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)))
        |      FILTER (WHERE t IS NULL AND b IS NOT NULL) AS slogb,
        |    SUM(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)))
        |      FILTER (WHERE t IS NOT NULL AND b IS NOT NULL) AS slogc
        |  FROM c),
        |h AS (
        |  SELECT CAST(tot AS BIGINT) AS n_total,
        |    log2(tot) - slogt / tot AS ht,
        |    log2(tot) - slogb / tot AS hb,
        |    log2(tot) - slogc / tot AS htb
        |  FROM s)
        |SELECT n_total,
        |  round((ht + hb - htb) / ht, 4) AS u_t_given_b,
        |  round((ht + hb - htb) / hb, 4) AS u_b_given_t
        |FROM h""".stripMargin
    ) { (s, dir) =>
      val base = Tables(s, dir, "events").select(col("event_type").as("t"),
        (get_json_object(col("props"), "$.k").cast(LongType) / 10)
          .cast(LongType).as("b"))
      val cells = base.cube("t", "b").agg(count(lit(1)).as("n"))
      val nlg = col("n").cast(DoubleType) * log2(col("n").cast(DoubleType))
      val isT = col("t").isNotNull; val isB = col("b").isNotNull
      val sums = cells.agg(
        sum(when(!isT && !isB, col("n"))).cast(DoubleType).as("tot"),
        sum(when(isT && !isB, nlg)).as("slogt"),
        sum(when(!isT && isB, nlg)).as("slogb"),
        sum(when(isT && isB, nlg)).as("slogc"))
      val tot = col("tot")
      val h = sums.select(tot.cast(LongType).as("n_total"),
        (log2(tot) - col("slogt") / tot).as("ht"),
        (log2(tot) - col("slogb") / tot).as("hb"),
        (log2(tot) - col("slogc") / tot).as("htb"))
      val mi = col("ht") + col("hb") - col("htb")
      h.select(col("n_total"),
        round(mi / col("ht"), 4).as("u_t_given_b"),
        round(mi / col("hb"), 4).as("u_b_given_t"))
    },

    // ---- #125b deterministic per-group sample (CH groupArraySample) -------
    // 5 "random" members per event_type, reproducible across runs, engines
    // and SFs: the sample_hash discipline lifted to per-group selection —
    // order by the portable md5-60bit hash of the member id, keep the first
    // 5. The rank window and the collapse share hashpartitioning(event_type)
    // (ONE exchange); membership AND order are pinned, not just sizes.
    "group_array_sample" -> OpDef(
      s"""WITH h AS (
         |  SELECT event_type, event_id,
         |    ${parity.md5LongSql("CAST(event_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (
         |  SELECT event_type, event_id, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id)
         |      AS rn
         |  FROM h)
         |SELECT event_type,
         |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY h, event_id)
         |    AS sample_ids
         |FROM r WHERE rn <= 5 GROUP BY event_type
         |ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val h = Tables(s, dir, "events").select(col("event_type"), col("event_id"),
        parity.md5Long(col("event_id").cast(StringType)).as("h"))
      h.withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("h", "event_id")))
        .filter(col("rn") <= 5)
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("h"), col("event_id"),
          col("event_id").cast(StringType).as("id_str")))).as("ord"))
        .select(col("event_type"),
          concat_ws(",", col("ord.id_str")).as("sample_ids"))
        .orderBy("event_type")
    },

    // ---- #128 exact median absolute deviation (CH medianExact + MAD) ------
    // Per event_type: the lower median of value, then the lower median of
    // |v − med| — the robust dispersion pair. NO floats anywhere: both
    // selections are integer cross-multiplied threshold scans (2·cum ≥ n,
    // the quantiles_exact_weighted discipline) over the 2-dp value grain,
    // and |v − med| stays exact DECIMAL. The lineage is deliberately LINEAR:
    // the median is not joined back but computed as a conditional window
    // min over the same grain rows (min of v where 2·cum ≥ n, whole-
    // partition frame), so the fact table is scanned and shuffled exactly
    // once and the query has zero joins — a branch-and-join-back shape
    // re-scanned the facts three times under AQE.
    "mad_exact" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t, CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cw AS (
        |  SELECT t, v, c,
        |    SUM(c) OVER (PARTITION BY t ORDER BY v) AS cum,
        |    SUM(c) OVER (PARTITION BY t) AS n
        |  FROM g),
        |med AS (
        |  SELECT t, MIN(v) AS med, CAST(MAX(n) AS BIGINT) AS n
        |  FROM cw WHERE 2 * cum >= n GROUP BY t),
        |d AS (
        |  SELECT g.t, abs(g.v - m.med) AS dv, g.c, m.n
        |  FROM g JOIN med m ON g.t = m.t),
        |dg AS (
        |  SELECT t, dv, CAST(SUM(c) AS BIGINT) AS c, MAX(n) AS n
        |  FROM d GROUP BY 1, 2),
        |dw AS (
        |  SELECT t, dv, n,
        |    SUM(c) OVER (PARTITION BY t ORDER BY dv) AS cumd
        |  FROM dg),
        |mad AS (SELECT t, MIN(dv) AS mad FROM dw WHERE 2 * cumd >= n GROUP BY t)
        |SELECT med.t AS event_type, CAST(med.med AS DOUBLE) AS median,
        |  CAST(mad.mad AS DOUBLE) AS mad, med.n
        |FROM med JOIN mad ON med.t = mad.t ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("t").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("t")
      val cw = g
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(wAll))
        // lower median carried onto every grain row — no join-back
        .withColumn("med",
          min(when(lit(2) * col("cum") >= col("n"), col("v"))).over(wAll))
      val dg = cw
        .select(col("t"), abs(col("v") - col("med")).as("dv"), col("c"),
          col("n"), col("med"))
        .groupBy("t", "dv")
        .agg(sum("c").cast(LongType).as("c"), max("n").cast(LongType).as("n"),
          max("med").as("med"))
      val wDev = Window.partitionBy("t").orderBy("dv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dw = dg.withColumn("cumd", sum("c").over(wDev))
      dw.filter(lit(2) * col("cumd") >= col("n"))
        .groupBy("t")
        // selection is exact-decimal throughout; double ONLY at the output
        // boundary (§5 — raw decimal cells hash-diverge in the driver)
        .agg(max("med").cast(DoubleType).as("median"),
          min("dv").cast(DoubleType).as("mad"), max("n").as("n"))
        .select(col("t").as("event_type"), col("median"), col("mad"), col("n"))
        .orderBy("event_type")
    },

    // ---- #129 exponential TIME-decayed sum (CH exponentialTimeDecayedSum) -
    // Per user: Σ v·2^(−Δdays) anchored at the user's LAST event day —
    // ema_decay's calendar twin (decay by elapsed time, not event index).
    // Δdays is an exact integer, so every weight is an exact power of two
    // and each product is an exponent shift of the same input double on
    // both engines; only the final fold is order-dependent → round(·,4)
    // clamp. The last-day window and the weighted collapse share ONE
    // hashpartitioning(user_id) exchange.
    "exp_time_decayed_sum" -> OpDef(
      """WITH o AS (
        |  SELECT user_id, CAST(value AS DOUBLE) AS x,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    MAX(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      OVER (PARTITION BY user_id) AS last_d
        |  FROM events)
        |SELECT user_id,
        |  round(SUM(x * power(0.5, last_d - d)), 4) AS decayed_sum,
        |  CAST(MAX(last_d) AS BIGINT) AS last_day
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val day = datediff(col("ts").cast(DateType),
        lit("1970-01-01").cast(DateType))
      val o = Tables(s, dir, "events")
        .select(col("user_id"), col("value").cast(DoubleType).as("x"),
          day.as("d"))
        .withColumn("last_d",
          max("d").over(Window.partitionBy("user_id")))
      o.groupBy("user_id")
        .agg(round(sum(col("x") * pow(lit(0.5), col("last_d") - col("d"))), 4)
            .as("decayed_sum"),
          max("last_d").cast(LongType).as("last_day"))
        .orderBy("user_id")
    },

    // ---- #130 one-way ANOVA F from exact moments ---------------------------
    // F-test for equal means across the event types, in the welch_ttest
    // discipline generalized to k groups: ONE grain pass collects exact
    // decimal (n_g, Σx, Σx²) per group, the grand S and Q are exact decimal
    // sums converted to double ONCE, and the only order-dependent step is
    // the k-term double fold A = Σ_g S_g²/n_g → round(·,4) clamp on the
    // final statistic. Two pipelined agg exchanges, zero joins.
    "anova_f" -> OpDef(
      """WITH g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sg,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS qg
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(sg) AS DOUBLE) AS s, CAST(SUM(qg) AS DOUBLE) AS q,
        |    SUM(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) AS a
        |  FROM g)
        |SELECT k, n,
        |  round(((a - s * s / n) / (k - 1)) / ((q - a) / (n - k)), 4) AS f_stat
        |FROM m""".stripMargin
    ) { (s, dir) =>
      val d = col("value").cast(DecimalType(18, 2))
      val g = Tables(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum(d).as("sg"), sum(d * d).as("qg"))
      val m = g.agg(
        count(lit(1)).as("k"), sum("ng").as("n"),
        sum("sg").cast(DoubleType).as("s"), sum("qg").cast(DoubleType).as("q"),
        sum(col("sg").cast(DoubleType) * col("sg").cast(DoubleType) / col("ng"))
          .as("a"))
      val k = col("k"); val n = col("n"); val a = col("a")
      m.select(k, n,
        round(((a - col("s") * col("s") / n) / (k - 1))
          / ((col("q") - a) / (n - k)), 4).as("f_stat"))
    },

    // ---- #131 exact interpolated quantiles (CH quantileExactInclusive) ----
    // Continuous p=0.5/0.9 quantiles per type with linear interpolation,
    // driver-hash-exact WITHOUT a clamp: all rank arithmetic is integer
    // (h·10 = (n−1)·10p stays integral for 1-dp p), the two bracketing
    // values are conditional-aggregate mins over the 2-dp grain (the
    // mad_exact selection move, as plain GROUP BY aggregates since the
    // targets are partition constants), and the one float step
    // v_lo + frac·(v_hi − v_lo) is a single identical IEEE chain on both
    // engines. Linear lineage: grain collapse → one t-window → one t-agg.
    "quantile_exact_interp" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t, CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cw AS (
        |  SELECT t, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY t ORDER BY v) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY t) AS BIGINT) AS n
        |  FROM g),
        |hh AS (
        |  SELECT t, v, cum, n,
        |    CAST(FLOOR((n - 1) * 5 / 10.0) AS BIGINT) AS lo5,
        |    ((n - 1) * 5) % 10 AS f5,
        |    CAST(FLOOR((n - 1) * 9 / 10.0) AS BIGINT) AS lo9,
        |    ((n - 1) * 9) % 10 AS f9
        |  FROM cw),
        |sel AS (
        |  SELECT t, MAX(n) AS n, MAX(f5) AS f5, MAX(f9) AS f9,
        |    MIN(CASE WHEN cum >= lo5 + 1 THEN v END) AS v5a,
        |    MIN(CASE WHEN cum >= lo5 + 2 THEN v END) AS v5b,
        |    MIN(CASE WHEN cum >= lo9 + 1 THEN v END) AS v9a,
        |    MIN(CASE WHEN cum >= lo9 + 2 THEN v END) AS v9b
        |  FROM hh GROUP BY t)
        |SELECT t AS event_type, CAST(n AS BIGINT) AS n,
        |  CAST(v5a AS DOUBLE) + (f5 / 10.0)
        |    * (CAST(COALESCE(v5b, v5a) AS DOUBLE) - CAST(v5a AS DOUBLE)) AS q50,
        |  CAST(v9a AS DOUBLE) + (f9 / 10.0)
        |    * (CAST(COALESCE(v9b, v9a) AS DOUBLE) - CAST(v9a AS DOUBLE)) AS q90
        |FROM sel ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("t").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cw = g
        .withColumn("cum", sum("c").over(wCum).cast(LongType))
        .withColumn("n", sum("c").over(Window.partitionBy("t")).cast(LongType))
      // (n−1)·10p is exact in double for n < 2^50, so floor(x/10.0) can only
      // misround at exact-integer quotients — and those are exact doubles.
      val hh = cw
        .withColumn("lo5", floor((col("n") - 1) * 5 / lit(10.0)))
        .withColumn("f5", ((col("n") - 1) * 5) % 10)
        .withColumn("lo9", floor((col("n") - 1) * 9 / lit(10.0)))
        .withColumn("f9", ((col("n") - 1) * 9) % 10)
      val sel = hh.groupBy("t").agg(
        max("n").as("n"), max("f5").as("f5"), max("f9").as("f9"),
        min(when(col("cum") >= col("lo5") + 1, col("v"))).as("v5a"),
        min(when(col("cum") >= col("lo5") + 2, col("v"))).as("v5b"),
        min(when(col("cum") >= col("lo9") + 1, col("v"))).as("v9a"),
        min(when(col("cum") >= col("lo9") + 2, col("v"))).as("v9b"))
      def interp(a: String, b: String, f: String) =
        col(a).cast(DoubleType) + (col(f) / lit(10.0)) *
          (coalesce(col(b), col(a)).cast(DoubleType) - col(a).cast(DoubleType))
      sel.select(col("t").as("event_type"), col("n"),
        interp("v5a", "v5b", "f5").as("q50"),
        interp("v9a", "v9b", "f9").as("q90"))
        .orderBy("event_type")
    },

    // ---- #132 exact 3σ outlier detection (zero floats) ---------------------
    // Per type: how many values sit beyond 3 population σ, plus the outlier
    // envelope. The boundary test is fully cross-multiplied integer
    // arithmetic — (n·x − S)² > 9·(n·Q − S²) over cent-scale BIGINTs lifted
    // to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) for the squares — so
    // membership is EXACT on both engines; no float ever decides a row.
    // Shape: one 5-row stats pass + one broadcast-joined flagging pass with
    // a predicate-gated collapse — facts are scanned twice, never shuffled.
    "outliers_exact" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t, CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
        |  FROM events),
        |m AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(xc) AS BIGINT) AS sx,
        |    SUM(CAST(xc AS HUGEINT) * xc) AS qx
        |  FROM f GROUP BY t),
        |j AS (
        |  SELECT f.t, f.v, m.n,
        |    CAST(m.n * f.xc - m.sx AS HUGEINT) AS dlt,
        |    CAST(m.n AS HUGEINT) * m.qx
        |      - CAST(m.sx AS HUGEINT) * m.sx AS nvar
        |  FROM f JOIN m ON f.t = m.t)
        |SELECT t AS event_type, MAX(n) AS n,
        |  CAST(COUNT(CASE WHEN dlt * dlt > 9 * nvar THEN 1 END) AS BIGINT)
        |    AS n_out,
        |  CAST(MIN(CASE WHEN dlt * dlt > 9 * nvar THEN v END) AS DOUBLE)
        |    AS min_out,
        |  CAST(MAX(CASE WHEN dlt * dlt > 9 * nvar THEN v END) AS DOUBLE)
        |    AS max_out
        |FROM j GROUP BY t ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val dec = col("value").cast(DecimalType(18, 2))
      val f = Tables(s, dir, "events")
        .select(col("event_type").as("t"), dec.as("v"),
          (dec * 100).cast(LongType).as("xc"))
      val big = DecimalType(38, 0)
      // qx accumulates in DECIMAL(38,0) (DuckDB: HUGEINT) — a LongType
      // xc*xc sum wraps silently under non-ANSI mode once n·max(xc)²
      // crosses 2^63, which is on the 100 TB path even though local SFs
      // never reach it (same discipline as skew_kurt's power sums).
      val xcBig = col("xc").cast(big)
      val m = f.groupBy("t").agg(count(lit(1)).as("n"),
        sum("xc").as("sx"), sum(xcBig * xcBig).as("qx"))
      val j = f.join(m, "t").select(col("t"), col("v"), col("n"),
        (col("n") * col("xc") - col("sx")).cast(big).as("dlt"),
        (col("n").cast(big) * col("qx").cast(big)
          - col("sx").cast(big) * col("sx").cast(big)).as("nvar"))
      val isOut = col("dlt") * col("dlt") > lit(9).cast(big) * col("nvar")
      j.groupBy("t").agg(max("n").as("n"),
        count(when(isOut, 1)).as("n_out"),
        min(when(isOut, col("v"))).cast(DoubleType).as("min_out"),
        max(when(isOut, col("v"))).cast(DoubleType).as("max_out"))
        .select(col("t").as("event_type"), col("n"), col("n_out"),
          col("min_out"), col("max_out"))
        .orderBy("event_type")
    },

    // ---- #133 Z-order (Morton) layout key ----------------------------------
    // The multi-dimensional clustering key behind Delta/Iceberg OPTIMIZE
    // ZORDER: interleave the low 16 bits of user_id with the cent-scale
    // value via the classic mask-spread ladder — pure codegen bit
    // arithmetic riding the scan, ONE bucket collapse. At 100 TB this key
    // is what you'd range-sort files by so min/max pruning works on BOTH
    // query dimensions; here it is surfaced as the per-bucket layout
    // histogram (count + zkey envelope per 64th of the curve).
    "zorder_key" -> OpDef(
      """WITH f AS (
        |  SELECT (user_id & 65535) AS a,
        |    (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) & 65535) AS b
        |  FROM events),
        |s1 AS (SELECT (a | (a << 8)) & 16711935 AS a,
        |              (b | (b << 8)) & 16711935 AS b FROM f),
        |s2 AS (SELECT (a | (a << 4)) & 252645135 AS a,
        |              (b | (b << 4)) & 252645135 AS b FROM s1),
        |s3 AS (SELECT (a | (a << 2)) & 858993459 AS a,
        |              (b | (b << 2)) & 858993459 AS b FROM s2),
        |s4 AS (SELECT (a | (a << 1)) & 1431655765 AS a,
        |              (b | (b << 1)) & 1431655765 AS b FROM s3),
        |z AS (SELECT a | (b << 1) AS zkey FROM s4)
        |SELECT zkey >> 26 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  MIN(zkey) AS zmin, MAX(zkey) AS zmax
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      def step(c: Column, sh: Int, mask: Long): Column =
        c.bitwiseOR(shiftleft(c, sh)).bitwiseAND(lit(mask))
      def spread(c: Column): Column =
        step(step(step(step(c, 8, 16711935L), 4, 252645135L),
          2, 858993459L), 1, 1431655765L)
      val f = Tables(s, dir, "events").select(
        col("user_id").bitwiseAND(lit(65535L)).as("a"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
          .bitwiseAND(lit(65535L)).as("b"))
      f.select(spread(col("a")).bitwiseOR(shiftleft(spread(col("b")), 1))
          .as("zkey"))
        .groupBy(shiftright(col("zkey"), 26).as("bucket"))
        .agg(count(lit(1)).as("cnt"), min("zkey").as("zmin"),
          max("zkey").as("zmax"))
        .orderBy("bucket")
    },

    // ---- #134 three damped PageRank iterations -----------------------------
    // Iterative distributed graph analytics on the supplier↔customer
    // bipartite graph (symmetrized so no node dangles). Ranks are
    // NORMALIZED (init 1, mean stays 1) so the round(·,6) per-iteration
    // parity clamp is SF-independent — raw 1/N ranks would vanish under any
    // fixed rounding at scale. Per iteration: ranks ⋈ weighted edges on src
    // (ranks is |nodes| ≪ |edges| — AQE broadcasts it at test SF; at real
    // scale both sides hash-partition on src), then one dst collapse. The
    // edge table is persisted across the three iterations (lazy multi-use
    // within one action, MEMORY_AND_DISK is LRU-evictable, and the bench/
    // verify harnesses clearCache between queries) — the production
    // iterative caller materializes edges once, like the IVF index build.
    "pagerank3" -> OpDef(
      """WITH e0 AS (
        |  SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR) AS src,
        |    'c' || CAST(o.o_custkey AS VARCHAR) AS dst
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT src, dst FROM e0
        |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |ew AS (
        |  SELECT e.src, e.dst, 1.0 / deg.d AS invd
        |  FROM e JOIN deg ON e.src = deg.src),
        |r1 AS (
        |  SELECT dst AS node, round(0.15 + 0.85 * SUM(1.0 * invd), 6) AS r
        |  FROM ew GROUP BY 1),
        |r2 AS (
        |  SELECT ew.dst AS node, round(0.15 + 0.85 * SUM(r1.r * ew.invd), 6) AS r
        |  FROM ew JOIN r1 ON ew.src = r1.node GROUP BY 1),
        |r3 AS (
        |  SELECT ew.dst AS node, round(0.15 + 0.85 * SUM(r2.r * ew.invd), 6) AS r
        |  FROM ew JOIN r2 ON ew.src = r2.node GROUP BY 1)
        |SELECT node, r AS rank FROM r3
        |ORDER BY r DESC, node LIMIT 20""".stripMargin
    ) { (s, dir) =>
      // r11b: graph keys are LONGS throughout the iterations — supplier k
      // ↦ 2k, customer k ↦ 2k+1 (an injective bipartite encoding) — and
      // the 's…'/'c…' node string materializes only on the final ≤|nodes|
      // read-out. The 2026-r9 string keys hashed and shuffled variable-
      // width UTF-8 through FOUR join+agg rounds; 8-byte keys cut the
      // standalone sf1 time 30.3 s → (measured below) and shrink every
      // exchange of the iteration pipeline at any scale.
      val e0 = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
        .distinct()
      val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
      // r17: no persist — ew's root is the e⋈deg join fed by exchanges and
      // the whole query is ONE action, so all three iterations carry the
      // IDENTICAL ew subtree and ReuseExchange computes it once; the
      // MEMORY_AND_DISK persist only added cache-build + columnar-read
      // overhead (the rfm_segments r17 lesson; measured 3.38 → 2.81 s).
      val ew = e.join(deg, "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("d")).as("invd"))
      def iterate(prev: DataFrame): DataFrame =
        ew.join(prev, ew("src") === prev("node"))
          .groupBy(ew("dst").as("node"))
          .agg(round(lit(0.15) + lit(0.85) * sum(col("r") * col("invd")), 6)
            .as("r"))
      val r0 = deg.select(col("src").as("node"), lit(1.0).as("r"))
      val r3 = iterate(iterate(iterate(r0)))
      // the output (and its r-then-node tie-break) is on the STRING node —
      // decode before the TakeOrdered so ordering matches the oracle
      r3.select(
          when(col("node") % 2 === 0,
            concat(lit("s"), (col("node") / 2).cast(LongType)))
            .otherwise(concat(lit("c"), ((col("node") - 1) / 2).cast(LongType)))
            .as("node"),
          col("r"))
        .orderBy(col("r").desc, col("node")).limit(20)
        .select(col("node"), col("r").as("rank"))
    },

    // ---- #217 strict-order funnel (CH windowFunnel strict_order mode) -----
    // Funnel level per user where the signup→click→purchase chain must be
    // CONTIGUOUS among tracked events (any interleaved tracked event
    // breaks it — CH's strict_order). Untracked types filter out at the
    // scan (no funnel semantics change, 40% fewer rows shuffle); the
    // per-user tracked-event history is the sequence_count sorted-letter
    // string, and strict contiguity is a plain substring test — 'scp'
    // contiguous in the tracked string IS the strict_order chain. Users
    // with no tracked events carry no funnel level (both engines drop
    // them identically).
    "funnel_strict_order" -> OpDef(
      """WITH m AS (
        |  SELECT user_id, ts, event_id,
        |    CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
        |                    ELSE 'p' END AS ch
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
        |u AS (
        |  SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS str
        |  FROM m GROUP BY user_id),
        |lv AS (
        |  SELECT user_id,
        |    CASE WHEN contains(str, 'scp') THEN 3
        |         WHEN contains(str, 'sc') THEN 2
        |         WHEN contains(str, 's') THEN 1
        |         ELSE 0 END AS level
        |  FROM u)
        |SELECT CAST(level AS BIGINT) AS level,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM lv GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val str = Tables(s, dir, "events")
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(col("user_id"), struct(col("ts"), col("event_id"),
          when(col("event_type") === "signup", "s")
            .when(col("event_type") === "click", "c")
            .otherwise("p").as("ch")).as("e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("user_id"),
          concat_ws("", col("es").getField("ch")).as("str"))
      str.select(
          when(col("str").contains("scp"), 3L)
            .when(col("str").contains("sc"), 2L)
            .when(col("str").contains("s"), 1L)
            .otherwise(0L).as("level"))
        .groupBy("level")
        .agg(count(lit(1)).cast(LongType).as("n_users"))
        .orderBy("level")
    },

    // ---- #227 strict-dedup funnel (CH windowFunnel strict_dedup mode) -----
    // The third windowFunnel mode: a REPEAT of any already-matched step
    // between chain steps interrupts the search (s…c with a second 's'
    // between them breaks; c…p with an interleaved 's' or 'c' breaks).
    // On the per-user sorted tracked-letter string that automaton IS the
    // regex s[^s]*c[^sc]*p — the character classes encode exactly the
    // "no repeat of a matched step" rule, so no state machine and no
    // second shuffle; same one-pass shape as #217.
    "funnel_strict_dedup" -> OpDef(
      """WITH m AS (
        |  SELECT user_id, ts, event_id,
        |    CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
        |                    ELSE 'p' END AS ch
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
        |u AS (
        |  SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS str
        |  FROM m GROUP BY user_id),
        |lv AS (
        |  SELECT user_id,
        |    CASE WHEN regexp_matches(str, 's[^s]*c[^sc]*p') THEN 3
        |         WHEN regexp_matches(str, 's[^s]*c') THEN 2
        |         WHEN contains(str, 's') THEN 1
        |         ELSE 0 END AS level
        |  FROM u)
        |SELECT CAST(level AS BIGINT) AS level,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM lv GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val str = Tables(s, dir, "events")
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(col("user_id"), struct(col("ts"), col("event_id"),
          when(col("event_type") === "signup", "s")
            .when(col("event_type") === "click", "c")
            .otherwise("p").as("ch")).as("e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(concat_ws("", col("es").getField("ch")).as("str"))
      str.select(
          when(col("str").rlike("s[^s]*c[^sc]*p"), 3L)
            .when(col("str").rlike("s[^s]*c"), 2L)
            .when(col("str").contains("s"), 1L)
            .otherwise(0L).as("level"))
        .groupBy("level")
        .agg(count(lit(1)).cast(LongType).as("n_users"))
        .orderBy("level")
    },

    // ---- #235 matched-chain events (CH sequenceMatchEvents surface) -------
    // For each user completing signup→click→purchase, the EVENT IDS of
    // the leftmost chain (first signup, first click after it, first
    // purchase after that) — seq_match's boolean upgraded to the actual
    // evidence rows. Three chained min-aggregates on the SAME user_id
    // clustering (each join keys on the previous agg's key → exchange
    // reuse, the retention discipline); order is exact (µs, event_id)
    // lexicographic on both engines.
    "seq_match_events" -> OpDef(
      """WITH m AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
        |                    ELSE 'p' END AS ch
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
        |s1 AS (SELECT user_id, MIN([us, event_id]) AS a
        |       FROM m WHERE ch = 's' GROUP BY 1),
        |s2 AS (SELECT m.user_id, MIN([m.us, m.event_id]) AS b
        |       FROM m JOIN s1 USING (user_id)
        |       WHERE m.ch = 'c' AND [m.us, m.event_id] > s1.a GROUP BY 1),
        |s3 AS (SELECT m.user_id, MIN([m.us, m.event_id]) AS c
        |       FROM m JOIN s2 USING (user_id)
        |       WHERE m.ch = 'p' AND [m.us, m.event_id] > s2.b GROUP BY 1)
        |SELECT s1.user_id, s1.a[2] AS signup_event, s2.b[2] AS click_event,
        |  s3.c[2] AS purchase_event
        |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin
    ) { (s, dir) =>
      val m = Tables(s, dir, "events")
        .filter(col("event_type").isin("signup", "click", "purchase"))
        .select(col("user_id"),
          struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid"))
            .as("k"),
          when(col("event_type") === "signup", "s")
            .when(col("event_type") === "click", "c")
            .otherwise("p").as("ch"))
      val s1 = m.filter(col("ch") === "s")
        .groupBy("user_id").agg(min("k").as("a"))
      val s2 = m.join(s1, "user_id")
        .filter(col("ch") === "c" && col("k") > col("a"))
        .groupBy("user_id").agg(min("k").as("b"))
      val s3 = m.join(s2, "user_id")
        .filter(col("ch") === "p" && col("k") > col("b"))
        .groupBy("user_id").agg(min("k").as("c"))
      s1.join(s2, "user_id").join(s3, "user_id")
        .select(col("user_id"), col("a.eid").as("signup_event"),
          col("b.eid").as("click_event"), col("c.eid").as("purchase_event"))
        .orderBy("user_id")
    },

    // ---- #236 bounded last-N array agg (CH groupArrayLast(N)) -------------
    // The N most recent (by ts, event_id) cents values per type as an
    // ordered scalar cell — group_array_sorted's recency twin, same
    // rank-then-collect bound: a row_number window keeps ≤ N rows per
    // group BEFORE any collect, state O(N) never O(group).
    "group_array_last" -> OpDef(
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type,
        |  string_agg(CAST(c AS VARCHAR), ',' ORDER BY rn DESC) AS last8
        |FROM r WHERE rn <= 8 GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val cents = (col("value").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      Tables(s, dir, "events")
        .select(col("event_type"), cents.as("c"), col("ts"), col("event_id"))
        .withColumn("rn", row_number().over(Window.partitionBy("event_type")
          .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") <= 8)
        .groupBy("event_type")
        // oldest-to-newest: sort by rn DESC via the (-rn) struct key
        .agg(concat_ws(",",
          sort_array(collect_list(
            struct((-col("rn")).as("o"), col("c").cast(StringType).as("c"))))
            .getField("c")).as("last8"))
        .orderBy("event_type")
    },

    // ---- #218 exact quantile bounds (CH quantileExactLow/High surface) ----
    // Low AND high exact-quantile variants for p ∈ {¼, ½, ¾} per event
    // type in one pass — the quantiles_exact_weighted discipline (collapse
    // to the (type, cents) grain, one cumulative window, cross-multiplied
    // INTEGER rank thresholds) with two selection rules: 1-based low
    // position ⌊(n−1)·k/4⌋+1, high position ⌈(n−1)·k/4⌉+1 — all-integer
    // arithmetic, so both engines pick identical cells with zero float
    // boundary drift.
    "quantile_exact_bounds" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, c, cnt,
        |    SUM(cnt) OVER (PARTITION BY t ORDER BY c) AS cum,
        |    SUM(cnt) OVER (PARTITION BY t) AS n
        |  FROM g)
        |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN cum >= ((n-1) * 1) // 4 + 1 THEN c END) AS q25_low_c,
        |  MIN(CASE WHEN cum >= ((n-1) * 1 + 3) // 4 + 1 THEN c END) AS q25_high_c,
        |  MIN(CASE WHEN cum >= ((n-1) * 2) // 4 + 1 THEN c END) AS q50_low_c,
        |  MIN(CASE WHEN cum >= ((n-1) * 2 + 3) // 4 + 1 THEN c END) AS q50_high_c,
        |  MIN(CASE WHEN cum >= ((n-1) * 3) // 4 + 1 THEN c END) AS q75_low_c,
        |  MIN(CASE WHEN cum >= ((n-1) * 3 + 3) // 4 + 1 THEN c END) AS q75_high_c
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"),
          (col("value").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).as("c"))
        .groupBy("t", "c").agg(count(lit(1)).as("cnt"))
      val part = Window.partitionBy("t")
      val w = g
        .withColumn("cum", sum("cnt").over(part.orderBy("c")))
        .withColumn("n", sum("cnt").over(part))
      // (n−1)·k and the +3 offset are non-negative → truncation == floor.
      def pos(k: Int, off: Int): Column =
        (((col("n") - 1) * k + off) / 4).cast(LongType) + 1
      def sel(k: Int, off: Int): Column =
        min(when(col("cum") >= pos(k, off), col("c")))
      w.groupBy("t").agg(max("n").cast(LongType).as("n"),
          sel(1, 0).as("q25_low_c"), sel(1, 3).as("q25_high_c"),
          sel(2, 0).as("q50_low_c"), sel(2, 3).as("q50_high_c"),
          sel(3, 0).as("q75_low_c"), sel(3, 3).as("q75_high_c"))
        .select(col("t").as("event_type"), col("n"),
          col("q25_low_c"), col("q25_high_c"), col("q50_low_c"),
          col("q50_high_c"), col("q75_low_c"), col("q75_high_c"))
        .orderBy("event_type")
    },

    // ---- #219 bounded sorted array agg (CH groupArraySorted(N)) -----------
    // The N smallest (value, event_id) rows per event type as an ordered
    // scalar cell. CH keeps an O(N) heap per group; the Spark shape with
    // the same bound is rank-then-collect: a row_number window keeps ≤ N
    // rows per group BEFORE any collect, so aggregation state is O(N),
    // never O(group) — the same reason topk_per_group never global-sorts.
    // (event_id breaks value ties totally → deterministic cell text.)
    "group_array_sorted" -> OpDef(
      """WITH r AS (
        |  SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
        |        event_id) AS rn
        |  FROM events)
        |SELECT event_type,
        |  string_agg(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS VARCHAR), ',' ORDER BY rn) AS smallest8
        |FROM r WHERE rn <= 8 GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val cents = (col("value").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)
      Tables(s, dir, "events")
        .select(col("event_type"), cents.as("c"), col("event_id"))
        .withColumn("rn", row_number().over(Window.partitionBy("event_type")
          .orderBy(col("c"), col("event_id"))))
        .filter(col("rn") <= 8)
        .groupBy("event_type")
        // the struct carries c pre-cast to string so getField yields
        // array<string> directly (concat_ws takes no bigint arrays)
        .agg(concat_ws(",",
          sort_array(collect_list(
            struct(col("rn"), col("c").cast(StringType).as("c"))))
            .getField("c")).as("smallest8"))
        .orderBy("event_type")
    },

    // ---- #220 time-decayed average (CH exponentialTimeDecayedAvg) ---------
    // The #129 decayed sum normalized by the decayed weight mass —
    // Σ x·2^(d−last) / Σ 2^(d−last) per user. Both folds use exact
    // power-of-two weights (exponent shifts of 2-decimal values), the
    // division is the single order-independent double step → round(·,4);
    // same one-shuffle window+collapse shape as #129.
    "exp_time_decayed_avg" -> OpDef(
      """WITH o AS (
        |  SELECT user_id, CAST(value AS DOUBLE) AS x,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    MAX(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      OVER (PARTITION BY user_id) AS last_d
        |  FROM events)
        |SELECT user_id,
        |  round(SUM(x * power(0.5, last_d - d))
        |    / SUM(power(0.5, last_d - d)), 4) AS decayed_avg,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val day = datediff(col("ts").cast(DateType),
        lit("1970-01-01").cast(DateType))
      val o = Tables(s, dir, "events")
        .select(col("user_id"), col("value").cast(DoubleType).as("x"),
          day.as("d"))
        .withColumn("last_d",
          max("d").over(Window.partitionBy("user_id")))
      val wgt = pow(lit(0.5), col("last_d") - col("d"))
      o.groupBy("user_id")
        .agg(round(sum(col("x") * wgt) / sum(wgt), 4).as("decayed_avg"),
          count(lit(1)).cast(LongType).as("n"))
        .orderBy("user_id")
    }
  )
}
