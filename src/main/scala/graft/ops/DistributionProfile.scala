package graft.ops

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.2 — distribution-shape profiling: exact rank statistics,
  * inequality/concentration indices and bounded histograms. Shared
  * discipline: facts collapse to the (group, value) grain
  * (ValueGrainCap-audited), rank selection is integer threshold
  * arithmetic over grain windows (never a fact sort), bucket ids come
  * from bit length / decimal strings (never floor(log)), products ride
  * DECIMAL(38,0)/HUGEINT. (Consolidated r9 from the r8 chronology files.)
  */
object DistributionProfile {

  private val kProp = get_json_object(col("props"), "$.k").cast(LongType)
  private val centsL =
    (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
  private val big = DecimalType(38, 0)
  private val epochDay = datediff(col("ts").cast(DateType),
    to_date(lit("1970-01-01"))).cast(LongType)

  val defs: Map[String, OpDef] = Map(
    // ---- #155 exact median with distribution-free CI ------------------------
    // medianExact plus the rank-based (order-statistic) 95% confidence
    // interval: the CI bounds are INTEGER ranks l = max(1, ⌊(n−1.96√n)/2⌋),
    // u = min(n, ⌈1+(n+1.96√n)/2⌉) — n is exact, √n is one scalar IEEE op
    // identical on both engines, and selection is the bank's grain-window
    // rank lookup (mad_exact discipline): facts collapse to the (type,
    // cents) value grain, rank selection rides the grain windows. No float
    // leaves the rank domain, so output cells are exact integer cents.
    "median_ci" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, c, cnt,
        |    SUM(cnt) OVER (PARTITION BY t ORDER BY c) AS cum,
        |    SUM(cnt) OVER (PARTITION BY t) AS n
        |  FROM g),
        |r AS (
        |  SELECT t, c, cum, n,
        |    GREATEST(CAST(1 AS BIGINT),
        |      CAST(floor((n - 1.96 * sqrt(n)) / 2) AS BIGINT)) AS lo_r,
        |    LEAST(n, CAST(ceil(1 + (n + 1.96 * sqrt(n)) / 2) AS BIGINT)) AS hi_r
        |  FROM w)
        |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN 2 * cum >= n THEN c END) AS median_c,
        |  MIN(CASE WHEN cum >= lo_r THEN c END) AS ci_lo_c,
        |  MIN(CASE WHEN cum >= hi_r THEN c END) AS ci_hi_c
        |FROM r GROUP BY t ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .groupBy("t", "c").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("t").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = g
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("t")))
      val loR = greatest(lit(1L),
        floor((col("n") - lit(1.96) * sqrt(col("n"))) / 2).cast(LongType))
      val hiR = least(col("n"),
        ceil(lit(1) + (col("n") + lit(1.96) * sqrt(col("n"))) / 2)
          .cast(LongType))
      val r = w.withColumn("lo_r", loR).withColumn("hi_r", hiR)
      r.groupBy("t").agg(max("n").cast(LongType).as("n"),
        min(when(lit(2) * col("cum") >= col("n"), col("c"))).as("median_c"),
        min(when(col("cum") >= col("lo_r"), col("c"))).as("ci_lo_c"),
        min(when(col("cum") >= col("hi_r"), col("c"))).as("ci_hi_c"))
        .select(col("t").as("event_type"), col("n"), col("median_c"),
          col("ci_lo_c"), col("ci_hi_c"))
        .orderBy("event_type")
    },

    // ---- #158 exact Gini coefficient ---------------------------------------
    // Per-type Gini over positive cents — the concentration/inequality
    // metric, EXACT at any SF: facts collapse to the (type, cents) value
    // grain, and Σᵢⱼ|xᵢ−xⱼ| becomes pure integer arithmetic on the grain's
    // exclusive prefix sums (each grain row × all strictly-smaller mass:
    // n·(c·cumN − cumS); within-row pairs differ by 0). One fact exchange;
    // windows ride grain rows partitioned BY TYPE (never partition-less);
    // products in DECIMAL(38,0)/HUGEINT; ONE double divide → round(·,4).
    "gini_inequality" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
        |g AS (SELECT t, c, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, c, n,
        |    COALESCE(SUM(CAST(n AS HUGEINT)) OVER pw, 0) AS cum_n,
        |    COALESCE(SUM(CAST(c AS HUGEINT) * n) OVER pw, 0) AS cum_s
        |  FROM g
        |  WINDOW pw AS (PARTITION BY t ORDER BY c
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |a AS (
        |  SELECT t, CAST(SUM(n) AS BIGINT) AS n_total,
        |    CAST(SUM(CAST(c AS HUGEINT) * n) AS DOUBLE) AS sum_x,
        |    CAST(SUM(CAST(n AS HUGEINT) * (CAST(c AS HUGEINT) * cum_n - cum_s))
        |      AS DOUBLE) AS sum_abs
        |  FROM w GROUP BY 1)
        |SELECT t AS event_type, n_total,
        |  round(sum_abs / (CAST(n_total AS DOUBLE) * sum_x), 4) AS gini
        |FROM a ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .filter(col("c") > 0)
        .groupBy("t", "c").agg(count(lit(1)).as("n"))
      val pw = Window.partitionBy("t").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val zero = lit(0).cast(big)
      val w = g
        .withColumn("cum_n", coalesce(sum(col("n").cast(big)).over(pw), zero))
        .withColumn("cum_s",
          coalesce(sum(col("c").cast(big) * col("n")).over(pw), zero))
      val a = w.groupBy("t").agg(
        sum("n").cast(LongType).as("n_total"),
        sum(col("c").cast(big) * col("n")).cast(DoubleType).as("sum_x"),
        sum(col("n").cast(big) *
          (col("c").cast(big) * col("cum_n") - col("cum_s")))
          .cast(DoubleType).as("sum_abs"))
      a.select(col("t").as("event_type"), col("n_total"),
        round(col("sum_abs") /
          (col("n_total").cast(DoubleType) * col("sum_x")), 4).as("gini"))
        .orderBy("event_type")
    },

    // ---- #159 one-pass column profile --------------------------------------
    // The data-quality profiling pass every ingest runs first: per column
    // of `events` — row count, null count, exact distinct count — in ONE
    // scan. Spark plans the 6 distinct aggregates as a single Expand (×7
    // over the scan) feeding one partial agg: one fact exchange total,
    // versus the naive 6 per-column scans. Output stacks to rows with an
    // inline explode of the 1-row aggregate (no extra pass). Counts only
    // — no value cells — so parity is engine-trivial.
    "profile_columns" -> OpDef(
      """SELECT 'event_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) - COUNT(event_id) AS BIGINT) AS n_null,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct FROM events
        |UNION ALL SELECT 'event_type', COUNT(*),
        |  COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'props', COUNT(*),
        |  COUNT(*) - COUNT(props), COUNT(DISTINCT props) FROM events
        |UNION ALL SELECT 'ts', COUNT(*),
        |  COUNT(*) - COUNT(ts), COUNT(DISTINCT ts) FROM events
        |UNION ALL SELECT 'user_id', COUNT(*),
        |  COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'value', COUNT(*),
        |  COUNT(*) - COUNT(value), COUNT(DISTINCT value) FROM events
        |ORDER BY col_name""".stripMargin
    ) { (s, dir) =>
      val cols = Seq("event_id", "event_type", "props", "ts", "user_id", "value")
      val a = Tables(s, dir, "events").agg(
        count(lit(1)).as("nr"),
        cols.flatMap(c => Seq(count(col(c)).as(s"cnt_$c"),
          countDistinct(col(c)).as(s"dst_$c"))): _*)
      a.select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"), col("nr").as("n_rows"),
            (col("nr") - col(s"cnt_$c")).as("n_null"),
            col(s"dst_$c").as("n_distinct"))): _*)).as("p"))
        .select(col("p.col_name"), col("p.n_rows").cast(LongType).as("n_rows"),
          col("p.n_null").cast(LongType).as("n_null"),
          col("p.n_distinct").cast(LongType).as("n_distinct"))
        .orderBy("col_name")
    },

    // ---- #163 mean family (arithmetic / geometric / harmonic) --------------
    // The CH avg/geometricMean/harmonicMean combinator family per type over
    // positive values: ONE partial-agg exchange carries n, Σcents (exact
    // decimal), Σln v and Σ1/v (per-term IEEE identical on both engines;
    // the fold is order-dependent → round(·,4) clamp, the bank's ln-fold
    // discipline).
    "mean_family" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0)
        |SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE) / 100 / COUNT(*), 4)
        |    AS mean_a,
        |  round(exp(SUM(ln(CAST(c AS DOUBLE) / 100)) / COUNT(*)), 4) AS mean_g,
        |  round(COUNT(*) / SUM(1.0 / (CAST(c AS DOUBLE) / 100)), 4) AS mean_h
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val vD = col("c").cast(DoubleType) / 100
      Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .filter(col("c") > 0)
        .groupBy("t").agg(
          count(lit(1)).cast(LongType).as("n"),
          round(sum(col("c").cast(big)).cast(DoubleType) / 100
            / count(lit(1)), 4).as("mean_a"),
          round(exp(sum(log(vD)) / count(lit(1))), 4).as("mean_g"),
          round(count(lit(1)) / sum(lit(1.0) / vD), 4).as("mean_h"))
        .select(col("t").as("event_type"), col("n"), col("mean_a"),
          col("mean_g"), col("mean_h"))
        .orderBy("event_type")
    },

    // ---- #172 Theil T inequality index -------------------------------------
    // T = (1/n) Σ (x/μ) ln(x/μ) per type over positive cents — the
    // decomposable inequality index next to gini_inequality (#158).
    // Facts collapse to the (type, cents) value grain; the fold weights
    // each grain row by its count, so the ln fold runs over GRAIN rows
    // (≤49k), not facts; μ is an exact-integer ratio evaluated once in
    // double — identical IEEE both engines; round(·,4) clamp.
    "theil_index" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
        |g AS (SELECT t, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY 1, 2),
        |m AS (
        |  SELECT t, c, cnt,
        |    CAST(SUM(CAST(cnt AS HUGEINT)) OVER (PARTITION BY t) AS BIGINT)
        |      AS n,
        |    CAST(SUM(CAST(c AS HUGEINT) * cnt) OVER (PARTITION BY t)
        |      AS DOUBLE) AS sx
        |  FROM g)
        |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  round(SUM(cnt * (c / (sx / n)) * ln(c / (sx / n))) / MAX(n), 4)
        |    AS theil_t
        |FROM m GROUP BY t ORDER BY t""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .filter(col("c") > 0)
        .groupBy("t", "c").agg(count(lit(1)).as("cnt"))
      val tp = Window.partitionBy("t")
      val m = g
        .withColumn("n", sum(col("cnt").cast(big)).over(tp).cast(LongType))
        .withColumn("sx",
          sum(col("c").cast(big) * col("cnt")).over(tp).cast(DoubleType))
      val mu = col("sx") / col("n")
      val ratio = col("c") / mu
      m.groupBy("t").agg(max("n").cast(LongType).as("n"),
        round(sum(col("cnt") * ratio * log(ratio)) / max("n"), 4)
          .as("theil_t"))
        .select(col("t").as("event_type"), col("n"), col("theil_t"))
        .orderBy("event_type")
    },

    // ---- #174 log2 (power-of-two) histogram --------------------------------
    // The CH-style log-scale value histogram: cents bucketed by BIT LENGTH
    // (bucket b covers [2^(b-1), 2^b)) per type. The bucket is the length
    // of the binary string — pure integer string arithmetic, engine-exact
    // (never floor(log2(x)), whose IEEE rounding at exact powers of two
    // is library-dependent). ONE collapse to the ≤40-cell (type, bucket)
    // grain; share is one divide over a grain window → round(·,4).
    "log2_histogram" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
        |g AS (
        |  SELECT t, CAST(length(printf('%b', c)) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sum_c
        |  FROM f GROUP BY 1, 2)
        |SELECT t AS event_type, bucket, n, sum_c,
        |  round(CAST(n AS DOUBLE)
        |    / SUM(n) OVER (PARTITION BY t), 4) AS share
        |FROM g ORDER BY t, bucket""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .filter(col("c") > 0)
        .groupBy(col("t"), length(bin(col("c"))).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("c").cast(LongType).as("sum_c"))
      g.withColumn("share",
          round(col("n").cast(DoubleType)
            / sum("n").over(Window.partitionBy("t")), 4))
        .select(col("t").as("event_type"), col("bucket"), col("n"),
          col("sum_c"), col("share"))
        .orderBy("event_type", "bucket")
    },

    // ---- #175 CDF at fixed probe thresholds --------------------------------
    // F(x) = P(value ≤ x) per type at the five standard report thresholds
    // — the fixed-probe empirical CDF a dashboard queries instead of full
    // quantiles. ALL five probes ride ONE conditional partial agg (the
    // agg_if / -If combinator discipline): one fact exchange, zero
    // windows, zero joins; stacked to probe rows by an inline explode of
    // the 5-cell aggregate. Exact integer counts; one divide → round(·,4).
    "value_cdf_probes" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |m AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(CASE WHEN c <= 1000 THEN 1 END) AS BIGINT) AS le_1000,
        |    CAST(COUNT(CASE WHEN c <= 2500 THEN 1 END) AS BIGINT) AS le_2500,
        |    CAST(COUNT(CASE WHEN c <= 5000 THEN 1 END) AS BIGINT) AS le_5000,
        |    CAST(COUNT(CASE WHEN c <= 7500 THEN 1 END) AS BIGINT) AS le_7500,
        |    CAST(COUNT(CASE WHEN c <= 9000 THEN 1 END) AS BIGINT) AS le_9000
        |  FROM f GROUP BY 1),
        |u AS (
        |  SELECT t, n, 1000 AS probe_c, le_1000 AS n_le FROM m
        |  UNION ALL SELECT t, n, 2500, le_2500 FROM m
        |  UNION ALL SELECT t, n, 5000, le_5000 FROM m
        |  UNION ALL SELECT t, n, 7500, le_7500 FROM m
        |  UNION ALL SELECT t, n, 9000, le_9000 FROM m)
        |SELECT t AS event_type, CAST(probe_c AS BIGINT) AS probe_c, n_le,
        |  round(CAST(n_le AS DOUBLE) / n, 4) AS cdf
        |FROM u ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val probes = Seq(1000L, 2500L, 5000L, 7500L, 9000L)
      val m = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .groupBy("t")
        .agg(count(lit(1)).as("n"),
          probes.map(p =>
            count(when(col("c") <= p, 1)).as(s"le_$p")): _*)
      m.select(col("t"), col("n"), explode(array(probes.map(p =>
          struct(lit(p).as("probe_c"), col(s"le_$p").as("n_le"))): _*)).as("p"))
        .select(col("t").as("event_type"),
          col("p.probe_c").cast(LongType).as("probe_c"),
          col("p.n_le").cast(LongType).as("n_le"),
          round(col("p.n_le").cast(DoubleType) / col("n"), 4).as("cdf"))
        .orderBy("event_type", "probe_c")
    },

    // ---- #180 Hill tail-index estimator ------------------------------------
    // α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1-ish)) over the k = 100 largest cents
    // per type — the standard power-law tail-heaviness estimator (is this
    // type's spend distribution Pareto-like?). The top-k multiset is
    // selected on the (type, cents) VALUE GRAIN with clamp arithmetic
    // (trimmed_mean discipline, from the top): each grain row contributes
    // min(cnt, k − cumAbove) copies — facts never sort, rank windows ride
    // per-type grain partitions. x_ref = the k-th largest (nearest-rank).
    // The ≤k-term ln fold → round(·,4) clamp.
    "hill_tail" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
        |g AS (SELECT t, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, c, cnt,
        |    COALESCE(SUM(cnt) OVER (PARTITION BY t ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above,
        |    SUM(cnt) OVER (PARTITION BY t) AS n
        |  FROM g),
        |sel AS (
        |  SELECT t, c,
        |    GREATEST(0, LEAST(cnt, 100 - above)) AS take,
        |    COALESCE(MAX(CASE WHEN above + cnt >= 100 THEN c END)
        |      OVER (PARTITION BY t), MIN(c) OVER (PARTITION BY t)) AS x_ref,
        |    n
        |  FROM w)
        |SELECT t AS event_type, CAST(SUM(take) AS BIGINT) AS k_eff,
        |  CAST(MAX(x_ref) AS BIGINT) AS x_ref_c,
        |  round(SUM(take) / NULLIF(SUM(take * ln(CAST(c AS DOUBLE) / x_ref)), 0),
        |    4) AS hill_alpha
        |FROM sel WHERE take > 0 GROUP BY t ORDER BY t""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .filter(col("c") > 0)
        .groupBy("t", "c").agg(count(lit(1)).as("cnt"))
      val desc = Window.partitionBy("t").orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val tp = Window.partitionBy("t")
      val w = g
        .withColumn("above", coalesce(sum("cnt").over(desc), lit(0L)))
        .withColumn("n", sum("cnt").over(tp))
      val sel = w
        .withColumn("take",
          greatest(lit(0L), least(col("cnt"), lit(100L) - col("above"))))
        .withColumn("x_ref",
          // the k-th largest = the LARGEST c whose inclusive from-the-top
          // cumulative reaches k (every later row also qualifies — min
          // would pick the distribution's smallest value). A type with
          // FEWER than k=100 grain rows has no such c; k=min(100,n) then
          // selects everything and the k-th largest is the minimum — the
          // COALESCE fallback (without it, x_ref is NULL and hill_alpha
          // silently NULLs while k_eff still reports the clamped count)
          coalesce(max(when(col("above") + col("cnt") >= 100, col("c"))).over(tp),
            min("c").over(tp)))
      sel.filter(col("take") > 0)
        .groupBy("t").agg(
          sum("take").cast(LongType).as("k_eff"),
          max("x_ref").cast(LongType).as("x_ref_c"),
          sum(col("take") * log(col("c").cast(DoubleType) / col("x_ref")))
            .as("lnsum"))
        .select(col("t").as("event_type"), col("k_eff"), col("x_ref_c"),
          // NULLIF guard: a single-distinct-value group folds ln(1)=0 —
          // NULL (both engines) beats an engine-dependent div-by-zero
          round(when(col("lnsum") =!= 0.0,
            col("k_eff").cast(DoubleType) / col("lnsum")), 4).as("hill_alpha"))
        .orderBy("event_type")
    },

    // ---- #186 revenue concentration (Pareto / 80-20 curve) -----------------
    // Share of total revenue carried by the top 1% / 5% / 10% of users by
    // spend — THE concentration read-out next to gini_inequality. User
    // totals collapse on ONE user exchange (exact cents); the top-p%
    // multisets are selected on the (user-total cents) VALUE GRAIN with
    // clamp arithmetic (hill_tail discipline — user rows never sort);
    // all three cuts ride the SAME grain windows. The grain is
    // CapacityPins-audited (distinct 2-dp user totals). Products in
    // DECIMAL(38,0)/HUGEINT; one divide per row → round(·,4).
    "revenue_concentration" -> OpDef(
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |g AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY 1),
        |w AS (
        |  SELECT c, cnt,
        |    COALESCE(SUM(cnt) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above,
        |    CAST(SUM(cnt) OVER () AS BIGINT) AS nu,
        |    CAST(SUM(CAST(c AS HUGEINT) * cnt) OVER () AS DOUBLE) AS tot
        |  FROM g),
        |p AS (
        |  SELECT * FROM (VALUES (1), (5), (10)) AS v(pct)),
        |s AS (
        |  SELECT p.pct, w.nu, w.tot,
        |    GREATEST(0, LEAST(w.cnt,
        |      CAST(ceil(p.pct * w.nu / 100.0) AS BIGINT) - w.above)) AS take,
        |    w.c
        |  FROM w CROSS JOIN p)
        |SELECT CAST(pct AS BIGINT) AS pct,
        |  CAST(SUM(take) AS BIGINT) AS n_users_top,
        |  round(CAST(SUM(CAST(c AS HUGEINT) * take) AS DOUBLE) / MAX(tot), 4)
        |    AS revenue_share
        |FROM s GROUP BY pct ORDER BY pct""".stripMargin
    ) { (s, dir) =>
      val u = Tables(s, dir, "events")
        .select(col("user_id"), centsL.as("c"))
        .groupBy("user_id").agg(sum("c").cast(LongType).as("c"))
      val g = u.groupBy("c").agg(count(lit(1)).as("cnt"))
      val desc = Window.orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val all = Window.partitionBy()
      val w = g
        .withColumn("above", coalesce(sum("cnt").over(desc), lit(0L)))
        .withColumn("nu", sum("cnt").over(all).cast(LongType))
        .withColumn("tot",
          sum(col("c").cast(big) * col("cnt")).over(all).cast(DoubleType))
      val pcts = Seq(1, 5, 10)
      val stacked = w.select(col("c"), col("cnt"), col("above"), col("nu"),
          col("tot"), explode(array(pcts.map(p => lit(p)): _*)).as("pct"))
        .withColumn("take",
          greatest(lit(0L), least(col("cnt"),
            ceil(col("pct") * col("nu") / lit(100.0)).cast(LongType)
              - col("above"))))
      stacked.groupBy("pct").agg(
          sum("take").cast(LongType).as("n_users_top"),
          round(sum(col("c").cast(big) * col("take")).cast(DoubleType)
            / max("tot"), 4).as("revenue_share"))
        .select(col("pct").cast(LongType).as("pct"), col("n_users_top"),
          col("revenue_share"))
        .orderBy("pct")
    },

    // ---- #196 orders-per-customer distribution -----------------------------
    // The two-level entity rollup: orders collapse to the customer grain
    // (count + exact cents total per customer), then the DISTRIBUTION of
    // those per-customer counts is read exactly off the count grain with
    // nearest-rank selection — entity stats without ever sorting entity
    // rows. Both collapses + the rank windows are grain-sized; pure
    // integers end to end.
    "orders_per_customer_stats" -> OpDef(
      """WITH c AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |g AS (SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM c GROUP BY 1),
        |w AS (
        |  SELECT n_orders, cnt,
        |    SUM(cnt) OVER (ORDER BY n_orders) AS cum,
        |    SUM(cnt) OVER () AS n
        |  FROM g)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.50 * n) THEN n_orders END)
        |    AS BIGINT) AS p50_orders,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.90 * n) THEN n_orders END)
        |    AS BIGINT) AS p90_orders,
        |  CAST(MAX(n_orders) AS BIGINT) AS max_orders
        |FROM w""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      val g = c.groupBy("n_orders").agg(count(lit(1)).as("cnt"))
      val cum = Window.orderBy("n_orders")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = g
        .withColumn("cum", sum("cnt").over(cum))
        .withColumn("n", sum("cnt").over(Window.partitionBy()))
      def sel(q: Double): Column =
        min(when(col("cum") >= ceil(lit(q) * col("n")), col("n_orders")))
          .cast(LongType)
      w.agg(max("n").cast(LongType).as("n_customers"),
        sel(0.50).as("p50_orders"), sel(0.90).as("p90_orders"),
        max("n_orders").cast(LongType).as("max_orders"))
    },

    // ---- #228 deterministic-sample median (CH quantileDeterministic) -------
    // CH's quantileDeterministic(x, determinator): the quantile of a
    // FIXED-SIZE sample selected by a deterministic hash of the
    // determinator (event_id) — same rows chosen on every engine and
    // every run, so even the SAMPLING regime is hash-exact (the topK
    // exact-regime move, applied to a sampler). Scale shape: the 8192-th
    // smallest hash is found WITHOUT a row-grain window — a scan-riding
    // hash pre-filter (4× the expected threshold, off a 5-row count
    // broadcast) bounds the candidates to ~4·8192 per type, and only
    // those survivors rank; the median then reads off the sample's value
    // grain with integer thresholds. n ≤ 8192 degenerates to the exact
    // median (pinned at small SF); n ≫ 8192 is a true sample (sf1).
    "quantile_deterministic" -> OpDef(
      s"""WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    ${parity.md5LongSql("CAST(event_id AS VARCHAR)")} AS h
        |  FROM events),
        |n AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS nt FROM f GROUP BY 1),
        |cand AS (
        |  SELECT f.t, f.c, f.h FROM f JOIN n USING (t)
        |  WHERE n.nt <= 8192
        |     OR f.h <= CAST(1152921504606846975 / n.nt AS BIGINT) * 32768),
        |smp AS (
        |  SELECT t, c,
        |    row_number() OVER (PARTITION BY t ORDER BY h, c) AS rn
        |  FROM cand),
        |g AS (SELECT t, c, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM smp WHERE rn <= 8192 GROUP BY 1, 2),
        |w AS (
        |  SELECT t, c, cnt,
        |    SUM(cnt) OVER (PARTITION BY t ORDER BY c) AS cum,
        |    SUM(cnt) OVER (PARTITION BY t) AS ns
        |  FROM g)
        |SELECT w.t AS event_type, n.nt AS n_total,
        |  CAST(MAX(w.ns) AS BIGINT) AS n_sample,
        |  MIN(CASE WHEN 2 * w.cum >= w.ns THEN w.c END) AS med_c
        |FROM w JOIN n ON w.t = n.t
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val f = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"),
          parity.md5Long(col("event_id").cast(StringType)).as("h"))
      val n = f.groupBy("t").agg(count(lit(1)).as("nt"))
      // threshold ≈ hashSpace·(8192/nt)·4: (2^60−1)/nt · 8192·4 in exact
      // integer arithmetic; survivors ≈ 4·8192 per type (margin-miss
      // probability is Chernoff-negligible), so the rank window runs on a
      // bounded grain, never the fact table
      val cand = f.join(broadcast(n), "t")
        .filter(col("nt") <= 8192 ||
          col("h") <= (lit(1152921504606846975L) / col("nt")) * 32768)
      val smp = cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("t").orderBy(col("h"), col("c"))))
        .filter(col("rn") <= 8192)
      val part = Window.partitionBy("t")
      val w = smp.groupBy("t", "c").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(part.orderBy("c")))
        .withColumn("ns", sum("cnt").over(part))
      w.groupBy("t")
        .agg(max("ns").cast(LongType).as("n_sample"),
          min(when(lit(2) * col("cum") >= col("ns"), col("c"))).as("med_c"))
        .join(broadcast(n), "t")
        .select(col("t").as("event_type"), col("nt").cast(LongType)
          .as("n_total"), col("n_sample"), col("med_c"))
        .orderBy("event_type")
    },

    // ---- #229 winsorized mean (trimmed_mean's clamping twin) ---------------
    // Mean with the tails CLAMPED to the exact p10/p90 values instead of
    // dropped — the robust-stats variant monitoring uses when outliers
    // should saturate, not vanish. Bounds come off the value grain with
    // cross-multiplied integer ranks; the winsorized total is then a pure
    // INTEGER fold over the same grain (cnt·clamp(c, lo, hi)) — exact at
    // any scale, one double division at the end.
    "winsorized_mean" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, c, cnt,
        |    SUM(cnt) OVER (PARTITION BY t ORDER BY c) AS cum,
        |    SUM(cnt) OVER (PARTITION BY t) AS n
        |  FROM g),
        |b AS (
        |  SELECT t, CAST(MAX(n) AS BIGINT) AS n,
        |    MIN(CASE WHEN 10 * cum >= n THEN c END) AS lo,
        |    MIN(CASE WHEN 10 * cum >= 9 * n THEN c END) AS hi
        |  FROM w GROUP BY 1)
        |SELECT g.t AS event_type, b.n,
        |  b.lo AS p10_c, b.hi AS p90_c,
        |  round(CAST(SUM(g.cnt * CASE WHEN g.c < b.lo THEN b.lo
        |      WHEN g.c > b.hi THEN b.hi ELSE g.c END) AS DOUBLE)
        |    / b.n / 100, 4) AS winsorized_mean
        |FROM g JOIN b ON g.t = b.t
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), centsL.as("c"))
        .groupBy("t", "c").agg(count(lit(1)).as("cnt"))
      val part = Window.partitionBy("t")
      val w = g
        .withColumn("cum", sum("cnt").over(part.orderBy("c")))
        .withColumn("n", sum("cnt").over(part))
      val b = w.groupBy("t")
        .agg(max("n").cast(LongType).as("n"),
          min(when(lit(10) * col("cum") >= col("n"), col("c"))).as("lo"),
          min(when(lit(10) * col("cum") >= lit(9) * col("n"), col("c")))
            .as("hi"))
      g.join(b, "t")
        .groupBy(col("t"), col("n"), col("lo"), col("hi"))
        .agg(round(
          sum(col("cnt") * when(col("c") < col("lo"), col("lo"))
            .when(col("c") > col("hi"), col("hi")).otherwise(col("c")))
            .cast(DoubleType) / col("n") / 100, 4).as("winsorized_mean"))
        .select(col("t").as("event_type"), col("n"),
          col("lo").as("p10_c"), col("hi").as("p90_c"),
          col("winsorized_mean"))
        .orderBy("event_type")
    },

    // ---- #245 interpolated weighted quantile (CH surface) ------------------
    // CH quantileInterpolatedWeighted: the quantile of the weight-expanded
    // multiset with LINEAR interpolation between adjacent distinct values
    // (weight = the json k prop). Positions are pure integers on the
    // cumulative-weight grain — rank i = ⌊(W−1)·p⌋+1 and the fractional
    // part both come from ONE integer division of exact integers, and the
    // two bracketing values are min-over-threshold selections (the
    // quantiles_exact_weighted discipline); the interpolation is the
    // single IEEE step → round(·,4). A group with total weight W = 1 has
    // no upper bracket (rank i+1 = 2 > W) — but its fractional part is 0,
    // so coalesce(hi, lo) recovers the exact single value there (and is a
    // no-op whenever hi exists).
    "quantile_interp_weighted" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(SUM(CAST(json_extract_string(props, 'k') AS BIGINT))
        |      AS BIGINT) AS w
        |  FROM events
        |  WHERE CAST(json_extract_string(props, 'k') AS BIGINT) > 0
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT t, v, w,
        |    SUM(w) OVER (PARTITION BY t ORDER BY v) AS cumw,
        |    SUM(w) OVER (PARTITION BY t) AS tw
        |  FROM g),
        |a AS (
        |  SELECT t, CAST(MAX(tw) AS BIGINT) AS tw,
        |    MIN(CASE WHEN cumw >= (tw - 1) // 2 + 1 THEN v END) AS lo50,
        |    MIN(CASE WHEN cumw >= (tw - 1) // 2 + 2 THEN v END) AS hi50,
        |    MIN(CASE WHEN cumw >= ((tw - 1) * 9) // 10 + 1 THEN v END)
        |      AS lo90,
        |    MIN(CASE WHEN cumw >= ((tw - 1) * 9) // 10 + 2 THEN v END)
        |      AS hi90
        |  FROM c GROUP BY t)
        |SELECT t AS event_type, tw AS total_weight,
        |  round((lo50 + ((tw - 1) % 2) / 2.0
        |    * (coalesce(hi50, lo50) - lo50)) / 100.0, 4) AS p50_w,
        |  round((lo90 + (((tw - 1) * 9) % 10) / 10.0
        |    * (coalesce(hi90, lo90) - lo90)) / 100.0, 4) AS p90_w
        |FROM a ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .filter(kProp > 0)
        .select(col("event_type").as("t"), centsL.as("v"), kProp.as("wgt"))
        .groupBy("t", "v").agg(sum("wgt").cast(LongType).as("w"))
      val part = Window.partitionBy("t")
      val c = g
        .withColumn("cumw", sum("w").over(part.orderBy("v")))
        .withColumn("tw", sum("w").over(part))
      val a = c.groupBy("t")
        .agg(max("tw").cast(LongType).as("tw"),
          min(when(col("cumw") >= expr("(tw - 1) div 2 + 1"), col("v")))
            .as("lo50"),
          min(when(col("cumw") >= expr("(tw - 1) div 2 + 2"), col("v")))
            .as("hi50"),
          min(when(col("cumw") >= expr("((tw - 1) * 9) div 10 + 1"),
            col("v"))).as("lo90"),
          min(when(col("cumw") >= expr("((tw - 1) * 9) div 10 + 2"),
            col("v"))).as("hi90"))
      a.select(col("t").as("event_type"), col("tw").as("total_weight"),
          round((col("lo50") + expr("(tw - 1) % 2") / 2.0
            * (coalesce(col("hi50"), col("lo50")) - col("lo50"))) / 100.0, 4)
            .as("p50_w"),
          round((col("lo90") + expr("((tw - 1) * 9) % 10") / 10.0
            * (coalesce(col("hi90"), col("lo90")) - col("lo90"))) / 100.0, 4)
            .as("p90_w"))
        .orderBy("event_type")
    },

    // ---- #246 Lorenz curve decile points -----------------------------------
    // cum_share(d) = share of total purchase revenue held by the bottom
    // ⌊n·d/10⌋ users — the curve gini_inequality integrates, read out at
    // the 10 decile cuts. The 100 TB move: NO per-user ranking window.
    // Users collapse once, then collapse again to the revenue VALUE grain
    // (cnt users + group revenue per distinct cents value); cumulative
    // users/revenue ride the bounded grain, and the decile cut lands
    // INSIDE a tie group by linear apportionment ((cumcnt−k_d)·v backed
    // out) — exact because equal-revenue users are interchangeable. The
    // ≤10-row decile frame broadcasts onto the grain; integers/DECIMAL
    // end to end, one divide per point → round(·,6). A decile whose
    // cutoff ⌊n·d/10⌋ is 0 (n < 10 users) has no grain row to land in —
    // those are emitted explicitly with cum_share 0.0 (the bottom 0 users
    // hold 0 revenue) rather than silently dropped.
    "lorenz_points" -> OpDef(
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |g AS (SELECT rev, CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY 1),
        |c AS (
        |  SELECT rev, cnt,
        |    SUM(cnt) OVER (ORDER BY rev) AS cumcnt,
        |    SUM(CAST(rev AS HUGEINT) * cnt) OVER (ORDER BY rev) AS cumrev,
        |    SUM(cnt) OVER () AS n,
        |    SUM(CAST(rev AS HUGEINT) * cnt) OVER () AS tot
        |  FROM g)
        |SELECT CAST(t.d AS BIGINT) AS decile,
        |  CAST((n * t.d) // 10 AS BIGINT) AS cutoff_users,
        |  round(CAST(cumrev - (cumcnt - (n * t.d) // 10) * rev AS DOUBLE)
        |    / CAST(tot AS DOUBLE), 6) AS cum_share
        |FROM c CROSS JOIN range(1, 11) AS t(d)
        |WHERE cumcnt - cnt < (n * t.d) // 10
        |  AND (n * t.d) // 10 <= cumcnt
        |UNION ALL
        |SELECT CAST(t.d AS BIGINT) AS decile,
        |  CAST(0 AS BIGINT) AS cutoff_users,
        |  CAST(0.0 AS DOUBLE) AS cum_share
        |FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g) z
        |CROSS JOIN range(1, 11) AS t(d)
        |WHERE (z.n * t.d) // 10 = 0
        |ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val u = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(sum(centsL).cast(LongType).as("rev"))
      val g = u.groupBy("rev").agg(count(lit(1)).as("cnt"))
      val all = Window.orderBy("rev")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val c = g
        .withColumn("cumcnt", sum("cnt").over(Window.orderBy("rev")))
        .withColumn("cumrev",
          sum(col("rev").cast(big) * col("cnt")).over(Window.orderBy("rev")))
        .withColumn("n", sum("cnt").over(all))
        .withColumn("tot", sum(col("rev").cast(big) * col("cnt")).over(all))
      val deciles = broadcast(s.range(1, 11).toDF("d"))
      val hit = c.crossJoin(deciles)
        .withColumn("kd", expr("(n * d) div 10"))
        .filter(col("cumcnt") - col("cnt") < col("kd") &&
          col("kd") <= col("cumcnt"))
        .select(col("d").as("decile"), col("kd").as("cutoff_users"),
          round((col("cumrev")
            - (col("cumcnt") - col("kd")).cast(big) * col("rev"))
            .cast(DoubleType) / col("tot").cast(DoubleType), 6)
            .as("cum_share"))
      // n < 10 users ⇒ leading deciles have cutoff 0 and no grain row —
      // emit them with cum_share 0.0 (1-row aggregate, ≤10-row frame)
      val zero = g.agg(sum("cnt").cast(LongType).as("n"))
        .crossJoin(deciles)
        .filter(expr("(n * d) div 10") === 0)
        .select(col("d").as("decile"), lit(0L).as("cutoff_users"),
          lit(0.0).as("cum_share"))
      hit.union(zero).orderBy("decile")
    },

    // ---- #257 deterministic weighted sampling (Efraimidis-Spirakis) --------
    // Weight-proportional sampling WITHOUT replacement, top-10 per type:
    // each row gets key = ln(u)/w with u ∈ (0,1] derived from the
    // portable md5 hash of its event_id (the A-ES scheme — taking the k
    // largest keys IS a w-proportional sample), so the "random" draw is
    // deterministic, replayable, and identical across engines. The scale
    // shape every importance-sampling pipeline needs: the key is a
    // scan-riding scalar, selection is one bounded rank window per group
    // (k rows survive) — no global sort, no RNG state, re-runs pick the
    // same rows. Ordering doubles are computed by the identical IEEE
    // chain both sides; event_id breaks (improbable) key ties.
    "weighted_sample_es" -> OpDef(
      s"""WITH w AS (
         |  SELECT event_type, event_id,
         |    CAST(json_extract_string(props, 'k') AS BIGINT) AS wt,
         |    ln(CAST((('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
         |        + 1) AS DOUBLE) / 1152921504606846976.0)
         |      / CAST(json_extract_string(props, 'k') AS BIGINT) AS key
         |  FROM events
         |  WHERE CAST(json_extract_string(props, 'k') AS BIGINT) > 0),
         |r AS (
         |  SELECT event_type, event_id, wt,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY key DESC, event_id) AS rn
         |  FROM w)
         |SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id, wt
         |FROM r WHERE rn <= 10 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val wt = kProp
      val u = (graft.ops.parity.md5Long(col("event_id").cast(StringType))
        + 1).cast(DoubleType) / lit(1152921504606846976.0)
      val w = Tables(s, dir, "events")
        .filter(kProp > 0)
        .select(col("event_type"), col("event_id"), wt.as("wt"),
          (log(u) / wt).as("key"))
      val win = Window.partitionBy("event_type")
        .orderBy(col("key").desc, col("event_id"))
      w.withColumn("rn", row_number().over(win).cast(LongType))
        .filter(col("rn") <= 10)
        .select("event_type", "rn", "event_id", "wt")
        .orderBy("event_type", "rn")
    }
  )
}
