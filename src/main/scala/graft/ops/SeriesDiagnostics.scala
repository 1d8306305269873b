package graft.ops

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.2 — time-series diagnostics over the event stream: frame
  * windows, daily-grain collapses and seasonality/trend read-outs. Shared
  * discipline: facts collapse ONCE to a calendar-bounded grain (day /
  * week / hour), every window rides that grain or a single
  * hashpartitioning(user_id) exchange, arithmetic is exact integers or
  * DECIMAL power sums with one IEEE chain -> round(.,4) at the boundary.
  * (Consolidated r9 from the r8 chronology files - no behavior change.)
  */
object SeriesDiagnostics {

  private val kProp = get_json_object(col("props"), "$.k").cast(LongType)
  private val centsL =
    (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
  private val big = DecimalType(38, 0)
  private val epochDay = datediff(col("ts").cast(DateType),
    to_date(lit("1970-01-01"))).cast(LongType)

  val defs: Map[String, OpDef] = Map(
    // ---- #153 RANGE-frame sliding sum --------------------------------------
    // Trailing-7-day spend per user at EVERY event row — the sliding
    // aggregate shape that at 100 TB must be a bounded RANGE frame riding
    // ONE hashpartitioning(user_id) exchange, never a self-join on a date
    // band (which re-shuffles the fact table ~7×). Peers on the same day
    // share one frame, so the result is row-order independent; cents stay
    // exact integers end to end.
    "range_window_sum" -> OpDef(
      """WITH f AS (
        |  SELECT event_id, user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events)
        |SELECT event_id, user_id, CAST(ed AS BIGINT) AS ed,
        |  CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY ed
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS trail7_cents
        |FROM f ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ed").rangeBetween(-6, 0)
      Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), epochDay.as("ed"),
          centsL.as("c"))
        .withColumn("trail7_cents", sum("c").over(w).cast(LongType))
        .drop("c")
        .orderBy("event_id")
    },

    // ---- #268 classical additive series decomposition ----------------------
    // The seriesDecompose surface: per (type, day) count split into
    // trend + seasonal + residual. Trend = centered 7-row moving average
    // on the OBSERVED day series; detrended stays INTEGER as 7·n − s7;
    // seasonal(dow) = mean detrended of that weekday minus the overall
    // detrended mean — both single integer ratios, so the whole
    // decomposition is exact integers until a fixed 2-divide/1-subtract
    // IEEE chain → round(·,4) (divides by 7·k never terminate in
    // decimal, so cross-engine round midpoints can't arise). Scale
    // shape: ONE collapse to the calendar-bounded (type, day) grain;
    // the ROWS window, the ≤ types×7 dow collapse and the ≤ types
    // totals all ride that grain; both correction frames broadcast.
    "series_decompose" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT t, d, n,
        |    CAST(SUM(n) OVER w7 AS BIGINT) AS s7,
        |    CAST(COUNT(*) OVER w7 AS BIGINT) AS c7,
        |    (d + 4) % 7 AS dow
        |  FROM g WINDOW w7 AS (PARTITION BY t ORDER BY d
        |                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |q AS (SELECT *, CASE WHEN c7 = 7 THEN 7 * n - s7 END AS dt7 FROM p),
        |da AS (SELECT t, dow, CAST(SUM(dt7) AS BIGINT) AS sd,
        |         CAST(COUNT(*) AS BIGINT) AS k
        |       FROM q WHERE c7 = 7 GROUP BY 1, 2),
        |ta AS (SELECT t, CAST(SUM(dt7) AS BIGINT) AS tsd,
        |         CAST(COUNT(*) AS BIGINT) AS tk
        |       FROM q WHERE c7 = 7 GROUP BY 1)
        |SELECT q.t AS event_type, q.d, q.n,
        |  round(CASE WHEN c7 = 7 THEN CAST(s7 AS DOUBLE) / 7 END, 4)
        |    AS trend,
        |  round(CAST(sd AS DOUBLE) / (7 * k)
        |    - CAST(tsd AS DOUBLE) / (7 * tk), 4) AS seasonal,
        |  round(CASE WHEN c7 = 7 THEN CAST(dt7 AS DOUBLE) / 7
        |    - (CAST(sd AS DOUBLE) / (7 * k)
        |       - CAST(tsd AS DOUBLE) / (7 * tk)) END, 4) AS residual
        |FROM q LEFT JOIN da ON q.t = da.t AND q.dow = da.dow
        |LEFT JOIN ta ON q.t = ta.t
        |ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), epochDay.as("d"))
        .agg(count(lit(1)).cast(LongType).as("n"))
      val w7 = Window.partitionBy("t").orderBy("d").rowsBetween(-3, 3)
      val q = g
        .withColumn("s7", sum("n").over(w7).cast(LongType))
        .withColumn("c7", count(lit(1)).over(w7).cast(LongType))
        .withColumn("dow", pmod(col("d") + 4, lit(7)))
        .withColumn("dt7", when(col("c7") === 7, lit(7) * col("n") - col("s7")))
      val full = q.filter(col("c7") === 7)
      val da = full.groupBy("t", "dow")
        .agg(sum("dt7").cast(LongType).as("sd"),
          count(lit(1)).cast(LongType).as("k"))
      val ta = full.groupBy("t")
        .agg(sum("dt7").cast(LongType).as("tsd"),
          count(lit(1)).cast(LongType).as("tk"))
      val seasonal = col("sd").cast(DoubleType) / (lit(7) * col("k")) -
        col("tsd").cast(DoubleType) / (lit(7) * col("tk"))
      q.join(broadcast(da), Seq("t", "dow"), "left")
        .join(broadcast(ta), Seq("t"), "left")
        .select(col("t").as("event_type"), col("d"), col("n"),
          round(when(col("c7") === 7, col("s7").cast(DoubleType) / 7), 4)
            .as("trend"),
          round(seasonal, 4).as("seasonal"),
          round(when(col("c7") === 7,
            col("dt7").cast(DoubleType) / 7 - seasonal), 4).as("residual"))
        .orderBy("event_type", "d")
    },

    // ---- #156 trailing-window z-score anomaly screen ------------------------
    // The monitoring-stack anomaly pass: per (type, day) the daily cents
    // total, z-scored against its own trailing 7-day ROWS frame. Facts
    // collapse ONCE to the day grain (the volume-proportional step); the
    // frame statistics then ride windows over GRAIN rows (≤ calendar days
    // per type — bounded by time, not data). Σs² accumulates in
    // DECIMAL(38,0)/HUGEINT (daily totals are corpus-scale; their squares
    // overflow int64 at 100 TB), variance/z is ONE identical IEEE
    // expression both sides → round(·,4); a zero-variance frame yields
    // NULL z on both engines.
    "anomaly_zscore" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, CAST(d AS BIGINT) AS d, CAST(SUM(c) AS BIGINT) AS s
        |      FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, d, s,
        |    CAST(SUM(s) OVER tw AS BIGINT) AS sw,
        |    CAST(SUM(CAST(s AS HUGEINT) * s) OVER tw AS DOUBLE) AS sww,
        |    CAST(COUNT(*) OVER tw AS BIGINT) AS k
        |  FROM g
        |  WINDOW tw AS (PARTITION BY t ORDER BY d
        |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT t AS event_type, d, s,
        |  round(CASE WHEN sww - CAST(sw AS DOUBLE) * sw / k > 0 THEN
        |    (s - CAST(sw AS DOUBLE) / k)
        |    / sqrt((sww - CAST(sw AS DOUBLE) * sw / k) / (k - 1)) END, 4) AS z
        |FROM w WHERE k = 7 ORDER BY t, d""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), epochDay.as("d"), centsL.as("c"))
        .groupBy("t", "d").agg(sum("c").cast(LongType).as("s"))
      val tw = Window.partitionBy("t").orderBy("d").rowsBetween(-6, 0)
      val w = g
        .withColumn("sw", sum("s").over(tw).cast(LongType))
        .withColumn("sww",
          sum(col("s").cast(big) * col("s")).over(tw).cast(DoubleType))
        .withColumn("k", count(lit(1)).over(tw).cast(LongType))
      val swD = col("sw").cast(DoubleType)
      val varN = col("sww") - swD * col("sw") / col("k")
      val z = when(varN > 0,
        (col("s") - swD / col("k")) / sqrt(varN / (col("k") - 1)))
      w.filter(col("k") === 7)
        .select(col("t").as("event_type"), col("d"), col("s"),
          round(z, 4).as("z"))
        .orderBy("event_type", "d")
    },

    // ---- #157 lag-k autocorrelation of the daily series --------------------
    // Pearson r between the per-type daily cents total and its own lag at
    // k ∈ {1,2,3,7} — the seasonality/persistence diagnostic monitoring
    // stacks run over flush rollups. Facts collapse ONCE to the day grain;
    // ALL four lags ride ONE hashpartitioning(t) window exchange and stack
    // into (k, pair) rows with an inline explode (grain rows only — never
    // a per-k rescan, never a self-join on day-k). Moments accumulate in
    // DECIMAL(38,0)/HUGEINT (daily totals are corpus-scale, their products
    // overflow int64 at 100 TB); ONE IEEE expression → round(·,4); a
    // zero-variance side yields NULL on both engines.
    "autocorr_daily" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, d, CAST(SUM(c) AS BIGINT) AS s FROM f GROUP BY 1, 2),
        |l AS (
        |  SELECT t, s, lag(s, 1) OVER w AS l1, lag(s, 2) OVER w AS l2,
        |    lag(s, 3) OVER w AS l3, lag(s, 7) OVER w AS l7
        |  FROM g WINDOW w AS (PARTITION BY t ORDER BY d)),
        |u AS (
        |  SELECT t, 1 AS k, s, l1 AS sl FROM l
        |  UNION ALL SELECT t, 2, s, l2 FROM l
        |  UNION ALL SELECT t, 3, s, l3 FROM l
        |  UNION ALL SELECT t, 7, s, l7 FROM l),
        |m AS (
        |  SELECT t, k, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(s AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(sl AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(sl AS HUGEINT) * sl) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(s AS HUGEINT) * sl) AS DOUBLE) AS sxy
        |  FROM u WHERE sl IS NOT NULL GROUP BY 1, 2)
        |SELECT t AS event_type, CAST(k AS BIGINT) AS k, n AS n_pairs,
        |  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN (n * sxy - sx * sy)
        |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 4)
        |    AS autocorr
        |FROM m ORDER BY event_type, k""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), epochDay.as("d"), centsL.as("c"))
        .groupBy("t", "d").agg(sum("c").cast(LongType).as("s"))
      val w = Window.partitionBy("t").orderBy("d")
      val lags = Seq(1, 2, 3, 7)
      val l = g.select(col("t") +: col("s") +:
        lags.map(k => lag(col("s"), k).over(w).as(s"l$k")): _*)
      val u = l
        .select(col("t"), col("s"), explode(array(lags.map(k =>
          struct(lit(k.toLong).as("k"), col(s"l$k").as("sl"))): _*)).as("p"))
        .select(col("t"), col("p.k").as("k"), col("s"), col("p.sl").as("sl"))
        .filter(col("sl").isNotNull)
      val m = u.groupBy("t", "k").agg(
        count(lit(1)).as("n"),
        sum(col("s").cast(big)).cast(DoubleType).as("sx"),
        sum(col("sl").cast(big)).cast(DoubleType).as("sy"),
        sum(col("s").cast(big) * col("s")).cast(DoubleType).as("sxx"),
        sum(col("sl").cast(big) * col("sl")).cast(DoubleType).as("syy"),
        sum(col("s").cast(big) * col("sl")).cast(DoubleType).as("sxy"))
      val nD = col("n").cast(DoubleType)
      val vx = nD * col("sxx") - col("sx") * col("sx")
      val vy = nD * col("syy") - col("sy") * col("sy")
      val r = when(vx > 0 && vy > 0,
        (nD * col("sxy") - col("sx") * col("sy")) / sqrt(vx * vy))
      m.select(col("t").as("event_type"), col("k"),
        col("n").cast(LongType).as("n_pairs"), round(r, 4).as("autocorr"))
        .orderBy("event_type", "k")
    },

    // ---- #164 inter-arrival time quantiles ---------------------------------
    // Exact p50/p90/p99 of the per-user inter-event gap (seconds),
    // attributed to the later event's type — the latency-distribution
    // twin of sessionize: the lag rides ONE hashpartitioning(user_id)
    // exchange, gaps collapse to the (type, gap-second) value grain, and
    // rank selection rides per-type grain windows (mad_exact discipline —
    // never partition-less). Gap arithmetic is exact integer µs → integer
    // `div` seconds (IEEE-free, engine-identical); ranks are nearest-rank
    // integers.
    "interarrival_quantiles" -> OpDef(
      """WITH e AS (
        |  SELECT event_type AS t, user_id, epoch_us(ts) AS us, event_id
        |  FROM events),
        |l AS (
        |  SELECT t, us - lag(us) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
        |  FROM e),
        |f AS (SELECT t, gap_us // 1000000 AS gs FROM l WHERE gap_us IS NOT NULL),
        |g AS (SELECT t, gs, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT t, gs, cnt,
        |    SUM(cnt) OVER (PARTITION BY t ORDER BY gs) AS cum,
        |    SUM(cnt) OVER (PARTITION BY t) AS n
        |  FROM g)
        |SELECT t AS event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.50 * n) THEN gs END) AS BIGINT)
        |    AS p50_s,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.90 * n) THEN gs END) AS BIGINT)
        |    AS p90_s,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.99 * n) THEN gs END) AS BIGINT)
        |    AS p99_s
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val lagW = Window.partitionBy("user_id").orderBy("us", "event_id")
      val l = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_id"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(lagW))
        .filter(col("gap_us").isNotNull)
        .select(col("t"), parity.floorDiv(col("gap_us"), 1000000L).as("gs"))
      val g = l.groupBy("t", "gs").agg(count(lit(1)).as("cnt"))
      val cumW = Window.partitionBy("t").orderBy("gs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = g
        .withColumn("cum", sum("cnt").over(cumW))
        .withColumn("n", sum("cnt").over(Window.partitionBy("t")))
      def sel(q: Double): Column =
        min(when(col("cum") >= ceil(lit(q) * col("n")), col("gs")))
          .cast(LongType)
      w.groupBy("t").agg(max("n").cast(LongType).as("n_gaps"),
        sel(0.50).as("p50_s"), sel(0.90).as("p90_s"), sel(0.99).as("p99_s"))
        .select(col("t").as("event_type"), col("n_gaps"), col("p50_s"),
          col("p90_s"), col("p99_s"))
        .orderBy("event_type")
    },

    // ---- #171 trailing-7-day exact moving median ---------------------------
    // Exact lower-median of each type's daily cents totals over a trailing
    // 7-row frame — the robust twin of anomaly_zscore's mean/σ screen.
    // Facts collapse ONCE to the day grain; the frame median is
    // sort_array(collect_list) over ≤7 BIGINTs per grain row (constant
    // work, rides the same hashpartitioning(t) window exchange).
    // Integer cents end to end — no float, no clamp.
    "moving_median_7d" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, CAST(d AS BIGINT) AS d, CAST(SUM(c) AS BIGINT) AS s
        |      FROM f GROUP BY 1, 2)
        |SELECT t AS event_type, d, s,
        |  CAST(quantile_disc(s, 0.5) OVER (PARTITION BY t ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS med7
        |FROM g ORDER BY t, d""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), epochDay.as("d"), centsL.as("c"))
        .groupBy("t", "d").agg(sum("c").cast(LongType).as("s"))
      val tw = Window.partitionBy("t").orderBy("d").rowsBetween(-6, 0)
      val arr = sort_array(collect_list("s").over(tw))
      g.withColumn("med7",
          element_at(arr, ((size(arr) + 1) / 2).cast(IntegerType))
            .cast(LongType))
        .select(col("t").as("event_type"), col("d"), col("s"), col("med7"))
        .orderBy("event_type", "d")
    },

    // ---- #176 diurnal profile ----------------------------------------------
    // Per (type, hour-of-day): event count, share of the type's volume,
    // and a peak flag — the 24-cell daily-rhythm profile behind alerting
    // baselines. ONE collapse to the ≤120-cell grain; share and peak ride
    // grain windows (argmax by (n, hour) tie-break so the flag is
    // engine-stable); exact integers, one divide → round(·,4).
    "hour_profile" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t, date_part('hour', ts) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT t, CAST(h AS BIGINT) AS h, n,
        |    CAST(SUM(n) OVER (PARTITION BY t) AS BIGINT) AS nt,
        |    row_number() OVER (PARTITION BY t ORDER BY n DESC, h) AS rk
        |  FROM g)
        |SELECT t AS event_type, h, n,
        |  round(CAST(n AS DOUBLE) / nt, 4) AS share,
        |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_peak
        |FROM w ORDER BY t, h""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          hour(col("ts")).cast(LongType).as("h"))
        .agg(count(lit(1)).as("n"))
      val tp = Window.partitionBy("t")
      val w = g
        .withColumn("nt", sum("n").over(tp).cast(LongType))
        .withColumn("rk", row_number().over(
          tp.orderBy(col("n").desc, col("h"))))
      w.select(col("t").as("event_type"), col("h"), col("n"),
        round(col("n").cast(DoubleType) / col("nt"), 4).as("share"),
        when(col("rk") === 1, 1L).otherwise(0L).as("is_peak"))
        .orderBy("event_type", "h")
    },

    // ---- #275 (dow × hour) activity heatmap with independence residuals ----
    // The joint weekly rhythm hour_profile (#176) and dow_seasonality
    // (#178) each see only marginally: counts on the ≤168-cell
    // (day-of-week, hour) grid plus the Pearson residual
    // (n − e)/√e against the independence expectation
    // e = row_tot·col_tot/total — the cell-level read-out of a χ²
    // independence test (the cramers_v machinery, kept per-cell), which is
    // what flags "Friday 18:00 is hotter than dow×hour margins explain".
    // ONE fact collapse to the fixed 168-cell grain; both margins and the
    // total ride grain windows (constant rows); counts are exact BIGINTs
    // and the residual is one fixed IEEE chain (mul, div, sub, sqrt, div)
    // → round(·,4).
    "dow_hour_heatmap" -> OpDef(
      """WITH g AS (
        |  SELECT date_part('dow', CAST(ts AS DATE)) AS dow,
        |    date_part('hour', ts) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT CAST(dow AS BIGINT) AS dow, CAST(h AS BIGINT) AS h, n,
        |    CAST(SUM(n) OVER (PARTITION BY dow) AS BIGINT) AS row_tot,
        |    CAST(SUM(n) OVER (PARTITION BY h) AS BIGINT) AS col_tot,
        |    CAST(SUM(n) OVER () AS BIGINT) AS tot
        |  FROM g)
        |SELECT dow, h, n,
        |  round(CAST(row_tot AS DOUBLE) * col_tot / tot, 4) AS expected,
        |  round((n - CAST(row_tot AS DOUBLE) * col_tot / tot)
        |        / sqrt(CAST(row_tot AS DOUBLE) * col_tot / tot), 4)
        |    AS pearson_resid
        |FROM w ORDER BY dow, h""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .groupBy(
          (dayofweek(col("ts").cast(DateType)) - 1).cast(LongType).as("dow"),
          hour(col("ts")).cast(LongType).as("h"))
        .agg(count(lit(1)).as("n"))
      val w = g
        .withColumn("row_tot", sum("n").over(Window.partitionBy("dow"))
          .cast(LongType))
        .withColumn("col_tot", sum("n").over(Window.partitionBy("h"))
          .cast(LongType))
        .withColumn("tot", sum("n").over(Window.partitionBy()).cast(LongType))
      val e = col("row_tot").cast(DoubleType) * col("col_tot") / col("tot")
      w.select(col("dow"), col("h"), col("n").cast(LongType).as("n"),
          round(e, 4).as("expected"),
          round((col("n") - e) / sqrt(e), 4).as("pearson_resid"))
        .orderBy("dow", "h")
    },

    // ---- #178 day-of-week seasonality factors ------------------------------
    // factor(t, dow) = mean(cents | t, dow) / mean(cents | t) — the
    // multiplicative weekday profile behind seasonal baselines (the
    // deseasonalization twin of hour_profile's count shares). ONE collapse
    // to the ≤35-cell (type, dow) grain; the type margin rides a grain
    // window; both means are exact-integer ratios, the factor is ONE
    // IEEE chain → round(·,4).
    "dow_seasonality" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t, date_part('dow', CAST(ts AS DATE)) AS dow,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS s
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT t, CAST(dow AS BIGINT) AS dow, n, s,
        |    CAST(SUM(n) OVER (PARTITION BY t) AS BIGINT) AS nt,
        |    CAST(SUM(CAST(s AS HUGEINT)) OVER (PARTITION BY t) AS BIGINT) AS st
        |  FROM g)
        |SELECT t AS event_type, dow, n,
        |  round((CAST(s AS DOUBLE) / n)
        |    / (CAST(st AS DOUBLE) / nt), 4) AS factor
        |FROM w ORDER BY t, dow""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"),
          (dayofweek(col("ts").cast(DateType)) - 1).cast(LongType).as("dow"))
        .agg(count(lit(1)).as("n"), sum(centsL).cast(LongType).as("s"))
      val tp = Window.partitionBy("t")
      val w = g
        .withColumn("nt", sum("n").over(tp).cast(LongType))
        .withColumn("st", sum(col("s").cast(big)).over(tp).cast(LongType))
      w.select(col("t").as("event_type"), col("dow"), col("n"),
        round((col("s").cast(DoubleType) / col("n"))
          / (col("st").cast(DoubleType) / col("nt")), 4).as("factor"))
        .orderBy("event_type", "dow")
    },

    // ---- #181 burstiness (Fano factor / index of dispersion) ---------------
    // Per type: is daily volume Poisson-like (Fano ≈ 1) or bursty
    // (Fano ≫ 1)? Facts collapse ONCE to the day grain; the population
    // variance comes from exact DECIMAL(38,0)/HUGEINT power sums over
    // grain rows (calendar-bounded); Fano = var/mean and CV are ONE IEEE
    // chain → round(·,4).
    "burstiness" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(CAST(n AS HUGEINT)) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE) AS q
        |  FROM g GROUP BY 1)
        |SELECT t AS event_type, k AS n_days,
        |  round(s / k, 4) AS mean_daily,
        |  round((q / k - (s / k) * (s / k)) / (s / k), 4) AS fano,
        |  round(sqrt(q / k - (s / k) * (s / k)) / (s / k), 4) AS cv
        |FROM m ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), epochDay.as("d"))
        .groupBy("t", "d").agg(count(lit(1)).as("n"))
      val m = g.groupBy("t").agg(
        count(lit(1)).cast(LongType).as("k"),
        sum(col("n").cast(big)).cast(DoubleType).as("s"),
        sum(col("n").cast(big) * col("n")).cast(DoubleType).as("q"))
      val mean = col("s") / col("k")
      val varP = col("q") / col("k") - mean * mean
      m.select(col("t").as("event_type"), col("k").as("n_days"),
        round(mean, 4).as("mean_daily"),
        round(varP / mean, 4).as("fano"),
        round(sqrt(varP) / mean, 4).as("cv"))
        .orderBy("event_type")
    },

    // ---- #190 week-over-week revenue change --------------------------------
    // Per type per 7-day bucket: exact cents total and the WoW % change —
    // the trend read-out monitoring dashboards lead with. Facts collapse
    // ONCE to the week grain (day div 7 — pure integer bucketing, no
    // calendar-library week numbering whose ISO edge rules differ across
    // engines); the lag rides a per-type grain window; the % change is
    // one divide → round(·,4), NULL for each type's first week.
    "week_over_week" -> OpDef(
      """WITH f AS (
        |  SELECT event_type AS t,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |g AS (SELECT t, CAST(wk AS BIGINT) AS wk, CAST(SUM(c) AS BIGINT) AS s
        |      FROM f GROUP BY 1, 2),
        |l AS (
        |  SELECT t, wk, s,
        |    lag(s) OVER (PARTITION BY t ORDER BY wk) AS prev
        |  FROM g)
        |SELECT t AS event_type, wk, s AS week_cents,
        |  round((CAST(s AS DOUBLE) - prev) / prev, 4) AS wow_pct
        |FROM l ORDER BY t, wk""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"),
          parity.floorDiv(
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")), 7)
            .as("wk"),
          centsL.as("c"))
        .groupBy("t", "wk").agg(sum("c").cast(LongType).as("s"))
      val prev = lag(col("s"), 1).over(Window.partitionBy("t").orderBy("wk"))
      g.withColumn("prev", prev)
        .select(col("t").as("event_type"), col("wk"),
          col("s").as("week_cents"),
          round((col("s").cast(DoubleType) - col("prev")) / col("prev"), 4)
            .as("wow_pct"))
        .orderBy("event_type", "wk")
    },

    // ---- #225 sparkbar (CH sparkbar surface) -------------------------------
    // The per-type daily-count series rendered as a block-glyph sparkline
    // — CH's dashboard one-liner. Counts collapse to the (type, day)
    // grain; the glyph level is EXACT integer (c·7)//max (both engines
    // truncate non-negatives identically); the bar is an ordered
    // string_agg over the grain — and glyphs come from element_at on a
    // literal array (Spark's chr() is ASCII-only, so no codepoint
    // arithmetic on either engine).
    "sparkbar" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT t, d, c, MAX(c) OVER (PARTITION BY t) AS mx FROM g)
        |SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MAX(mx) AS BIGINT) AS max_day_count,
        |  string_agg(['▁','▂','▃','▄','▅','▆','▇','█'][(c * 7) // mx + 1],
        |    '' ORDER BY d) AS bar
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val glyphs = array(Seq("▁", "▂", "▃", "▄", "▅", "▆", "▇", "█")
        .map(lit): _*)
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), epochDay.as("d"))
        .groupBy("t", "d").agg(count(lit(1)).as("c"))
      val m = g.withColumn("mx", max("c").over(Window.partitionBy("t")))
      // (c·7)//mx: non-negative → truncation == floor on both engines
      m.select(col("t"), col("d"), col("mx"),
          element_at(glyphs,
            ((col("c") * 7) / col("mx")).cast(IntegerType) + 1).as("gl"))
        .groupBy("t")
        .agg(count(lit(1)).cast(LongType).as("n_days"),
          max("mx").cast(LongType).as("max_day_count"),
          concat_ws("", sort_array(collect_list(
            struct(col("d"), col("gl").as("gl")))).getField("gl")).as("bar"))
        .select(col("t").as("event_type"), col("n_days"),
          col("max_day_count"), col("bar"))
        .orderBy("event_type")
    },

    // ---- #230 LTTB downsample (CH largestTriangleThreeBuckets) -------------
    // Steinarsson's visual-fidelity downsampler over the per-type daily
    // cents series (M4's perceptual sibling): endpoints kept, each of 8
    // middle buckets contributes the point maximizing the triangle area
    // against the previous pick and the next bucket's mean. The argmax is
    // EXACT INTEGER (area scaled by the anchor bucket's count — see
    // [[graft.functions.LttbIdx]]), so the inherently sequential
    // selection chain is still bit-reproducible cross-engine: Spark runs
    // it as one compiled loop over the collapsed ≤days-per-type array
    // (a custom codegen Expression — per-GROUP narrow work, never fact
    // rows), the oracle as 8 unrolled argmax CTE steps in the same
    // integer arithmetic.
    "ts_downsample_lttb" -> OpDef(lttbOracleSql) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), epochDay.as("d"), centsL.as("c"))
        .groupBy("t", "d").agg(sum("c").cast(LongType).as("s"))
      val arr = g.groupBy("t")
        .agg(sort_array(collect_list(struct(col("d"), col("s")))).as("ps"))
        .select(col("t"), col("ps").getField("d").as("xs"),
          col("ps").getField("s").as("ys"))
      arr.select(col("t"), col("xs"), col("ys"),
          explode(call_function("lttb_idx", col("xs"), col("ys"), lit(10)))
            .as("pos"))
        .select(col("t").as("event_type"),
          element_at(col("xs"), col("pos") + 1).as("d"),
          element_at(col("ys"), col("pos") + 1).as("s_c"))
        .orderBy("event_type", "d")
    },

    // ---- #240 CUSUM changepoint per series ---------------------------------
    // The classic mean-shift detector: per type, the day k maximizing
    // |Σ_{i≤k}(x_i − x̄)| over the daily-count series — reported with the
    // statistic SCALED BY n (c_k = n·prefix_k − k·S), so the argmax runs
    // on exact integers; the float x̄ never exists and the argmax can
    // never flip on a 1-ulp boundary (the q2 lesson from the sf1 gate).
    // Facts collapse ONCE to the (type, day) grain; prefix/argmax windows
    // ride the calendar-bounded grain, never fact rows; n·S stays far
    // inside BIGINT at any SF (days × corpus count).
    "cusum_changepoint" -> OpDef(
      """WITH g AS (
        |  SELECT event_type AS t,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT t, d, x,
        |    SUM(x) OVER (PARTITION BY t ORDER BY d) AS pre,
        |    CAST(row_number() OVER (PARTITION BY t ORDER BY d) AS BIGINT)
        |      AS k,
        |    SUM(x) OVER (PARTITION BY t) AS s,
        |    CAST(COUNT(*) OVER (PARTITION BY t) AS BIGINT) AS n
        |  FROM g),
        |c AS (
        |  SELECT t, d, n,
        |    CAST(n * pre - k * s AS BIGINT) AS cusum,
        |    row_number() OVER (PARTITION BY t
        |      ORDER BY abs(CAST(n * pre - k * s AS BIGINT)) DESC, d) AS rk
        |  FROM w)
        |SELECT t AS event_type,
        |  strftime(DATE '1970-01-01' + to_days(CAST(d AS INTEGER)),
        |    '%Y-%m-%d') AS change_day,
        |  cusum AS cusum_scaled, n AS n_days
        |FROM c WHERE rk = 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val g = Tables(s, dir, "events")
        .select(col("event_type").as("t"), epochDay.as("d"))
        .groupBy("t", "d").agg(count(lit(1)).as("x"))
      val byT = Window.partitionBy("t")
      val w = g
        .withColumn("pre", sum("x").over(byT.orderBy("d")))
        .withColumn("k", row_number().over(byT.orderBy("d")).cast(LongType))
        .withColumn("s", sum("x").over(byT))
        .withColumn("n", count(lit(1)).over(byT).cast(LongType))
      val c = w
        .withColumn("cusum",
          (col("n") * col("pre") - col("k") * col("s")).cast(LongType))
        .withColumn("rk", row_number().over(
          byT.orderBy(abs(col("cusum")).desc, col("d"))))
      c.filter(col("rk") === 1)
        .select(col("t").as("event_type"),
          date_format(date_add(to_date(lit("1970-01-01")),
            col("d").cast(IntegerType)), "yyyy-MM-dd").as("change_day"),
          col("cusum").as("cusum_scaled"), col("n").as("n_days"))
        .orderBy("event_type")
    }
  )

  /** The unrolled-argmax LTTB oracle (nb = 8 middle buckets): recursion-free
    * SQL whose per-step integer area/tie-break arithmetic mirrors
    * [[graft.functions.LttbIdx.compute]] term for term.
    */
  private lazy val lttbOracleSql: String = {
    val NB = 8
    val area = "abs(a.cnt*s.d*b.s - s.d*a.sy + b.d*a.sy - a.cnt*b.d*s.s " +
      "+ a.sx*s.s - a.sx*b.s)"
    val steps = (0 until NB).map { k =>
      val prev = if (k == 0) "sel0" else s"w$k"
      s"""sel${k + 1} AS (
         |  SELECT s.t, arg_max(struct_pack(pos := b.pos, d := b.d, s := b.s),
         |    CAST($area AS HUGEINT) * 1000000 - b.pos) AS w
         |  FROM $prev s
         |  JOIN rng r ON r.t = s.t AND r.k = $k
         |  JOIN anch a ON a.t = s.t AND a.k = $k
         |  JOIN p b ON b.t = s.t AND b.pos BETWEEN r.lo AND r.hi
         |  GROUP BY 1),
         |w${k + 1} AS (SELECT t, (w).pos AS pos, (w).d AS d, (w).s AS s
         |              FROM sel${k + 1})""".stripMargin
    }.mkString(",\n")
    val unions = (1 to NB)
      .map(k => s"UNION ALL SELECT t, pos, d, s FROM w$k").mkString("\n  ")
    s"""WITH g AS (
       |  SELECT event_type AS t,
       |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
       |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS s
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT t, CAST(d AS BIGINT) AS d, s,
       |    CAST(row_number() OVER (PARTITION BY t ORDER BY d) - 1 AS BIGINT)
       |      AS pos,
       |    CAST(COUNT(*) OVER (PARTITION BY t) AS BIGINT) AS n
       |  FROM g),
       |c AS (SELECT DISTINCT t, n FROM p),
       |kk AS (SELECT unnest(generate_series(0, ${NB - 1})) AS k),
       |rng AS (
       |  SELECT c.t, kk.k, c.n,
       |    1 + (kk.k * (c.n - 2)) // $NB AS lo,
       |    ((kk.k + 1) * (c.n - 2)) // $NB AS hi
       |  FROM c, kk),
       |banch AS (
       |  SELECT r2.t, r2.k - 1 AS k, SUM(p.d) AS sx, SUM(p.s) AS sy,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM rng r2 JOIN p ON p.t = r2.t AND p.pos BETWEEN r2.lo AND r2.hi
       |  GROUP BY 1, 2),
       |anch AS (
       |  SELECT r.t, r.k,
       |    CASE WHEN r.k < ${NB - 1} THEN ba.sx ELSE lp.d END AS sx,
       |    CASE WHEN r.k < ${NB - 1} THEN ba.sy ELSE lp.s END AS sy,
       |    CASE WHEN r.k < ${NB - 1} THEN ba.cnt ELSE 1 END AS cnt
       |  FROM rng r
       |  LEFT JOIN banch ba ON ba.t = r.t AND ba.k = r.k
       |  LEFT JOIN (SELECT t, d, s FROM p WHERE pos = n - 1) lp
       |    ON lp.t = r.t),
       |sel0 AS (SELECT t, pos, d, s FROM p WHERE pos = 0),
       |$steps,
       |allsel AS (
       |  SELECT t, pos, d, s FROM sel0
       |  $unions
       |  UNION ALL SELECT t, pos, d, s FROM p WHERE pos = n - 1)
       |SELECT t AS event_type, d, s AS s_c FROM allsel ORDER BY 1, 2""".stripMargin
  }
}
